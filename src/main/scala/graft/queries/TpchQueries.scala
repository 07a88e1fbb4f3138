package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Classic TPC-H-shaped analytics (Q1/Q3/Q5 adapted to the testdata schema)
  * — the "switchover completeness" set: a consumer of the reference's
  * BigQuery layer runs exactly this class of query against the core layer.
  *
  * Determinism per SURVEY §4: whole-table sums round(4) (wider margin than
  * the per-group round(6) aggregates), averages = rounded-sum / count (raw
  * quotient), LIMIT always under a total ORDER.
  */
object TpchQueries {

  /** Q1: pricing summary report. */
  def q1(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) <= lit("2000-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (round(sum(col("l_extendedprice")), 4) / count(lit(1))).as("avg_price"),
        (round(sum(col("l_discount")), 6) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q3: shipping-priority candidates (top 10 by revenue). */
  def q3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-03-15"
    Tables.load(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .where(to_date(col("o_orderdate")) < lit(cutoff))
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(to_date(col("l_shipdate")) > lit(cutoff))
      .groupBy(col("l_orderkey"),
        to_date(col("o_orderdate")).as("order_date"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q5: local-supplier volume by nation within a region-year. */
  def q5(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "region").where(col("r_name") === "ASIA")
      .join(Tables.load(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.load(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
      .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .where(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
             to_date(col("o_orderdate")) < lit("1997-01-01"))
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.load(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** Q10: returned-item reporting — top 20 customers by lost revenue. */
  def q10(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .where(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
             to_date(col("o_orderdate")) < lit("1996-04-01"))
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(col("l_returnflag") === "R")
      .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Q4: order-priority checking — orders with at least one flagged
    * lineitem (EXISTS → left-semi join; adapted: the testdata has no
    * l_commitdate, so "late" becomes "returned"). */
  def q4(s: SparkSession, dir: String): DataFrame = {
    val late = Tables.load(s, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    Tables.load(s, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
             to_date(col("o_orderdate")) < lit("1996-04-01"))
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q6: revenue-change forecast — one selective scan, no join. The filter
    * must reach the parquet scan (PushedFilters), which is the point. */
  def q6(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit("1996-01-01") &&
             to_date(col("l_shipdate")) < lit("1997-01-01") &&
             col("l_discount").between(0.05, 0.07) &&
             col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))

  /** Q14: promotion effect — conditional aggregation over a join. */
  def q14(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.load(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit("1996-03-01") &&
             to_date(col("l_shipdate")) < lit("1996-04-01"))
      .join(broadcast(Tables.load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    joined.agg(
      (lit(100.0) *
        round(sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))), 4) /
        round(sum(rev), 4)).as("promo_revenue_pct"))
  }

  /** Q7: volume shipping between two nations — revenue by (supplier
    * nation, customer nation, year) for a nation pair, either direction. */
  def q7(s: SparkSession, dir: String): DataFrame = {
    val n1 = "NATION_9"
    val n2 = "NATION_10"
    // pre-filter BOTH nation dims to the pair before the big joins — the
    // direction OR below can't push through a 5-way join, and without this
    // every nation's suppliers/customers would flow through the chain
    val custNation = Tables.load(s, dir, "nation").where(col("n_name").isin(n1, n2))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val suppNation = Tables.load(s, dir, "nation").where(col("n_name").isin(n1, n2))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    Tables.load(s, dir, "supplier")
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .join(Tables.load(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
      .where((col("supp_nation") === n1 && col("cust_nation") === n2) ||
             (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8: national market share — a nation's revenue fraction within a
    * region-restricted part market, per order year. Ratio of two rounded
    * sums (SURVEY §4: round the sums, emit the raw quotient). */
  def q8(s: SparkSession, dir: String): DataFrame = {
    val asiaCustomers = Tables.load(s, dir, "customer")
      .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part").where(col("p_type").startsWith("ECONOMY"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(asiaCustomers, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((round(sum(when(col("supp_nation") === "NATION_9", rev).otherwise(lit(0.0))), 4) /
            round(sum(rev), 4)).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q12: shipmode-ish priority classes per month (adapted: no shipmode
    * column — classifies by order priority urgency instead). */
  def q12(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .where(to_date(col("l_shipdate")) >= lit("1997-01-01") &&
             to_date(col("l_shipdate")) < lit("1998-01-01"))
      .groupBy(month(col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("ship_month")

  /** Q13: customer order-count distribution — left join preserving
    * zero-order customers, then a histogram of counts. Two shuffles
    * (custkey, then count) — both on shrinking data. */
  def q13(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .join(Tables.load(s, dir, "orders").where(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q15: top supplier — quarter revenue per supplier, keep the max via a
    * broadcast one-row join (no global sort). The per-supplier relation is
    * referenced twice (max + join), so it is pinned:
    * ONE scan of lineitem feeds both, instead of Catalyst planning the
    * whole scan+aggregate twice. */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val rev = Materialize.pin(Tables.load(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit("1996-01-01") &&
             to_date(col("l_shipdate")) < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("total_revenue")))
    rev.join(broadcast(rev.agg(max(col("total_revenue")).as("m"))),
        col("total_revenue") === col("m"))
      .drop("m")
      .join(broadcast(Tables.load(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q17: small-quantity-order revenue — the correlated per-part AVG
    * subquery becomes a partial aggregate joined back on partkey (computed
    * only over the brand's parts, which the outer filter restricts to
    * anyway). l_quantity is integral so the 0.2*avg threshold is exact IEEE
    * on both engines. Adapted: p_size <= 5 stands in for the container
    * filter (no p_container column). */
  def q17(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(
      Tables.load(s, dir, "part").where(col("p_brand") === "Brand#3" && col("p_size") <= 5)
        .select(col("p_partkey")))
    // referenced twice (threshold aggregate + final filter) — one scan,
    // and the pinned relation is already brand-pruned tiny
    val li = Materialize.pin(Tables.load(s, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("l_quantity"), col("l_extendedprice")))
    val perPart = li.groupBy(col("p_partkey").as("t_partkey"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_threshold"))
    li.join(broadcast(perPart), col("p_partkey") === col("t_partkey"))
      .where(col("l_quantity") < col("qty_threshold"))
      .agg((round(sum(col("l_extendedprice")), 4) / lit(7.0)).as("avg_yearly"))
  }

  /** Q18: large-volume customers — HAVING on an order-grain rollup, then
    * enrich with customer/order detail. The rollup shrinks lineitem to
    * qualifying orderkeys BEFORE the joins. */
  def q18(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > 150)
    Tables.load(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"), col("o_totalprice"),
        col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q19: discounted revenue — three disjunctive brand/size/quantity
    * branches. The OR of ANDs stays a single scan+broadcast-join; the
    * shared l_quantity bounds push to the parquet scan. Adapted: p_size
    * ranges stand in for the container lists. */
  def q19(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))

  /** Q21: suppliers who kept orders waiting — adapted to the reduced
    * schema: within finished ('F') orders, count per supplier the returned
    * lineitems where ANOTHER supplier also shipped on the order (EXISTS →
    * left-semi) but NO OTHER supplier returned (NOT EXISTS → left-anti).
    * Both probes are equi-joins on orderkey, candidate-only. */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      col("l_returnflag"))
    val failed = li.where(col("l_returnflag") === "R")
    val others = li.select(col("l_orderkey").as("o2_ok"), col("l_suppkey").as("o2_sk"))
    val othersReturned = failed.select(col("l_orderkey").as("o3_ok"),
      col("l_suppkey").as("o3_sk"))
    failed
      .join(Tables.load(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(others, col("l_orderkey") === col("o2_ok") &&
        col("l_suppkey") =!= col("o2_sk"), "left_semi")
      .join(othersReturned, col("l_orderkey") === col("o3_ok") &&
        col("l_suppkey") =!= col("o3_sk"), "left_anti")
      .join(broadcast(Tables.load(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Q22: global sales opportunity — rich-but-inactive customers per
    * nation. The positive-balance average rides as a broadcast one-row
    * join; cents-exact integer sums make the threshold engine-portable
    * (c_acctbal is 2dp, so round(bal*100) sums exactly). The no-orders
    * probe is a left-anti join. Adapted: c_nationkey stands in for the
    * phone country code, and "inactive" means no order since 2000-01-01
    * (every customer in this corpus has SOME order, so the literal
    * no-orders-ever predicate selects nothing). */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq(1, 3, 5, 7, 9, 11, 13)
    val cust = Tables.load(s, dir, "customer").where(col("c_nationkey").isin(keys: _*))
    val avgCents = cust.where(col("c_acctbal") > 0.0)
      .agg((sum(round(col("c_acctbal") * 100, 0).cast("long")) /
            count(lit(1))).as("avg_cents"))
    cust
      .join(broadcast(avgCents),
        round(col("c_acctbal") * 100, 0).cast("long") > col("avg_cents"))
      .join(Tables.load(s, dir, "orders")
          .where(to_date(col("o_orderdate")) >= lit("2000-01-01"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 4).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** Q2: minimum-cost supplier — the testdata has no partsupp table, so the
    * supply relation derives from OBSERVED sales: per (part, supplier) the
    * minimum unit price that supplier charged (min is exact selection, not
    * accumulation — identical across engines). The correlated per-part MIN
    * becomes a partial aggregate joined back (same treatment as q17's AVG);
    * region-restricted suppliers broadcast. */
  def q2(s: SparkSession, dir: String): DataFrame = {
    // referenced twice (per-part MIN + final equality filter) — one scan
    // of the part-pruned supply relation (q15/q17 treatment)
    val joined = Materialize.pin(q2PrunedSupply(s, dir))
    val minCost = joined.groupBy(col("p_partkey").as("mc_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    // no broadcast hint: minCost is one row PER QUALIFYING PART — tiny at
    // gate scale but part-bounded, not schema-bounded, so a forced hint
    // would OOM the driver at extreme SF where AQE would have picked a
    // shuffled join (it still broadcasts when the runtime size allows)
    joined
      .join(minCost,
        col("p_partkey") === col("mc_partkey") &&
          col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** q2's pre-pin supply relation — exposed so the ScaleShapeSpec plan
    * guard can audit the shape that the pin hides from the final frame
    * (post-pin it reads as a Scan ExistingRDD). */
  private[graft] def q2PrunedSupply(s: SparkSession, dir: String): DataFrame = {
    val supply = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(round(min(col("l_extendedprice") / col("l_quantity")), 4)
        .as("ps_supplycost"))
    val euroSupp = Tables.load(s, dir, "supplier")
      .join(broadcast(Tables.load(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region").where(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    broadcast(
        Tables.load(s, dir, "part").where(col("p_size") <= 10 && col("p_type") === "ECONOMY")
          .select(col("p_partkey")))
      .join(supply, col("p_partkey") === col("ps_partkey"))
      .join(broadcast(euroSupp), col("ps_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("s_name"), col("s_acctbal"), col("n_name"),
        col("ps_supplycost"))
  }

  /** Q9: product-type profit by nation-year — no ps_supplycost, so cost is
    * modeled from the part's list price (0.5 × p_retailprice × quantity);
    * the shape (5-way join, per-row profit expression, nation-year rollup)
    * is the point. */
  def q9(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part").where(col("p_name").contains("gear"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.load(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - lit(0.5) * col("p_retailprice") * col("l_quantity")), 4).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  /** Q11: important stock — per-part "stock value" derives from the sales
    * one nation's suppliers made of it; keep parts above a fraction of that
    * nation's total. Cents-exact longs (like q22) make both the per-part
    * sums and the global threshold integer-deterministic; the threshold
    * rides a broadcast one-row join. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.load(s, dir, "supplier")
      .join(broadcast(Tables.load(s, dir, "nation").where(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // referenced twice (threshold total + final filter) — one scan, and the
    // pinned relation is per-part tiny (same treatment as q15/q17)
    val perPart = Materialize.pin(Tables.load(s, dir, "lineitem")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("value_cents")))
    perPart
      .join(broadcast(perPart.agg(sum(col("value_cents")).as("total_cents"))),
        col("value_cents") > col("total_cents") / lit(1000))
      .select(col("p_partkey"), round(col("value_cents") / 100.0, 2).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** Q16: parts/supplier relationship — supplier variety per (brand, type,
    * size) bucket over the observed supplier-part pairs, excluding
    * "complaint" suppliers (negative balance stands in for the comment
    * scan). Distinct pairs shrink lineitem before any join; the exclusion
    * is a broadcast anti-join. */
  def q16(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val complained = Tables.load(s, dir, "supplier").where(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    broadcast(Tables.load(s, dir, "part")
        .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49)))
      .join(pairs, col("p_partkey") === col("l_partkey"))
      .join(broadcast(complained), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q20: potential part promotion — suppliers holding "excess stock" of
    * small-name parts: more quantity shipped OUTSIDE the target year than
    * half of what they moved in it (availqty modeled from observed flow;
    * quantities are integral so the 0.5× threshold is exact). One
    * conditional aggregate over the part-pruned lineitem, then semi-joins
    * up the supplier→nation→region chain. */
  def q20(s: SparkSession, dir: String): DataFrame = {
    val in96 = to_date(col("l_shipdate")) >= lit("1996-01-01") &&
      to_date(col("l_shipdate")) < lit("1997-01-01")
    val excess = Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part").where(col("p_name").startsWith("small"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        sum(when(in96, col("l_quantity")).otherwise(lit(0.0))).as("qty_96"),
        sum(when(!in96, col("l_quantity")).otherwise(lit(0.0))).as("qty_other"))
      .where(col("qty_96") > 0 && col("qty_other") > lit(0.5) * col("qty_96"))
      .select(col("l_suppkey")).distinct()
    Tables.load(s, dir, "supplier")
      .join(broadcast(Tables.load(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(excess), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy("s_name")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_q2" -> (q2 _),
    "tpch_q9" -> (q9 _),
    "tpch_q11" -> (q11 _),
    "tpch_q16" -> (q16 _),
    "tpch_q20" -> (q20 _),
    "tpch_q13" -> (q13 _),
    "tpch_q15" -> (q15 _),
    "tpch_q17" -> (q17 _),
    "tpch_q18" -> (q18 _),
    "tpch_q19" -> (q19 _),
    "tpch_q21" -> (q21 _),
    "tpch_q22" -> (q22 _),
    "tpch_q1" -> (q1 _),
    "tpch_q3" -> (q3 _),
    "tpch_q4" -> (q4 _),
    "tpch_q5" -> (q5 _),
    "tpch_q6" -> (q6 _),
    "tpch_q7" -> (q7 _),
    "tpch_q8" -> (q8 _),
    "tpch_q10" -> (q10 _),
    "tpch_q12" -> (q12 _),
    "tpch_q14" -> (q14 _)
  )

  val oracle: Map[String, String] = Map(
    "tpch_q2" ->
      """WITH supply AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |                round(min(l_extendedprice / l_quantity), 4) AS ps_supplycost
        |                FROM lineitem GROUP BY 1, 2),
        | es AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |        JOIN region r ON n.n_regionkey = r.r_regionkey
        |        WHERE r.r_name = 'EUROPE'),
        | j AS (SELECT p.p_partkey, es.s_name, es.s_acctbal, es.n_name, sp.ps_supplycost
        |       FROM part p JOIN supply sp ON p.p_partkey = sp.ps_partkey
        |       JOIN es ON sp.ps_suppkey = es.s_suppkey
        |       WHERE p.p_size <= 10 AND p.p_type = 'ECONOMY'),
        | mc AS (SELECT p_partkey AS mc_partkey, min(ps_supplycost) AS min_cost
        |        FROM j GROUP BY 1)
        |SELECT j.s_acctbal, j.s_name, j.n_name, j.p_partkey, j.ps_supplycost
        |FROM j JOIN mc ON j.p_partkey = mc.mc_partkey AND j.ps_supplycost = mc.min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "tpch_q9" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)
        |            - 0.5 * p.p_retailprice * l.l_quantity), 4) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%gear%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "tpch_q11" ->
      """WITH v AS (SELECT l.l_partkey AS p_partkey,
        |             sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS value_cents
        |           FROM lineitem l
        |           WHERE l.l_suppkey IN (
        |             SELECT s.s_suppkey FROM supplier s
        |             JOIN nation n ON s.s_nationkey = n.n_nationkey
        |             WHERE n.n_name = 'NATION_7')
        |           GROUP BY 1),
        | tot AS (SELECT sum(value_cents) AS total_cents FROM v)
        |SELECT v.p_partkey, round(v.value_cents / 100.0, 2) AS value
        |FROM v, tot WHERE v.value_cents > tot.total_cents / 1000
        |ORDER BY value DESC, p_partkey""".stripMargin,

    "tpch_q16" ->
      """WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  count(DISTINCT sp.l_suppkey) AS supplier_cnt
        |FROM part p JOIN sp ON p.p_partkey = sp.l_partkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND sp.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "tpch_q20" ->
      """WITH qty AS (SELECT l.l_suppkey, l.l_partkey,
        |    sum(CASE WHEN CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        |              AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
        |             THEN l.l_quantity ELSE 0.0 END) AS qty_96,
        |    sum(CASE WHEN CAST(l.l_shipdate AS DATE) < DATE '1996-01-01'
        |              OR CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
        |             THEN l.l_quantity ELSE 0.0 END) AS qty_other
        |  FROM lineitem l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY 1, 2),
        | excess AS (SELECT DISTINCT l_suppkey FROM qty
        |            WHERE qty_96 > 0 AND qty_other > 0.5 * qty_96)
        |SELECT s.s_name, s.s_acctbal
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND s.s_suppkey IN (SELECT l_suppkey FROM excess)
        |ORDER BY s_name""".stripMargin,

    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey AS ck, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1) t
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,

    "tpch_q17" ->
      """WITH pr AS (SELECT p_partkey FROM part
        |            WHERE p_brand = 'Brand#3' AND p_size <= 5),
        | li AS (SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |        FROM lineitem l JOIN pr ON l.l_partkey = pr.p_partkey),
        | th AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
        |        FROM li GROUP BY 1)
        |SELECT round(sum(li.l_extendedprice), 4) / 7.0 AS avg_yearly
        |FROM li JOIN th ON li.l_partkey = th.l_partkey
        |WHERE li.l_quantity < th.qty_threshold""".stripMargin,

    "tpch_q18" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |             FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       CAST(o.o_orderdate AS DATE) AS order_date,
        |       o.o_totalprice, b.total_qty
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin,

    "tpch_q19" ->
      """SELECT round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q21" ->
      """SELECT s.s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "tpch_q22" ->
      """WITH cust AS (SELECT * FROM customer
        |              WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        | a AS (SELECT sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) * 1.0
        |              / count(*) AS avg_cents
        |       FROM cust WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |       round(sum(c_acctbal), 4) AS totacctbal
        |FROM cust, a
        |WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) > a.avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = cust.c_custkey
        |                    AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01')
        |GROUP BY 1 ORDER BY cntrycode""".stripMargin,

    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  round(sum(l_extendedprice), 4) / count(*) AS avg_price,
        |  round(sum(l_discount), 6) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
        |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "tpch_q3" ->
      """SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
        |  o.o_orderpriority,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
        |  AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "tpch_q12" ->
      """SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1 ORDER BY ship_month""".stripMargin,

    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INT) AS l_year,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM supplier s
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_10')
        |   OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_9')
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "tpch_q8" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_9'
        |                 THEN l.l_extendedprice * (1.0 - l.l_discount)
        |                 ELSE 0.0 END), 4)
        |    / round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS mkt_share
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |WHERE p.p_type LIKE 'ECONOMY%'
        |  AND EXISTS (SELECT 1 FROM customer c
        |              JOIN nation n ON c.c_nationkey = n.n_nationkey
        |              JOIN region r ON n.n_regionkey = r.r_regionkey
        |              WHERE c.c_custkey = o.o_custkey AND r.r_name = 'ASIA')
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "tpch_q14" ->
      """SELECT 100.0
        |  * round(sum(CASE WHEN p.p_type LIKE 'PROMO%'
        |                   THEN l.l_extendedprice * (1.0 - l.l_discount)
        |                   ELSE 0.0 END), 4)
        |  / round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS promo_revenue_pct
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-03-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1996-04-01'""".stripMargin,

    "tpch_q5" ->
      """SELECT n.n_name,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM region r
        |JOIN nation n ON r.r_regionkey = n.n_regionkey
        |JOIN customer c ON n.n_nationkey = c.c_nationkey
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
        |WHERE r.r_name = 'ASIA'
        |  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin
  )
}
