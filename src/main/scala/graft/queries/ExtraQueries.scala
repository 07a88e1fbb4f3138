package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators._

/** Round-1 extension queries: skew-salted aggregation, batch twin of the
  * streaming window agg, incremental SCD2 merge, approximate sketches
  * (SURVEY.md §2 additions; `q_approx` is a contract-verdict gate — HLL/KLL
  * internals are engine-specific, so accuracy vs exact values is checked
  * on every run and hash-oracled, see [[ContractGate]]).
  */
object ExtraQueries {

  /** Brand revenue via salted two-phase aggregation — value-identical to a
    * plain GROUP BY (the oracle IS the plain GROUP BY). round(_,4): these
    * are whole-table-scale sums, so leave a wider boundary margin than the
    * per-day aggregates (SURVEY §4). */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
      .withColumn("net", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    Salting.saltedSum(li, Seq("p_brand"), "net", saltFrom = "l_orderkey")
      .select(col("p_brand"), round(col("sum_net"), 4).as("revenue"), col("n_rows"))
      .orderBy("p_brand")
  }

  /** Batch twin of StreamOps.windowedEventAgg (same 1-hour tumbling windows,
    * same output contract, minus the watermark). */
  def eventsWindowed(s: SparkSession, dir: String): DataFrame =
    StarQueries.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")

  /** Batch twin of StreamOps.intervalJoin (identical operator code path —
    * watermarks no-op on batch): click → purchase attribution within 30
    * minutes per user. */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = StarQueries.events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.streaming.StreamOps.intervalJoin(clicks, purchases, "user_id", "30 minutes")
      .select(col("user_id"),
        col("event_id").as("click_id"), col("r_event_id").as("purchase_id"),
        col("ts").as("click_ts"), col("r_ts").as("purchase_ts"),
        col("r_value").as("value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** The reference's SCD2 day-merge (dim_customers.sql MERGE) through the
    * gate: initial snapshot dim + a synthetic day-2 snapshot (acct_bal bump
    * on every 7th customer) → expired versions + new current versions.
    * The merge-path surrogate key is gated too — `mergeSnapshot` emits
    * `md5(key:effective_date)`, which DuckDB reproduces verbatim. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("customer_id"), col("c_name").as("name"),
      col("c_nationkey").as("nation_key"), col("c_acctbal").as("acct_bal"),
      col("c_mktsegment").as("mkt_segment"))
    val dim0 = Scd2.snapshotDim(customer, "customer_id", "customer_sk")
      .drop("customer_sk")
    val snap = customer.withColumn("acct_bal",
      when(col("customer_id") % 7 === 0, col("acct_bal") + 10.0).otherwise(col("acct_bal")))
    Scd2.mergeSnapshot(dim0, snap, "customer_id",
        Seq("name", "nation_key", "acct_bal", "mkt_segment"), "2024-01-01")
      .select("customer_id", "name", "nation_key", "acct_bal", "mkt_segment",
              "effective_date", "expiration_date", "is_current", "sk")
      .orderBy("customer_id", "effective_date")
  }

  /** Approximate sketches, judged by contract verdicts ([[ContractGate]]):
    * the HLL++ / approx_percentile estimates are engine-specific, so the
    * gate runs them and checks each per-flag estimate against the EXACT
    * value computed in the same Spark job — distinct estimate within 3×
    * its configured rsd (0.02 → 0.06), approx median inside the exact
    * p49–p51 band (accuracy 1000 → rank error ≤ 0.1%, so the ±1%-rank
    * band strictly contains the returned data value). */
  def approxSketches(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    // PASS 1, one job with two independent branches (their stages run
    // concurrently): (a) the order-grain rollup — exact distinct count,
    // row count AND the HLL estimate in one two-phase aggregation (HLL
    // is duplicate-insensitive, so sketching the deduped keys yields the
    // identical estimate without the distinct-rewrite Expand the former
    // mixed countDistinct plan paid); (b) the percentile sketch, alone
    // in its optimal aggregate impl (profiled 2× faster than the former
    // mixed approx aggregate at sf0.1).
    val byOrder = li.groupBy(col("l_returnflag"), col("l_orderkey"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("nd"), sum(col("_c")).as("n"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .select(col("l_returnflag"), col("nd"), col("n"), col("approx_orders"),
        lit(null).cast("double").as("approx_median"))
    val pct = li.groupBy(col("l_returnflag"))
      .agg(round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 2)
        .cast("double").as("approx_median"))
      .select(col("l_returnflag"), lit(null).cast("long").as("nd"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("approx_orders"),
        col("approx_median"))
    val pass1 = byOrder.unionByName(pct).collect() // bounded: 2 rows per flag
    val approx = pass1.filter(!_.isNullAt(3))
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val medians = pass1.filter(!_.isNullAt(4))
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val counts = pass1.filter(!_.isNullAt(1))
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // PASS 2 — exact rank of each approx median, the corpusKll
    // discipline: probe the rank interval instead of materializing exact
    // percentiles; plain conditional sums, the distinct count already
    // rode pass 1
    import s.implicits._
    val probe = medians.toSeq.toDF("l_returnflag", "am")
    val ranks = li.join(broadcast(probe), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_extendedprice") < col("am"), 1L).otherwise(0L))
          .as("lt"),
        sum(when(col("l_extendedprice") <= col("am"), 1L).otherwise(0L))
          .as("le"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = counts.map { case (f, (nd, n)) =>
      val (lt, le) = ranks.getOrElse(f, (0L, 0L))
      f -> (nd, n, lt, le)
    }
    // approx_percentile accuracy 1000 → rank error ≤ 1e-3; ties widen
    // the admissible interval via the lt/le split
    val eps = 0.01
    val perFlag = exact.toSeq.sortBy(_._1).flatMap { case (f, (nd, n, lt, le)) =>
      approx.get(f).toSeq.flatMap { ao =>
        val rel = math.abs(ao - nd).toDouble / math.max(1L, nd)
        val (rLt, rLe) = (lt.toDouble / n, le.toDouble / n)
        Seq(
          (s"hll_rel_err($f)<=0.06", rel <= 0.06, ContractGate.obs(rel)),
          (s"median_rank($f)", 0.5 >= rLt - eps && 0.5 <= rLe + eps,
            f"rank_lt=$rLt%.4f rank_le=$rLe%.4f"))
      }
    }
    // medians come from the raw-row branch, counts from the order-grain
    // branch — two independent aggregations whose flag sets must agree
    ContractGate.verdicts(s, perFlag :+
      (("flags_match", medians.keySet == exact.keySet,
        s"approx=${medians.keySet.toSeq.sorted.mkString(",")} exact=${exact.keySet.toSeq.sorted.mkString(",")}")))
  }

  private val approxSketchesOracle: String = ContractGate.oracle(
    Seq("A", "N", "R").flatMap(f =>
      Seq(s"hll_rel_err($f)<=0.06", s"median_rank($f)")) :+ "flags_match")

  /** One-pass numeric profile of lineitem — the data-quality census as a
    * gate query, fully oracled (counts/min/max exact, sum round(4)). */
  def profileLineitem(s: SparkSession, dir: String): DataFrame =
    Profile.numeric(Tables.load(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Declarative data-quality report over lineitem — every check type
    * exercised, fully oracled; `range(l_tax,0.0,0.05)` is DELIBERATELY
    * too tight so the gate pins a failing row (pass=false with a real
    * violation count), not just an all-green report. */
  def dqCheck(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    run(Tables.load(s, dir, "lineitem"), Seq(
      NotNull("l_orderkey"),
      InRange("l_quantity", 1.0, 50.0),
      InRange("l_tax", 0.0, 0.05),
      InSet("l_returnflag", Seq("A", "N", "R")),
      UniqueKey(Seq("l_orderkey", "l_linenumber")),
      Freshness("l_shipdate", "2001-12-01 00:00:00", maxLagDays = 60),
      RefIntegrity("l_orderkey", Tables.load(s, dir, "orders"), "o_orderkey")))
  }

  private val dqOracle: String =
    """SELECT "check", violations, violations = 0 AS pass FROM (
      |  SELECT 'not_null(l_orderkey)' AS "check",
      |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'range(l_quantity,1.0,50.0)',
      |    CAST(sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'range(l_tax,0.0,0.05)',
      |    CAST(sum(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0.0 OR l_tax > 0.05) THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'in_set(l_returnflag)',
      |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'freshness(l_shipdate,60d)',
      |    CAST(CASE WHEN max(l_shipdate) >= TIMESTAMP '2001-12-01 00:00:00' - INTERVAL 60 DAY
      |              THEN 0 ELSE 1 END AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'unique(l_orderkey,l_linenumber)',
      |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'ref(l_orderkey->o_orderkey)',
      |    CAST((SELECT count(*) FROM lineitem l
      |          WHERE l.l_orderkey IS NOT NULL
      |            AND NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      |) ORDER BY "check"""".stripMargin

  /** Profile-drift gate over orders — "did today's load look like the
    * last trusted one?" as a publish blocker. Baseline = the pre-1997
    * slice (a stand-in for yesterday's persisted [[Profile.numeric]]
    * output); current = the full table. Bands are chosen with wide
    * margins on both sides of every threshold (full ≈ 3.3× the slice;
    * mean shift ≈ 3.1k at sf0.01) so pass/violate is pinned, including
    * one unevaluable case (o_custkey against an empty baseline slice →
    * violation, never a silent pass). The oracle re-derives the drift
    * arithmetic end to end. */
  def dqDrift(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val orders = Tables.load(s, dir, "orders")
    // the baseline is a SLICE OF THE SAME TABLE (the pre-1997 stand-in
    // for yesterday's profile), so its aggregates fold into the report's
    // single aggregation — one orders scan total, where a Materialized
    // Profile baseline paid a second scan just to re-derive three
    // numbers. Names, verdict arithmetic, and the round-at-4 baseline
    // sum are the same (ExpectationsSpec pins Slice == Materialized).
    val pre97 = Slice(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    run(orders, Seq(
      RowCountDrift(pre97, 4.0),             // 3.3× within 4× → pass
      RowCountDrift(pre97, 1.5),             // beyond 1.5× → violated
      NullRateDrift("o_totalprice", pre97, 0.01), // 0 vs 0 → pass
      NullRateDrift("o_custkey", Slice(lit(false)), 0.5), // empty → violated
      MeanDrift("o_totalprice", pre97, 50000.0),  // pass
      MeanDrift("o_totalprice", pre97, 100.0)))   // violated
  }

  private val dqDriftOracle: String =
    """WITH base AS (
      |  SELECT count(*) AS bn, count(o_totalprice) AS bc,
      |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bz,
      |    round(sum(o_totalprice), 4) AS bs
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
      |cur AS (
      |  SELECT count(*) AS n, count(o_totalprice) AS c,
      |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS z,
      |    sum(o_totalprice) AS sm
      |  FROM orders)
      |SELECT "check", violations, violations = 0 AS pass FROM (
      |  SELECT 'row_count_drift(4.0)' AS "check",
      |    CAST(CASE WHEN n > bn * 4.0 OR n * 4.0 < bn THEN 1 ELSE 0 END AS BIGINT) AS violations
      |  FROM cur, base
      |  UNION ALL
      |  SELECT 'row_count_drift(1.5)',
      |    CAST(CASE WHEN n > bn * 1.5 OR n * 1.5 < bn THEN 1 ELSE 0 END AS BIGINT)
      |  FROM cur, base
      |  UNION ALL
      |  SELECT 'null_rate_drift(o_totalprice,0.01)',
      |    CAST(CASE WHEN n = 0 OR bn = 0
      |      OR abs(CAST(z AS DOUBLE) / n - CAST(bz AS DOUBLE) / bn) > 0.01
      |      THEN 1 ELSE 0 END AS BIGINT)
      |  FROM cur, base
      |  UNION ALL
      |  SELECT 'null_rate_drift(o_custkey,0.5)', CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT 'mean_drift(o_totalprice,50000.0)',
      |    CAST(CASE WHEN c = 0 OR bc = 0
      |      OR abs(sm / c - bs / bc) > 50000.0 THEN 1 ELSE 0 END AS BIGINT)
      |  FROM cur, base
      |  UNION ALL
      |  SELECT 'mean_drift(o_totalprice,100.0)',
      |    CAST(CASE WHEN c = 0 OR bc = 0
      |      OR abs(sm / c - bs / bc) > 100.0 THEN 1 ELSE 0 END AS BIGINT)
      |  FROM cur, base
      |) ORDER BY "check"""".stripMargin

  /** PSI distribution-drift gate: population stability index of
    * o_totalprice over a pinned 8-bin histogram vs the pre-1997-slice
    * baseline. The unshifted table sits at PSI ≈ 0.001-0.012 (pass at
    * 0.1, ≥8× margin); the 1.5×-scaled twin lands at ≈ 2.3 (violates
    * 0.5, ≥4× margin) — both decisions re-derived end to end in SQL,
    * ε-smoothing included. */
  def dqDriftPsi(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val orders = Tables.load(s, dir, "orders")
    // both checks' baseline is the pre-1997 slice of the same table and
    // the shifted twin is an expression over the same scan, so ONE run
    // computes all three histograms in one orders pass — a Materialized
    // Profile.histogram baseline scanned orders three times (baseline
    // histogram + one run() per check). Bin counts are exact longs on
    // every side, so the PSI doubles are bit-identical (ExpectationsSpec
    // pins Slice == Materialized).
    val pre97 = Slice(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    run(orders, Seq(
        HistogramDrift("o_totalprice", 0.0, 600000.0, 8, pre97,
          maxPsi = 0.1),
        HistogramDrift("o_totalprice", 0.0, 600000.0, 8, pre97,
          maxPsi = 0.5, todayExpr = Some(col("o_totalprice") * 1.5))))
      .orderBy("check")
  }

  private val dqDriftPsiOracle: String =
    """WITH bs AS (SELECT CAST(range AS INT) AS bin FROM range(-1, 9)),
      |cur AS (
      |  SELECT bin, count(*) AS c FROM (
      |    SELECT CASE WHEN o_totalprice IS NULL THEN NULL
      |      WHEN o_totalprice < 0.0 THEN -1
      |      WHEN o_totalprice > 600000.0 THEN 8
      |      WHEN CAST(floor((o_totalprice - 0.0) / 600000.0 * 8) AS INT) = 8 THEN 7
      |      ELSE CAST(floor((o_totalprice - 0.0) / 600000.0 * 8) AS INT) END AS bin
      |    FROM orders) WHERE bin IS NOT NULL GROUP BY 1),
      |shf AS (
      |  SELECT bin, count(*) AS c FROM (
      |    SELECT CASE WHEN v IS NULL THEN NULL
      |      WHEN v < 0.0 THEN -1
      |      WHEN v > 600000.0 THEN 8
      |      WHEN CAST(floor((v - 0.0) / 600000.0 * 8) AS INT) = 8 THEN 7
      |      ELSE CAST(floor((v - 0.0) / 600000.0 * 8) AS INT) END AS bin
      |    FROM (SELECT o_totalprice * 1.5 AS v FROM orders))
      |  WHERE bin IS NOT NULL GROUP BY 1),
      |bas AS (
      |  SELECT bin, count(*) AS c FROM (
      |    SELECT CASE WHEN o_totalprice IS NULL THEN NULL
      |      WHEN o_totalprice < 0.0 THEN -1
      |      WHEN o_totalprice > 600000.0 THEN 8
      |      WHEN CAST(floor((o_totalprice - 0.0) / 600000.0 * 8) AS INT) = 8 THEN 7
      |      ELSE CAST(floor((o_totalprice - 0.0) / 600000.0 * 8) AS INT) END AS bin
      |    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01')
      |  WHERE bin IS NOT NULL GROUP BY 1),
      |j AS (
      |  SELECT bs.bin, COALESCE(cur.c, 0) AS t, COALESCE(shf.c, 0) AS s2,
      |         COALESCE(bas.c, 0) AS b
      |  FROM bs LEFT JOIN cur USING (bin) LEFT JOIN shf USING (bin)
      |    LEFT JOIN bas USING (bin)),
      |tot AS (SELECT sum(t) AS tt, sum(s2) AS ts, sum(b) AS tb FROM j),
      |psi AS (
      |  SELECT
      |    sum((greatest(t / tt, 1e-4) - greatest(b / tb, 1e-4)) *
      |        ln(greatest(t / tt, 1e-4) / greatest(b / tb, 1e-4))) AS psi_cur,
      |    sum((greatest(s2 / ts, 1e-4) - greatest(b / tb, 1e-4)) *
      |        ln(greatest(s2 / ts, 1e-4) / greatest(b / tb, 1e-4))) AS psi_shf
      |  FROM j, tot)
      |SELECT "check", violations, violations = 0 AS pass FROM (
      |  SELECT 'histogram_drift(o_totalprice,8,0.1)' AS "check",
      |    CAST(CASE WHEN psi_cur > 0.1 THEN 1 ELSE 0 END AS BIGINT) AS violations
      |  FROM psi
      |  UNION ALL
      |  SELECT 'histogram_drift(o_totalprice,8,0.5)',
      |    CAST(CASE WHEN psi_shf > 0.5 THEN 1 ELSE 0 END AS BIGINT)
      |  FROM psi
      |) ORDER BY "check"""".stripMargin

  /** The KLL quantile band as a publish gate (literal-oracled: KLL estimates
    * are engine-specific; outcome margins are ≫ rank error so the
    * pass/violate split is still deterministic — spec-pinned in
    * ExpectationsSpec). Baseline = per-(lang) doc-length sketches of the
    * unshifted corpus; the +1000-shifted twin must trip the 100-char
    * band while the unshifted corpus stays inside it. */
  def dqDriftKll(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val docs = Tables.load(s, dir, "documents")
    val baseSketch = SketchStats.sketchBatch(docs, Seq("lang"), Nil, Nil,
      quantileCols = Seq("n_chars"))
    run(docs, Seq(QuantileBandDrift("n_chars", 0.9, 100.0, baseSketch)))
      .unionByName(
        run(docs.withColumn("n_chars", col("n_chars") + lit(1000)),
          Seq(QuantileBandDrift("n_chars", 0.9, 99.0, baseSketch))))
      .orderBy("check")
  }

  /** GPT-style sequence packing over the documents table: per-language
    * streams in doc_id order, cut into 4096-char context windows —
    * boundary docs split across consecutive sequences, every non-final
    * sequence exactly full. Fully oracled: the running-offset/overlap
    * arithmetic re-derives in SQL window functions + generate_series. */
  def packSeqs(s: SparkSession, dir: String): DataFrame =
    SequencePack.packSequences(
        Tables.load(s, dir, "documents").select("lang", "doc_id", "n_chars"),
        "doc_id", "n_chars", ctxLen = 4096, strataCols = Seq("lang"))
      .orderBy("lang", "seq_id", "seq_from")

  private val packSeqsOracle: String =
    """WITH t AS (
      |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS len,
      |    CAST(sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS en
      |  FROM documents),
      |s AS (SELECT lang, doc_id, len, en - len AS st, en FROM t),
      |x AS (
      |  SELECT lang, doc_id, len, st,
      |    unnest(generate_series(CAST(st // 4096 AS BIGINT),
      |                           CAST((en - 1) // 4096 AS BIGINT))) AS seq_id
      |  FROM s)
      |SELECT lang, doc_id, seq_id,
      |  greatest(CAST(0 AS BIGINT), seq_id * 4096 - st) AS doc_from,
      |  least(len, (seq_id + 1) * 4096 - st) AS doc_to,
      |  greatest(CAST(0 AS BIGINT), st - seq_id * 4096) AS seq_from
      |FROM x
      |ORDER BY lang, seq_id, seq_from""".stripMargin

  /** The FFD greedy re-derived as a linear recursion: docs sort by
    * (len DESC, doc_id) per stratum and a recursive CTE threads the
    * bins' free-capacity LIST through one step per doc — `list_position`
    * finds the first bin that fits (first-fit), list slicing rebuilds
    * the state. Deterministic because the Spark side pins the identical
    * total order and bin-scan order (the `dedup_clusters` recursive-CTE
    * discipline: a sequential algorithm is still SQL-expressible when
    * its ties are pinned). */
  private val packGreedyOracle: String =
    """WITH RECURSIVE d AS (
      |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS len,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents),
      |ffd(lang, rn, bins, doc_id, seq_id, seq_from, len) AS (
      |  SELECT lang, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |  FROM (SELECT DISTINCT lang FROM d)
      |  UNION ALL
      |  SELECT lang, rn,
      |    CASE WHEN pos IS NOT NULL AND pos > 0
      |         THEN bins[1:pos-1] || [bins[pos] - len] || bins[pos+1:]
      |         ELSE bins || [4096 - len] END,
      |    doc_id,
      |    CAST(CASE WHEN pos IS NOT NULL AND pos > 0 THEN pos - 1
      |              ELSE len(bins) END AS BIGINT),
      |    CAST(CASE WHEN pos IS NOT NULL AND pos > 0 THEN 4096 - bins[pos]
      |              ELSE 0 END AS BIGINT),
      |    len
      |  FROM (
      |    SELECT f.lang, d.rn, f.bins, d.doc_id, d.len,
      |           list_position(list_transform(f.bins, x -> x >= d.len),
      |                         true) AS pos
      |    FROM ffd f JOIN d ON d.lang = f.lang AND d.rn = f.rn + 1))
      |SELECT lang, doc_id, seq_id, seq_from, len
      |FROM ffd WHERE doc_id IS NOT NULL
      |ORDER BY lang, seq_id, seq_from""".stripMargin

  /** PCA spectrum of the embeddings table: per-component variance share
    * + cumulative share at k=16 of 64, plus the measured rank-16
    * reconstruction MSE — the decision report for "can this corpus's
    * vectors be halved before indexing?". Contract-verdict gate (Jacobi
    * eigenvectors are not DuckDB-reproducible); orthonormality, planted-
    * rank recovery, the variance/reconstruction identity, and geometry
    * preservation are spec-pinned in PcaSpec. */
  def embPca(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val m = Pca.fit(emb, "embedding", k = 16)
    val mse = Pca.reconstructionMse(emb, "embedding", m)
    // exact total variance (population, the fit's own convention):
    // avg ‖x−μ‖² with the model's mean — equals the covariance trace
    val meanLit = array(m.mean.map(lit(_)): _*)
    val centered = zip_with(col("embedding").cast("array<double>"), meanLit,
      (x, mu) => x - mu)
    val totalVar = emb
      .agg(avg(aggregate(transform(centered, x => x * x), lit(0.0), _ + _)))
      .head().getDouble(0)
    // driver-side checks on the k×d basis (k=16, d=64 — trivially bounded)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val g = m.components
    val orthoErr = (for (i <- g.indices; j <- i until g.length) yield
      math.abs(dot(g(i), g(j)) - (if (i == j) 1.0 else 0.0))).max
    val shares = m.varianceShare
    val monotone = shares.sliding(2).forall {
      case Array(a2, b2) => a2 >= b2 - 1e-12; case _ => true
    } && shares.forall(_ >= 0.0)
    val shareSum = shares.sum
    // the spectral identity the report exists for: residual energy ==
    // total·(1 − Σ share_k); Jacobi converges to 1e-20 off-diagonal so
    // the band is numerical-noise-wide only
    val predictedMse = totalVar * (1.0 - shareSum)
    val mseErr = math.abs(mse - predictedMse)
    ContractGate.verdicts(s, Seq(
      ("dims_k16_d64", g.length == 16 && g.forall(_.length == 64),
        s"k=${g.length} d=${g.headOption.map(_.length).getOrElse(0)}"),
      ("orthonormal_basis", orthoErr <= 1e-8, ContractGate.obs(orthoErr)),
      ("variance_shares_monotone", monotone, shares.mkString(",")),
      ("share_sum_in_unit", shareSum > 0.0 && shareSum <= 1.0 + 1e-9,
        ContractGate.obs(shareSum)),
      ("mse_spectral_identity", mseErr <= 1e-6 * math.max(totalVar, 1e-12),
        f"mse=$mse%.9f predicted=$predictedMse%.9f total=$totalVar%.9f")))
  }

  private val embPcaOracle: String = ContractGate.oracle(Seq(
    "dims_k16_d64", "orthonormal_basis", "variance_shares_monotone",
    "share_sum_in_unit", "mse_spectral_identity"))

  /** No-split (SFT-regime) greedy packing of documents into 4096-char
    * bins per language — first-fit-decreasing, hash-oracled against
    * [[packGreedyOracle]]'s recursive-CTE re-derivation (ties pinned on
    * (len DESC, doc_id), bins scanned in creation order on both sides);
    * the FFD bound, bin non-overflow, and no-split invariants are
    * additionally spec-pinned in SequencePackSpec. */
  def packGreedyQ(s: SparkSession, dir: String): DataFrame =
    SequencePack.packGreedy(
        Tables.load(s, dir, "documents").select("lang", "doc_id", "n_chars"),
        "doc_id", "n_chars", ctxLen = 4096, strataCols = Seq("lang"))
      .orderBy("lang", "seq_id", "seq_from")

  /** Exact heavy-hitter tokens over the documents corpus: every
    * normalized token with frequency ≥ 0.5% of the token stream, exact
    * counts — the Misra–Gries screen + exact-verify pass, hash-oracled
    * against the plain GROUP BY/HAVING it answers at bounded memory
    * (support sits far from any boundary: survivors count ~900+, the
    * rest ≪ threshold ≈ 136 at sf0.01). */
  def heavyTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.normWords
    val toks = Tables.load(s, dir, "documents")
      .select(explode(normWords(col("text"))).as("token"))
      .where(col("token") =!= "")
    HeavyHitters.frequent(toks, "token", support = 0.005)
      .orderBy(desc("cnt"), asc("token"))
  }

  private val heavyTokensOracle: String =
    """WITH nw AS (
      |  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
      |  FROM documents),
      |tok AS (SELECT unnest(ws) AS token FROM nw),
      |f AS (SELECT token FROM tok WHERE token <> '')
      |SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |FROM f GROUP BY token
      |HAVING count(*) * 1000 >= 5 * (SELECT count(*) FROM f)
      |ORDER BY cnt DESC, token""".stripMargin

  /** String profile of the documents table — null/empty/distinct census
    * and length bounds per text column, oracled (Spark's `length` and
    * DuckDB's both count codepoints). */
  def profileDocs(s: SparkSession, dir: String): DataFrame =
    Profile.strings(Tables.load(s, dir, "documents"), Seq("lang", "source", "text"))

  private val profileDocsOracle: String =
    Seq("lang", "source", "text").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  CAST(sum(CASE WHEN $c = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         |  count(DISTINCT $c) AS n_distinct,
         |  min(length($c)) AS min_len, max(length($c)) AS max_len,
         |  CAST(sum(length($c)) AS BIGINT) AS total_len
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""

  /** Equi-width histogram of l_extendedprice over a pinned range — the
    * profiler's distribution view, oracled exactly (the bin expression is
    * mirrored operation-for-operation so IEEE arithmetic agrees). */
  def histLineitem(s: SparkSession, dir: String): DataFrame =
    Profile.histogram(Tables.load(s, dir, "lineitem"), "l_extendedprice",
      lo = 900.0, hi = 105000.0, bins = 20)

  private val histOracle: String =
    """WITH b AS (
      |  SELECT CASE WHEN l_extendedprice < 900.0 THEN -1
      |    WHEN l_extendedprice > 105000.0 THEN 20
      |    WHEN CAST(floor((l_extendedprice - 900.0) / (105000.0 - 900.0) * 20) AS INT) = 20 THEN 19
      |    ELSE CAST(floor((l_extendedprice - 900.0) / (105000.0 - 900.0) * 20) AS INT) END AS bin
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |bins AS (SELECT CAST(range AS INT) AS bin FROM range(-1, 21))
      |SELECT bins.bin,
      |  round(900.0 + bins.bin * 5205.0, 6) AS bin_lo,
      |  round(900.0 + (bins.bin + 1) * 5205.0, 6) AS bin_hi,
      |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |FROM bins LEFT JOIN (SELECT bin, count(*) AS cnt FROM b GROUP BY 1) c USING (bin)
      |ORDER BY bin""".stripMargin

  private val profileOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  min($c::DOUBLE) AS min_v, max($c::DOUBLE) AS max_v,
         |  round(sum($c::DOUBLE), 4) AS sum_v
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
  }

  /** The [[graft.sources.StatsIndex]] stats relation over the lineitem
    * table, FULLY ORACLED: DuckDB's `parquet_metadata()` exposes the
    * same footer statistics, so the metadata layer itself is
    * hash-checked against an independent reader — min/max/null-count
    * per (file, column) must agree bit-for-bit after round(4) (which
    * also absorbs the index's deliberate INT64 ulp-widening). `+ 0.0`
    * normalizes the -0.0 that widening min=0 produces. Oracle paths are
    * pinned to sf0.01 — the driver's verification scale by contract. */
  def statsIndexQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.StatsIndex.build(s, s"$dir/lineitem.parquet",
        Seq("l_orderkey", "l_quantity", "l_extendedprice"))
      .select(regexp_extract(col("file"), "([^/]+)$", 1).as("file"),
        col("column"), col("rows"),
        (round(col("min_num"), 4) + lit(0.0)).as("min_v"),
        (round(col("max_num"), 4) + lit(0.0)).as("max_v"),
        col("null_count"))
      .orderBy("file", "column")

  /** Point-lookup through BOTH file indexes (#42d bloom layer): per-file
    * Bloom membership filters built in one scan (`graft_bloom_build`
    * aggregate), then [[graft.sources.StatsIndex.prunedReadPoint]] scans
    * only files neither min/max ranges nor Bloom bits can rule out, and
    * the real predicate re-applies row-wise. The gate contract is
    * end-to-end data correctness: pruned point read == plain
    * `WHERE doc_id = 417` — a pruned file containing the row would break
    * the hash. */
  def statsBloomQ(s: SparkSession, dir: String): DataFrame = {
    val table = s"$dir/documents.parquet"
    val stats = graft.sources.StatsIndex.build(s, table, Seq("doc_id"))
    val blooms = graft.sources.StatsIndex.buildBlooms(s, table,
      Seq("doc_id"), expectedItemsPerFile = 1L << 16, fpp = 0.01)
    graft.sources.StatsIndex.prunedReadPoint(s, stats, blooms,
        Map.empty, Map("doc_id" -> 417L))
      .where(col("doc_id") === 417L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val statsBloomOracle: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id = 417 ORDER BY doc_id""".stripMargin

  /** The #42d/#42e indexes wired INTO the scan ([[graft.sources.IndexedScan]]):
    * the same filters, but pushed by Catalyst through a projection and an
    * aggregate into the custom [[org.apache.spark.sql.execution.datasources.FileIndex]],
    * whose `listFiles` consults stats ranges + Bloom bits at planning
    * time — no manual `prunedRead*` call anywhere in the query. The gate
    * contract is end-to-end equivalence: whatever the index prunes, the
    * result must hash-match the plain-SQL answer (file-count assertions
    * live in IndexedScanSpec, where the layout is controlled). */
  def statsScanQ(s: SparkSession, dir: String): DataFrame = {
    val table = s"$dir/events.parquet"
    val stats = graft.sources.StatsIndex.build(s, table,
      Seq("event_id", "user_id", "value"))
    val blooms = graft.sources.StatsIndex.buildBlooms(s, table,
      Seq("user_id"), expectedItemsPerFile = 1L << 16, fpp = 0.01)
    graft.sources.IndexedScan.readIndexedFrom(s, table, stats, Some(blooms))
      .where(col("value") >= 10.0 && col("value") < 100.0 &&
        col("event_type").isin("view", "click") && col("user_id") > 50L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Time-series regularization ([[graft.operators.Resample]]): daily
    * per-user grid over the event stream — gap days materialized,
    * forward fill + interior linear interpolation. Buckets are pure
    * epoch arithmetic and the repair math one fixed IEEE expression
    * tree, so DuckDB reproduces every value bit-for-bit. */
  def resampleQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
    graft.operators.Resample.resample(ev, "user_id", "ts", "value", 86400L)
      .orderBy("user_id", "bucket")
  }

  private val resampleOracle: String =
    """WITH b AS (
      |  SELECT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000) * 86400 AS BIGINT) AS bucket,
      |    count(*) AS n_events, round(sum(value), 6) AS total_value
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT user_id,
      |    unnest(generate_series(min(bucket), max(bucket), 86400)) AS bucket
      |  FROM b GROUP BY user_id),
      |j AS (
      |  SELECT g.user_id, g.bucket,
      |    coalesce(b.n_events, 0) AS n_events, b.total_value
      |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket),
      |r AS (
      |  SELECT *,
      |    last_value(total_value IGNORE NULLS) OVER w AS filled_value,
      |    last_value(CASE WHEN total_value IS NOT NULL THEN bucket END
      |               IGNORE NULLS) OVER w AS pb,
      |    first_value(total_value IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN total_value IS NOT NULL THEN bucket END
      |                IGNORE NULLS) OVER wf AS nb
      |  FROM j
      |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY user_id ORDER BY bucket
      |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, bucket, n_events, total_value, filled_value,
      |  CASE WHEN total_value IS NOT NULL THEN total_value
      |       ELSE filled_value + (nv - filled_value) *
      |            (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
      |  END AS interp_value
      |FROM r ORDER BY user_id, bucket""".stripMargin

  /** Trailing z-score anomalies ([[graft.operators.RollingFeatures
    * .anomalies]]): events more than 3 trailing standard deviations
    * from their user's trailing 7-day mean (self-inclusive window,
    * ≥5 rows). Moments come from exact integer cent sums (Σc, Σc²), so
    * mean/sd/flag re-derive bit-for-bit in DuckDB. */
  def anomalyQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("user_id"), col("event_id"),
      col("ts"), col("value"))
    graft.operators.RollingFeatures.anomalies(ev, "user_id", "ts", "value",
        graft.operators.RollingFeatures.Week, z = 3.0, minN = 5L)
      .select("user_id", "event_id", "value", "n_7d", "mean_7d", "sd_7d")
      .orderBy("user_id", "event_id")
  }

  private val anomalyOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
      |    value, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE ts IS NOT NULL),
      |w AS (
      |  SELECT user_id, event_id, value,
      |    CAST(count(*) OVER w7 AS BIGINT) AS n,
      |    CAST(sum(cents) OVER w7 AS BIGINT) AS s1,
      |    CAST(sum(cents * cents) OVER w7 AS BIGINT) AS s2
      |  FROM e
      |  WINDOW w7 AS (PARTITION BY user_id ORDER BY sec
      |                RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT user_id, event_id, value, n,
      |    (CAST(s1 AS DOUBLE) / n) / 100.0 AS mean_7d,
      |    sqrt(greatest(CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0))
      |      / 100.0 AS sd_7d
      |  FROM w)
      |SELECT user_id, event_id, value, n AS n_7d, mean_7d, sd_7d
      |FROM m
      |WHERE n >= 5 AND abs(value - mean_7d) > 3.0 * sd_7d
      |ORDER BY user_id, event_id""".stripMargin

  /** Snapshot reconciliation ([[graft.operators.SnapshotDiff]]): the
    * keyed delta between two deterministic generations of `orders` —
    * every 97th key deleted, every 13th surviving key's totalprice
    * re-priced, a synthetic high-key block inserted. The oracle builds
    * the identical generations as CTEs and re-derives the delta with a
    * FULL OUTER JOIN. */
  def tableDiffQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // exact IEEE +1.0 (no rounding ties): both engines mutate identically
    val after = o.where(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(13)) === 0,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .unionByName(s.range(5).select(
        (col("id") + 900000000L).cast("long").as("o_orderkey"),
        lit("N").as("o_orderstatus"),
        lit(1.5).as("o_totalprice")))
    graft.operators.SnapshotDiff.diff(o, after, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  private val tableDiffOracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |b AS (SELECT * FROM o),
      |a AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM o WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT 900000000 + r.range, 'N', 1.5 FROM range(5) r),
      |j AS (
      |  SELECT
      |    CASE WHEN b.o_orderkey IS NOT NULL AND a.o_orderkey IS NOT NULL THEN
      |           CASE WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
      |                  OR b.o_totalprice IS DISTINCT FROM a.o_totalprice
      |                THEN 'update' END
      |         WHEN a.o_orderkey IS NOT NULL THEN 'insert'
      |         ELSE 'delete' END AS op,
      |    coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
      |    b.o_orderstatus AS b_o_orderstatus, a.o_orderstatus AS a_o_orderstatus,
      |    b.o_totalprice AS b_o_totalprice, a.o_totalprice AS a_o_totalprice
      |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
      |SELECT * FROM j WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin

  /** Multi-horizon trailing features ([[graft.operators.RollingFeatures]]):
    * per event, the user's trailing 1-day and 7-day counts/sums/rates in
    * one pass (one exchange + one sort for both horizons). Sums
    * accumulate integer cents — sliding-window DOUBLE sums are
    * association-order-dependent across engines (segment trees vs
    * incremental buffers); integer sums are exact, and the decimal
    * value + rate re-derive through one fixed division tree. */
  def rollingQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("user_id"), col("event_id"),
      col("ts"), col("value"))
    graft.operators.RollingFeatures.trailing(ev, "user_id", "ts", "value",
        Seq(graft.operators.RollingFeatures.Day,
          graft.operators.RollingFeatures.Week))
      .select("user_id", "event_id", "sec",
        "n_1d", "v_1d", "avg_1d", "n_7d", "v_7d", "avg_7d")
      .orderBy("user_id", "event_id")
  }

  private val rollingOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE ts IS NOT NULL)
      |SELECT user_id, event_id, sec,
      |  CAST(count(*) OVER w1 AS BIGINT) AS n_1d,
      |  CAST(sum(cents) OVER w1 AS BIGINT) / 100.0 AS v_1d,
      |  (CAST(sum(cents) OVER w1 AS BIGINT) / 100.0)
      |    / CAST(count(*) OVER w1 AS DOUBLE) AS avg_1d,
      |  CAST(count(*) OVER w7 AS BIGINT) AS n_7d,
      |  CAST(sum(cents) OVER w7 AS BIGINT) / 100.0 AS v_7d,
      |  (CAST(sum(cents) OVER w7 AS BIGINT) / 100.0)
      |    / CAST(count(*) OVER w7 AS DOUBLE) AS avg_7d
      |FROM e
      |WINDOW
      |  w1 AS (PARTITION BY user_id ORDER BY sec
      |         RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW),
      |  w7 AS (PARTITION BY user_id ORDER BY sec
      |         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Edit-distance self-join ([[graft.operators.FuzzyJoin]]): every
    * customer-name pair within Levenshtein distance 1, found through
    * symmetric-deletion blocking (exact — a true pair always shares a
    * 1-deletion variant) + banded rescore, never the all-pairs
    * quadratic the oracle runs. Equivalence with the brute-force SQL
    * IS the gate contract; candidate-count scale asserts live in
    * FuzzyJoinSpec. */
  def fuzzyJoinQ(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    graft.operators.FuzzyJoin.selfJoin(c, "c_custkey", "c_name", maxDist = 1)
      .select(col("a_id").as("a_key"), col("b_id").as("b_key"),
        col("dist").cast("long").as("dist")) // DuckDB levenshtein is BIGINT
      .orderBy("a_key", "b_key")
  }

  private val fuzzyJoinOracle: String =
    """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
      |  levenshtein(a.c_name, b.c_name) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      | AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY a_key, b_key""".stripMargin

  /** Dynamic file pruning ([[graft.sources.IndexedScan.dfpJoin]]): an
    * indexed fact joining a small filtered dimension — the dim's ~12
    * surviving keys are collected and re-stated as an IN on the fact,
    * which the custom FileIndex prunes through stats + Bloom bits at
    * planning time. The gate contract is end-to-end equivalence with the
    * plain SQL join (the injected filter is semantically a no-op for an
    * inner join); the file-prune effect is asserted in IndexedScanSpec
    * where the layout is controlled. */
  def statsDfpQ(s: SparkSession, dir: String): DataFrame = {
    val table = s"$dir/events.parquet"
    val stats = graft.sources.StatsIndex.build(s, table,
      Seq("event_id", "user_id", "value"))
    val blooms = graft.sources.StatsIndex.buildBlooms(s, table,
      Seq("user_id"), expectedItemsPerFile = 1L << 16, fpp = 0.01)
    val fact = graft.sources.IndexedScan.readIndexedFrom(s, table, stats, Some(blooms))
      .select("event_id", "user_id", "event_type", "value")
    val dim = Tables.load(s, dir, "customer").where(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.sources.IndexedScan.dfpJoin(fact, "user_id", dim, "user_id")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("c_mktsegment")
  }

  /** [[statsDfpQ]]'s twin through the OPT-IN optimizer rule
    * ([[graft.plans.DfpRewrite]]): a PLAIN `fact.join(dim)` — no
    * `dfpJoin` call — optimized under `spark.graft.rewrite.dfp=true`,
    * which injects the dim-key IN onto the indexed fact at planning
    * time (the `q_topk_rewrite` flag-window pattern: the plan is forced
    * and memoized inside the window, other gates never see the flag).
    * Fails loudly if the injection did not fire; oracle is
    * `stats_dfp`'s SQL verbatim — the rewrite must be invisible. */
  def statsAutoDfpQ(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.graft.rewrite.dfp"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try {
      val table = s"$dir/events.parquet"
      val stats = graft.sources.StatsIndex.build(s, table,
        Seq("event_id", "user_id", "value"))
      val blooms = graft.sources.StatsIndex.buildBlooms(s, table,
        Seq("user_id"), expectedItemsPerFile = 1L << 16, fpp = 0.01)
      val fact = graft.sources.IndexedScan.readIndexedFrom(s, table, stats, Some(blooms))
        .select("event_id", "user_id", "event_type", "value")
      val dim = Tables.load(s, dir, "customer").where(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val df = fact.join(dim, Seq("user_id"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("total_value"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("c_mktsegment")
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.matches("(?s).*user_id#\\d+L? (IN|INSET).*"),
        s"stats_auto_dfp: DfpRewrite did not inject the dim-key IN:\n$plan")
      df
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Deterministic stratified corpus sampling ([[graft.operators
    * .Sampling]]): per-language md5-bucket rates (downsample dominant
    * `en` to 10%, keep the tail at 50%) — a map-side filter whose member
    * set any engine re-derives exactly; the DuckDB oracle repeats the
    * md5 arithmetic verbatim. */
  def sampleStratifiedQ(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 0.1), defaultRate = 0.5)
      .orderBy("lang", "doc_id")

  private val sampleStratifiedOracle: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
      |      AS BIGINT) AS bucket
      |  FROM documents)
      |WHERE bucket < CASE WHEN lang = 'en'
      |  THEN CAST(429496730 AS BIGINT) ELSE CAST(2147483648 AS BIGINT) END
      |ORDER BY lang, doc_id""".stripMargin

  /** Exact-n deterministic sample per language ([[graft.operators
    * .Sampling.takePerStratum]]): the md5 order is a uniform shuffle, so
    * the first 25 per stratum are a reproducible uniform sample with an
    * exact size — the fixed-budget eval-set carve. */
  def sampleTakeQ(s: SparkSession, dir: String): DataFrame =
    Sampling.takePerStratum(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", n = 25)
      .orderBy("lang", "doc_id")

  private val sampleTakeOracle: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
      |      AS BIGINT), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 25
      |ORDER BY lang, doc_id""".stripMargin

  /** The deterministic 3-generation versioned-warehouse fixture both
    * [[timeTravelQ]] and [[cdfQ]] read: gen1 = the `%37` orders sample,
    * gen2 = `%3`-keyed price bump (+1.0 — exactly +100 cents) plus the
    * disjoint `%41` insert batch, gen3 = `%5`-keyed deletes. Every
    * branch derives from the orders table alone, so DuckDB re-derives
    * each generation's state (and each hop's change rows) exactly.
    *
    * Built ONCE per (session, corpus) and cached (the `exactTopKCache`
    * pattern): the sweep's versioned gates were independently
    * rebuilding ~3 s of identical warehouses each — deployment
    * amortizes a table's build across every query, and so does this.
    * The temp dir lives for the session (one bounded fixture per
    * corpus, reaped with the JVM's temp space); gates must NOT reap it. */
  private val versionedFixtureCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]

  private def versionedFixture(s: SparkSession, dir: String): (String, String) =
    versionedFixtureCache.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft-vtt").toString
      val (path, idx) = (s"$root/t", s"$root/t/_stats_v")
      val orders = Tables.load(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("order_id"),
        col("o_orderpriority").as("priority"),
        col("o_totalprice").cast("double").as("price"))
      val s0 = orders.where(col("order_id") % 37 === 0)
      Upsert.mergeIntoVersioned(path, s0, Seq("order_id"), "priority", idx)
      val upd = s0.where(col("order_id") % 3 === 0)
        .withColumn("price", col("price") + lit(1.0))
      val ins = orders.where(col("order_id") % 41 === 0 &&
        col("order_id") % 37 =!= 0)
      Upsert.mergeIntoVersioned(path, upd.unionByName(ins),
        Seq("order_id"), "priority", idx)
      Upsert.mergeIntoVersioned(path, s0.limit(0), Seq("order_id"), "priority",
        idx, deletes = Some(
          s0.unionByName(ins).where(col("order_id") % 5 === 0)
            .select("order_id", "priority")))
      (path, idx)
    })

  /** Entity resolution end to end — the pipeline [[graft.operators
    * .FuzzyJoin]], [[graft.operators.Dedup.clustersFromEdges]] and
    * [[graft.operators.Survivorship]] exist for, composed: near-duplicate
    * customer names (Levenshtein ≤ 1, found by symmetric-deletion
    * blocking, never all-pairs) become match EDGES; connected components
    * over the edges become ENTITIES (cluster id = min member key); each
    * entity collapses to one golden record by per-attribute
    * best-non-null survivorship (highest account balance wins, ties by
    * key). Two attributes with different null patterns prove the
    * per-attribute rule: `big_bal` exists only when the balance ≥ 5000,
    * `seg` only when it is non-negative. Hash-oracled: DuckDB re-derives
    * the pairs with its own `levenshtein`, the components with a
    * recursive CTE, and the survivors with per-attribute windows. */
  def entityResolutionQ(s: SparkSession, dir: String): DataFrame = {
    // the `%7` subset keeps the match graph ER-shaped: TPC-H names are
    // consecutive zero-padded integers, so the FULL key range is one
    // giant single-digit-substitution component (every record "matches"
    // transitively — a degenerate entity); sparse keys give a realistic
    // mix of small clusters and singletons, and keep the oracle's
    // recursive closure component-sized
    val c = Tables.load(s, dir, "customer").where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"))
    val edges = graft.operators.FuzzyJoin
      .selfJoin(c, "c_custkey", "c_name", maxDist = 1)
      .select(col("a_id").as("i"), col("b_id").as("j"))
    val clusters = Dedup.clustersFromEdges(c, edges, "c_custkey")
    val recs = c
      .join(clusters.select(col("c_custkey"), col("cluster_id")), Seq("c_custkey"))
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("c_acctbal"), col("c_custkey"),
        when(col("c_acctbal") >= 5000.0,
          round(col("c_acctbal") * 100).cast("long")).as("big_bal"),
        when(col("c_acctbal") >= 0.0, col("c_mktsegment")).as("seg"))
    Survivorship.golden(recs, Seq("cluster_id"), "c_acctbal", "c_custkey",
        Seq("big_bal", "seg"))
      .orderBy("cluster_id")
  }

  private val entityResolutionOracle: String =
    """WITH RECURSIVE cust AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 7 = 0),
      |pairs AS (
      |  SELECT a.c_custkey AS i, b.c_custkey AS j
      |  FROM cust a JOIN cust b
      |    ON a.c_custkey < b.c_custkey
      |   AND levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
      |reach AS (
      |  SELECT c_custkey AS node, c_custkey AS lbl FROM cust
      |  UNION
      |  SELECT e.j AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.i),
      |labels AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
      |recs AS (
      |  SELECT l.cluster_id, c.c_acctbal, c.c_custkey,
      |    CASE WHEN c.c_acctbal >= 5000 THEN CAST(round(c.c_acctbal * 100) AS BIGINT) END AS big_bal,
      |    CASE WHEN c.c_acctbal >= 0 THEN c.c_mktsegment END AS seg
      |  FROM cust c JOIN labels l ON c.c_custkey = l.node),
      |sb AS (SELECT cluster_id, big_bal, row_number() OVER (PARTITION BY cluster_id
      |         ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      |       FROM recs WHERE big_bal IS NOT NULL),
      |sg AS (SELECT cluster_id, seg, row_number() OVER (PARTITION BY cluster_id
      |         ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      |       FROM recs WHERE seg IS NOT NULL),
      |n AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_records
      |      FROM recs GROUP BY 1)
      |SELECT n.cluster_id, sb.big_bal, sg.seg, n.n_records
      |FROM n
      |LEFT JOIN (SELECT cluster_id, big_bal FROM sb WHERE rn = 1) sb USING (cluster_id)
      |LEFT JOIN (SELECT cluster_id, seg FROM sg WHERE rn = 1) sg USING (cluster_id)
      |ORDER BY cluster_id""".stripMargin

  /** CDC replication end to end ([[graft.streaming.ChangeFeedStream
    * .replicateTo]] — the consumer loop that completes the change feed):
    * the replica seeds from the [[versionedFixture]] warehouse's FIRST
    * snapshot, then FOLLOWS the manifest — both committed hops (updates
    * + inserts, then deletes) drain in order and apply as idempotent
    * keyed merges. The gate aggregates the REPLICA; the oracle
    * re-derives the SOURCE's final state from `orders` — a replica that
    * missed a hop, double-applied one, or resurrected a deleted row
    * breaks the hash. */
  def cdcReplicateQ(s: SparkSession, dir: String): DataFrame = {
    val (path, idx) = versionedFixture(s, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-repl").toString
    try {
      val downstream = s"$root/replica"
      ChangeFeed.asOf(s, path, idx, 1L)
        .write.partitionBy("priority").parquet(downstream)
      graft.streaming.ChangeFeedStream.replicateTo(s, path, idx,
        Seq("order_id"), "priority", s"$root/cursor", downstream,
        startAt = Some(1L))
      val out = Tables.read(s, downstream)
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("price") * 100).cast("long")).as("cents"))
        .collect() // bounded: one row per priority
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      import s.implicits._
      out.toSeq.toDF("priority", "n", "cents").orderBy("priority")
    } finally {
      import scala.jdk.CollectionConverters._
      val walked = java.nio.file.Files.walk(java.nio.file.Path.of(root))
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walked.close()
    }
  }

  private val cdcReplicateOracle: String =
    """WITH s AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 37 = 0),
      |ins AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 41 = 0 AND o_orderkey % 37 <> 0),
      |g2 AS (
      |  SELECT order_id, priority,
      |         CASE WHEN order_id % 3 = 0 THEN cents + 100 ELSE cents END AS cents
      |  FROM s
      |  UNION ALL SELECT * FROM ins),
      |g3 AS (SELECT * FROM g2 WHERE order_id % 5 <> 0)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM g3 GROUP BY 1 ORDER BY priority""".stripMargin

  /** Golden-record survivorship over the event stream
    * ([[graft.operators.Survivorship]]): per user, each attribute's
    * value from the LATEST record where that attribute was present —
    * two attributes with different null patterns (`big_value` present
    * only when value ≥ 20, `big_type` only when value ≥ 50), ties on
    * `ts` broken by `event_id`. One hash aggregation (struct-max per
    * attribute), no window; the oracle re-derives the survivors with
    * per-attribute row_number windows. */
  def survivorshipQ(s: SparkSession, dir: String): DataFrame = {
    val ev = StarQueries.events(s, dir).select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("value") >= 20.0, col("value")).as("big_value"),
      when(col("value") >= 50.0, col("event_type")).as("big_type"))
    Survivorship.golden(ev, Seq("user_id"), "ts", "event_id",
        Seq("big_value", "big_type"))
      .orderBy("user_id")
  }

  private val survivorshipOracle: String =
    """WITH a AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CASE WHEN value >= 20.0 THEN value END AS big_value,
      |    CASE WHEN value >= 50.0 THEN event_type END AS big_type
      |  FROM events),
      |sv AS (
      |  SELECT user_id, big_value, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM a WHERE big_value IS NOT NULL),
      |st AS (
      |  SELECT user_id, big_type, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM a WHERE big_type IS NOT NULL),
      |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_records
      |      FROM a GROUP BY 1)
      |SELECT n.user_id, sv.big_value, st.big_type, n.n_records
      |FROM n
      |LEFT JOIN (SELECT user_id, big_value FROM sv WHERE rn = 1) sv
      |  USING (user_id)
      |LEFT JOIN (SELECT user_id, big_type FROM st WHERE rn = 1) st
      |  USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Schema evolution through the versioned merge: gen2 ADDS a `flag`
    * column (landed for the `%3` updates and `%41` inserts only); the
    * latest-generation read serves the EVOLVED schema — never-rewritten
    * files materialize `flag` as null through the recorded-schema scan,
    * no file rewritten, no backfill. Hash-oracled: DuckDB re-derives
    * which rows carry a flag and which read null purely from the merge
    * arithmetic — a scan inferring its schema from an OLD file (and so
    * dropping the column), or nulls landing on the wrong rows, breaks
    * the hash. Old-generation schema pinning, omitted-column merges,
    * and type-change refusal are spec-pinned in SchemaEvolveSpec. */
  def mergeEvolveQ(s: SparkSession, dir: String): DataFrame = {
    // session-cached like [[versionedFixture]] (its gen2 differs — the
    // evolved `flag` column — so it keeps its own warehouse)
    val (path, idx) = evolveFixtureCache.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft-evo").toString
      val (p, i) = (s"$root/t", s"$root/t/_stats_v")
      val orders = Tables.load(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("order_id"),
        col("o_orderpriority").as("priority"),
        col("o_totalprice").cast("double").as("price"))
      val s0 = orders.where(col("order_id") % 37 === 0)
      Upsert.mergeIntoVersioned(p, s0, Seq("order_id"), "priority", i)
      val flagged = s0.where(col("order_id") % 3 === 0)
        .withColumn("price", col("price") + lit(1.0))
        .unionByName(orders.where(col("order_id") % 41 === 0 &&
          col("order_id") % 37 =!= 0))
        .withColumn("flag", (col("order_id") % 2).cast("long"))
      Upsert.mergeIntoVersioned(p, flagged, Seq("order_id"), "priority", i)
      (p, i)
    })
    val out = graft.sources.IndexedScan.readIndexedVersioned(s, path, idx)
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("price") * 100).cast("long")).as("cents"),
        sum(when(col("flag").isNull, 1L).otherwise(0L)).as("n_flag_null"),
        coalesce(sum(col("flag")), lit(0L)).as("flag_sum"))
      .collect() // bounded: one row per priority
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    import s.implicits._
    out.toSeq.toDF("priority", "n", "cents", "n_flag_null", "flag_sum")
      .orderBy("priority")
  }

  private val evolveFixtureCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]

  private val mergeEvolveOracle: String =
    """WITH s AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 37 = 0),
      |ins AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 41 = 0 AND o_orderkey % 37 <> 0),
      |state AS (
      |  SELECT order_id, priority,
      |         CASE WHEN order_id % 3 = 0 THEN cents + 100 ELSE cents END AS cents,
      |         CASE WHEN order_id % 3 = 0 THEN order_id % 2 END AS flag
      |  FROM s
      |  UNION ALL
      |  SELECT order_id, priority, cents, order_id % 2 FROM ins)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS cents,
      |  CAST(sum(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flag_null,
      |  CAST(coalesce(sum(flag), 0) AS BIGINT) AS flag_sum
      |FROM state GROUP BY 1 ORDER BY priority""".stripMargin

  /** Time travel (`ChangeFeed.asOf`) over the [[versionedFixture]]
    * warehouse: every retained generation read back through its PINNED
    * manifest (replaced files still on disk serve the old snapshots —
    * the copy-on-write contract), aggregated to per-(gen, priority)
    * counts + exact cent sums. Hash-oracled: DuckDB re-derives all
    * three states from `orders`; a snapshot leaking rows across
    * generations (or a vacuumed-too-early file) breaks the hash. */
  def timeTravelQ(s: SparkSession, dir: String): DataFrame = {
    val (path, idx) = versionedFixture(s, dir)
    val out = (1L to 3L).map { g =>
      ChangeFeed.asOf(s, path, idx, g)
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("price") * 100).cast("long")).as("cents"))
        .withColumn("gen", lit(g))
    }.reduce(_.unionByName(_))
      .select(col("gen"), col("priority"), col("n"), col("cents"))
      .collect() // bounded: generations × priorities ≤ 15 rows
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    import s.implicits._
    out.toSeq.toDF("gen", "priority", "n", "cents")
      .orderBy("gen", "priority")
  }

  private val timeTravelOracle: String =
    """WITH s AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 37 = 0),
      |ins AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 41 = 0 AND o_orderkey % 37 <> 0),
      |g2 AS (
      |  SELECT order_id, priority,
      |         CASE WHEN order_id % 3 = 0 THEN cents + 100 ELSE cents END AS cents
      |  FROM s
      |  UNION ALL SELECT * FROM ins),
      |g3 AS (SELECT * FROM g2 WHERE order_id % 5 <> 0)
      |SELECT CAST(1 AS BIGINT) AS gen, priority,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
      |FROM s GROUP BY 2
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), priority,
      |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
      |FROM g2 GROUP BY 2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), priority,
      |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
      |FROM g3 GROUP BY 2
      |ORDER BY gen, priority""".stripMargin

  /** Change data feed (`ChangeFeed.between`) over the same fixture:
    * the keyed insert/update/delete rows of BOTH generation hops,
    * computed over only the partitions whose file manifests changed
    * (the CDF-at-scale shape — cost ∝ changed slice; the pruning
    * mechanics are spec-pinned in ChangeFeedSpec with a controlled
    * layout). Hash-oracled: DuckDB re-derives each hop's change set
    * from `orders`. */
  def cdfQ(s: SparkSession, dir: String): DataFrame = {
    val (path, idx) = versionedFixture(s, dir)
    def hop(from: Long, to: Long): DataFrame =
      ChangeFeed.between(s, path, idx, from, to, Seq("order_id"), "priority")
        .select(lit(from).as("from_gen"), lit(to).as("to_gen"), col("op"),
          col("order_id"),
          coalesce(col("b_priority"), col("a_priority")).as("priority"),
          round(col("b_price") * 100).cast("long").as("b_cents"),
          round(col("a_price") * 100).cast("long").as("a_cents"))
    val out = hop(1L, 2L).unionByName(hop(2L, 3L))
      .collect() // bounded: delta-sized (≤ sample size)
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    import s.implicits._
    out.toSeq
      .toDF("from_gen", "to_gen", "op", "order_id", "priority",
        "b_cents", "a_cents")
      .orderBy("from_gen", "op", "order_id")
  }

  private val cdfOracle: String =
    """WITH s AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 37 = 0),
      |ins AS (
      |  SELECT o_orderkey AS order_id, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 41 = 0 AND o_orderkey % 37 <> 0),
      |g2 AS (
      |  SELECT order_id, priority,
      |         CASE WHEN order_id % 3 = 0 THEN cents + 100 ELSE cents END AS cents
      |  FROM s
      |  UNION ALL SELECT * FROM ins),
      |h12 AS (
      |  SELECT 'update' AS op, order_id, priority,
      |         cents AS b_cents, cents + 100 AS a_cents
      |  FROM s WHERE order_id % 3 = 0
      |  UNION ALL
      |  SELECT 'insert', order_id, priority, NULL, cents FROM ins),
      |h23 AS (
      |  SELECT 'delete' AS op, order_id, priority,
      |         cents AS b_cents, CAST(NULL AS BIGINT) AS a_cents
      |  FROM g2 WHERE order_id % 5 = 0)
      |SELECT CAST(1 AS BIGINT) AS from_gen, CAST(2 AS BIGINT) AS to_gen,
      |       op, order_id, priority, b_cents, a_cents
      |FROM h12
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT),
      |       op, order_id, priority, b_cents, a_cents
      |FROM h23
      |ORDER BY from_gen, op, order_id""".stripMargin

  private val statsDfpOracle: String =
    """SELECT c.c_mktsegment, count(*) AS n_events,
      |  round(sum(e.value), 6) AS total_value,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE c.c_acctbal > 9000
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  private val statsScanOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 6) AS total_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE value >= 10.0 AND value < 100.0
      |  AND event_type IN ('view', 'click') AND user_id > 50
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  private val statsIndexOracle: String = {
    val p = "/root/testdata/sf0.01/lineitem.parquet"
    s"""SELECT regexp_extract(m.file_name, '([^/]+)$$', 1) AS file,
       |  m.path_in_schema AS "column",
       |  f.num_rows AS rows,
       |  round(min(m.stats_min_value::DOUBLE), 4) + 0.0 AS min_v,
       |  round(max(m.stats_max_value::DOUBLE), 4) + 0.0 AS max_v,
       |  sum(m.stats_null_count)::BIGINT AS null_count
       |FROM parquet_metadata('$p') m
       |JOIN parquet_file_metadata('$p') f USING (file_name)
       |WHERE m.path_in_schema IN ('l_orderkey','l_quantity','l_extendedprice')
       |GROUP BY 1, 2, f.num_rows
       |ORDER BY 1, 2""".stripMargin
  }

  /** Per-language corpus stats from MERGED per-(lang, source) batch
    * sketches — the incremental monitoring shape end-to-end in one query:
    * each (lang, source) group sketches its word-3-shingle vocabulary
    * independently (standing in for one ingest batch), then
    * [[SketchStats.merged]] unions down to lang. Contract-verdict gate: HLL register
    * contents are engine-specific; mergeability (union == single-pass,
    * exactly) and accuracy (3·RSE) are spec-pinned in SketchStatsSpec. */
  def corpusSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.normWords
    import org.apache.spark.sql.graft.Bridge
    // per-doc-DEDUPED hashed shingles (the fused ShingleSet kernel +
    // xxhash64): per-doc dedup cannot change the GLOBAL distinct count,
    // and sketch updates on 8-byte longs beat re-hashing ~30-char
    // strings — same estimate, a fraction of the explode volume and
    // per-row cost
    // read 3×: batch sketches, single-pass twin, exact
    val sh = Materialize.pin(Tables.load(s, dir, "documents")
      .select(col("lang"), col("source"),
        explode(Bridge.column(graft.functions.ShingleSet(
          Bridge.expression(normWords(col("text"))), 3))).as("_s"))
      .select(col("lang"), col("source"), xxhash64(col("_s")).as("shingle")))
    // the three contract aggregations (merged-from-batches, the direct
    // single-pass twin, and the exact baseline) fused into ONE union job
    // over the checkpointed shingle relation — their independent stages
    // schedule concurrently; was three separately collected actions. The
    // exact distinct count rides a two-level aggregation (shingle-grain
    // then lang-grain) instead of a countDistinct mixed with count, which
    // planned an Expand doubling the scanned rows. Values unchanged.
    val batches = SketchStats.sketchBatch(sh, Seq("lang", "source"), Seq("shingle"))
    val mBranch = SketchStats.merged(batches, Seq("lang"))
      .select(col("lang"), lit("m").as("_k"), col("n_rows").as("v1"),
        col("est_distinct_shingle").as("v2"))
    // single-pass twin: the union path (HLL_4 → union gadget → HLL_8)
    // is not register-identical to a direct single sketch, but both
    // estimate the same set within RSE — merged-from-batches must agree
    // with the direct per-lang sketch to ≤1.5× RSE (measured drift at
    // sf0.01: 0.06–0.7%; band 2.4%)
    val dBranch = SketchStats.merged(
        SketchStats.sketchBatch(sh, Seq("lang"), Seq("shingle")), Seq("lang"))
      .select(col("lang"), lit("d").as("_k"), lit(null).cast("long").as("v1"),
        col("est_distinct_shingle").as("v2"))
    val eBranch = sh.groupBy(col("lang"), col("shingle"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("lang"))
      .agg(sum(col("_c")).as("n"), count(lit(1)).as("nd"))
      .select(col("lang"), lit("e").as("_k"), col("n").as("v1"),
        col("nd").as("v2"))
    val fused = mBranch.unionByName(dBranch).unionByName(eBranch)
      .collect() // bounded: three rows per lang
    val m = fused.filter(_.getString(1) == "m")
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val direct = fused.filter(_.getString(1) == "d")
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = fused.filter(_.getString(1) == "e")
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    // HLL_4 lgK=12: RSE = 1.04/√4096 ≈ 1.6%; 3σ band
    val bound = 3 * 1.04 / math.sqrt((1L << SketchStats.DefaultLgK).toDouble)
    val agreeBound = bound / 2 // 1.5× RSE
    val perLang = exact.toSeq.sortBy(_._1).flatMap { case (l, (n, nd)) =>
      m.get(l).toSeq.flatMap { case (mn, est) =>
        val rel = math.abs(est - nd).toDouble / math.max(1L, nd)
        val agree = direct.get(l).map(d =>
          math.abs(est - d).toDouble / math.max(1L, d)).getOrElse(1.0)
        Seq(
          (s"n_rows_exact($l)", mn == n, s"merged=$mn exact=$n"),
          (f"hll_rel_err($l)<=$bound%.3f", rel <= bound, ContractGate.obs(rel)),
          (f"merge_agree($l)<=$agreeBound%.3f", agree <= agreeBound,
            s"merged=$est direct=${direct.getOrElse(l, -1L)}"))
      }
    }
    ContractGate.verdicts(s, perLang :+
      (("langs_match", m.keySet == exact.keySet,
        s"merged=${m.keySet.toSeq.sorted.mkString(",")} exact=${exact.keySet.toSeq.sorted.mkString(",")}")))
  }

  private val corpusSketchOracle: String = {
    val bound = 3 * 1.04 / math.sqrt((1L << SketchStats.DefaultLgK).toDouble)
    ContractGate.oracle(
      Seq("de", "en", "es", "fr", "zh").flatMap(l =>
        Seq(s"n_rows_exact($l)", f"hll_rel_err($l)<=$bound%.3f",
          f"merge_agree($l)<=${bound / 2}%.3f")) :+ "langs_match")
  }

  /** Per-language doc-length distribution from MERGED per-(lang, source)
    * KLL quantile sketches — the drift monitor ("did this batch shift
    * the p99?") answered from KB-scale persisted state instead of a
    * history rescan. Contract-verdict gate; rank-error bounds checked per run
    * (two-sided tie-aware rank test) and spec-pinned. */
  def corpusKll(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val batches = SketchStats.sketchBatch(docs,
      Seq("lang", "source"), Nil, Nil, quantileCols = Seq("n_chars"))
    val m = SketchStats.merged(batches, Seq("lang"))
      .select(col("lang"), col("n_rows"), col("p50_n_chars"),
        col("p90_n_chars"), col("p99_n_chars"))
      .collect() // bounded: one row per lang
      .map(r => r.getString(0) ->
        (r.getLong(1), Seq(0.50 -> r.getDouble(2), 0.90 -> r.getDouble(3),
          0.99 -> r.getDouble(4))))
      .toMap
    // exact rank of each estimate, computed DISTRIBUTED (broadcast the
    // ≤ langs×3 probe rows against the corpus; never collect the corpus):
    // KLL's guarantee is on RANKS, and ties make a value's rank an
    // interval — the estimate passes iff p ∈ [rank(<est)−ε, rank(≤est)+ε]
    import s.implicits._
    val probes = m.toSeq.flatMap { case (l, (_, qs)) =>
      qs.map { case (p, est) => (l, p, est) } }
      .toDF("lang", "p", "est")
    val ranks = docs.select(col("lang"), col("n_chars").cast("double").as("v"))
      .join(broadcast(probes), Seq("lang"))
      .groupBy(col("lang"), col("p"), col("est"))
      .agg(
        (sum(when(col("v") < col("est"), 1L).otherwise(0L)) / count(lit(1)))
          .as("rank_lt"),
        (sum(when(col("v") <= col("est"), 1L).otherwise(0L)) / count(lit(1)))
          .as("rank_le"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    val exactN = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // KLL k=200 normalized rank error ≈1.3% at high confidence; 0.05 is
    // a hard outer band (compaction is randomized, so the check must be
    // a bound, not an equality)
    val eps = 0.05
    val perLang = exactN.toSeq.sortBy(_._1).flatMap { case (l, n) =>
      m.get(l).toSeq.flatMap { case (mn, qs) =>
        val rankChecks = qs.map { case (p, est) =>
          val (lt, le) = ranks.getOrElse((l, p), (1.0, 0.0))
          (f"kll_rank($l,p${(p * 100).round}%d)", p >= lt - eps && p <= le + eps,
            f"p=$p rank_lt=$lt%.4f rank_le=$le%.4f")
        }
        val mono = qs.sortBy(_._1).map(_._2)
        rankChecks ++ Seq(
          (s"n_rows_exact($l)", mn == n, s"merged=$mn exact=$n"),
          (s"kll_monotone($l)", mono == mono.sorted, mono.mkString(",")))
      }
    }
    ContractGate.verdicts(s, perLang :+
      (("langs_match", m.keySet == exactN.keySet,
        s"merged=${m.keySet.toSeq.sorted.mkString(",")} exact=${exactN.keySet.toSeq.sorted.mkString(",")}")))
  }

  private val corpusKllOracle: String = ContractGate.oracle(
    Seq("de", "en", "es", "fr", "zh").flatMap(l =>
      Seq(s"kll_rank($l,p50)", s"kll_rank($l,p90)", s"kll_rank($l,p99)",
        s"n_rows_exact($l)", s"kll_monotone($l)")) :+ "langs_match")

  /** Sketch-estimated train/eval contamination screen: theta-sketch
    * overlap between the two sides' 8-gram shingle sets — the no-join
    * estimate of what `decontaminate` computes exactly. Contract-verdict
    * gate; the estimate-vs-exact bound is checked per run and spec-pinned. */
  def deconOverlapEst(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.normWords
    import org.apache.spark.sql.graft.Bridge
    val d = Tables.load(s, dir, "documents")
    // hashed per-doc-deduped 8-shingles (see [[corpusSketch]]) — set
    // overlap is hash-invariant up to 2^-64 collisions
    // set semantics (distinct): theta estimates are dedup-invariant,
    // and each side is read twice (sketch + exact)
    def sh(df: DataFrame) = Materialize.pin(df
      .select(explode(Bridge.column(graft.functions.ShingleSet(
        Bridge.expression(normWords(col("text"))), 8))).as("_s"))
      .select(xxhash64(col("_s")).as("sh"))
      .distinct())
    val ta = sh(d.where(pmod(col("doc_id"), lit(11)) =!= 0))
    val tb = sh(d.where(pmod(col("doc_id"), lit(11)) === 0))
    val r = SketchStats.overlap(ta, "sh", tb, "sh").collect().head // 1 row
    def num(i: Int): Double = r.getAs[Number](i).doubleValue() // long in exact mode
    val (estA, estB, estO, estU, estJ) = (num(0), num(1), num(2), num(3), num(4))
    val exactA = ta.count().toDouble
    val exactB = tb.count().toDouble
    val exactO = ta.join(tb, Seq("sh"), "left_semi").count().toDouble
    val exactU = exactA + exactB - exactO
    // theta nominal k = 2^DefaultLgK: RSE ≈ 1/√k; 3σ band. The
    // intersection has no relative guarantee of its own — its error is
    // bounded relative to the smaller operand/union, so the band is
    // absolute in units of the exact union (+2 floor for tiny sets).
    val bound = 3.0 / math.sqrt((1L << SketchStats.DefaultLgK).toDouble)
    def rel(est: Double, exact: Double) =
      math.abs(est - exact) / math.max(1.0, exact)
    val jaccardRef = if (estU > 0) estO / estU else 0.0
    ContractGate.verdicts(s, Seq(
      (f"theta_a_rel_err<=$bound%.3f", rel(estA, exactA) <= bound,
        f"est=$estA%.1f exact=$exactA%.0f"),
      (f"theta_b_rel_err<=$bound%.3f", rel(estB, exactB) <= bound,
        f"est=$estB%.1f exact=$exactB%.0f"),
      (f"theta_union_rel_err<=$bound%.3f", rel(estU, exactU) <= bound,
        f"est=$estU%.1f exact=$exactU%.0f"),
      ("theta_overlap_abs_err", math.abs(estO - exactO) <= bound * exactU + 2.0,
        f"est=$estO%.1f exact=$exactO%.0f band=${bound * exactU + 2.0}%.1f"),
      ("jaccard_identity", math.abs(estJ - jaccardRef) <= 1e-9,
        f"reported=$estJ%.9f derived=$jaccardRef%.9f")))
  }

  private val deconOverlapEstOracle: String = {
    val bound = 3.0 / math.sqrt((1L << SketchStats.DefaultLgK).toDouble)
    ContractGate.oracle(Seq(
      f"theta_a_rel_err<=$bound%.3f", f"theta_b_rel_err<=$bound%.3f",
      f"theta_union_rel_err<=$bound%.3f", "theta_overlap_abs_err",
      "jaccard_identity"))
  }

  /** Ordered view → click → purchase funnel over the events table. */
  def funnel(s: SparkSession, dir: String): DataFrame =
    Behavior.funnel(StarQueries.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("step")

  /** The same funnel under PER-STEP conversion windows: each hop must land
    * within 12 hours of the previous step's qualifying event
    * ([[Behavior.AnchorPrevStep]]) — deliberately a window where the two
    * anchor semantics disagree at gate scale (first-anchor converts 3
    * purchases, per-step converts 7), so the gate pins the distinction. */
  def funnelStep(s: SparkSession, dir: String): DataFrame =
    Behavior.funnel(StarQueries.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"),
        within = Some("12 hours"), anchor = Behavior.AnchorPrevStep)
      .orderBy("step")

  /** Weekly cohort retention over the events table. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame =
    Behavior.cohortRetention(StarQueries.events(s, dir), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  /** Generic as-of join on events: every event carries the user's LATEST
    * purchase at or before it (ts + value), null if none yet — the
    * "state as of the event" enrichment. Exercises [[AsOf.asofJoin]]'s
    * union-tag-window shape end to end; the oracle re-derives the same
    * union, tag ordering, and deterministic (ts, payload) tie-break in
    * SQL. */
  def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = StarQueries.events(s, dir)
      .select("event_id", "user_id", "ts", "event_type")
    val purchases = StarQueries.events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    AsOf.asofJoin(ev, purchases, "user_id", "p_user", "ts", "p_ts",
        valueCols = Seq("p_value"))
      .orderBy("event_id")
  }

  /** Generic range join on a keyless point-in-interval workload: orders
    * against 30 OVERLAPPING price bands (width 30k stepping 10k, so each
    * order matches up to 3 bands) — the shape Spark would otherwise plan
    * as BroadcastNestedLoopJoin. `binWidth` = the band step; the oracle
    * re-derives the bands and joins with a plain BETWEEN. */
  def qRange(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(30).select(col("id").cast("int").as("band_id"),
      (col("id") * 10000.0).as("lo"), (col("id") * 10000.0 + 30000.0).as("hi"))
    RangeJoin.rangeJoin(
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("order_id"), col("o_totalprice")),
        bands, "o_totalprice", "lo", "hi", binWidth = 10000.0)
      .select("order_id", "band_id", "lo", "hi", "o_totalprice")
      .orderBy("order_id", "band_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_salted_agg" -> (saltedAgg _),
    "events_windowed" -> (eventsWindowed _),
    "events_attribution" -> (eventsAttribution _),
    "scd2_merge" -> (scd2Merge _),
    "q_funnel" -> (funnel _),
    "q_funnel_step" -> (funnelStep _),
    "q_cohort" -> (cohortRetention _),
    "q_asof" -> (qAsof _),
    "q_range" -> (qRange _),
    "q_approx" -> (approxSketches _),
    "corpus_sketch" -> (corpusSketch _),
    "corpus_kll" -> (corpusKll _),
    "stats_index" -> (statsIndexQ _),
    "stats_bloom" -> (statsBloomQ _),
    "stats_scan" -> (statsScanQ _),
    "q_time_travel" -> (timeTravelQ _),
    "q_cdf" -> (cdfQ _),
    "q_sample_stratified" -> (sampleStratifiedQ _),
    "q_sample_take" -> (sampleTakeQ _),
    "q_merge_evolve" -> (mergeEvolveQ _),
    "q_survivorship" -> (survivorshipQ _),
    "q_entity_resolution" -> (entityResolutionQ _),
    "q_cdc_replicate" -> (cdcReplicateQ _),
    "stats_dfp" -> (statsDfpQ _),
    "stats_auto_dfp" -> (statsAutoDfpQ _),
    "q_fuzzy_join" -> (fuzzyJoinQ _),
    "q_resample" -> (resampleQ _),
    "q_rolling" -> (rollingQ _),
    "q_table_diff" -> (tableDiffQ _),
    "q_anomaly" -> (anomalyQ _),
    "profile_lineitem" -> (profileLineitem _),
    "hist_lineitem" -> (histLineitem _),
    "profile_docs" -> (profileDocs _),
    "dq_check" -> (dqCheck _),
    "dq_drift" -> (dqDrift _),
    "dq_drift_kll" -> (dqDriftKll _),
    "pack_sequences" -> (packSeqs _),
    "pack_greedy" -> (packGreedyQ _),
    "emb_pca" -> (embPca _),
    "heavy_tokens" -> (heavyTokens _),
    "dq_drift_psi" -> (dqDriftPsi _),
    "decon_overlap_est" -> (deconOverlapEst _)
  )

  val oracle: Map[String, String] = Map(
    "stats_index" -> statsIndexOracle,
    "stats_bloom" -> statsBloomOracle,
    "stats_scan" -> statsScanOracle,
    "q_time_travel" -> timeTravelOracle,
    "q_cdf" -> cdfOracle,
    "q_sample_stratified" -> sampleStratifiedOracle,
    "q_sample_take" -> sampleTakeOracle,
    "q_merge_evolve" -> mergeEvolveOracle,
    "q_survivorship" -> survivorshipOracle,
    "q_entity_resolution" -> entityResolutionOracle,
    "q_cdc_replicate" -> cdcReplicateOracle,
    "stats_dfp" -> statsDfpOracle,
    "stats_auto_dfp" -> statsDfpOracle,
    "q_fuzzy_join" -> fuzzyJoinOracle,
    "q_resample" -> resampleOracle,
    "q_rolling" -> rollingOracle,
    "q_table_diff" -> tableDiffOracle,
    "q_anomaly" -> anomalyOracle,
    "profile_lineitem" -> profileOracle,
    "hist_lineitem" -> histOracle,
    "profile_docs" -> profileDocsOracle,
    "dq_check" -> dqOracle,
    "dq_drift" -> dqDriftOracle,
    // contract gates (operator internals not DuckDB-reproducible; the
    // checked verdicts are — see ContractGate)
    "q_approx" -> approxSketchesOracle,
    "corpus_sketch" -> corpusSketchOracle,
    "corpus_kll" -> corpusKllOracle,
    "decon_overlap_est" -> deconOverlapEstOracle,
    "emb_pca" -> embPcaOracle,
    // deterministic-by-margin verdict rows: the KLL estimates inside are
    // randomized, but the ±1000-char shift vs the 100-char band leaves
    // the violate/pass split orders of magnitude clear of the rank error,
    // so the OUTPUT rows are stable and literal-oracled directly
    "dq_drift_kll" ->
      """SELECT * FROM (VALUES
        |  ('quantile_drift(n_chars,p90,100.0)', CAST(0 AS BIGINT), true),
        |  ('quantile_drift(n_chars,p90,99.0)', CAST(1 AS BIGINT), false)
        |) AS t("check", violations, pass) ORDER BY "check"""".stripMargin,
    "pack_sequences" -> packSeqsOracle,
    "pack_greedy" -> packGreedyOracle,
    "heavy_tokens" -> heavyTokensOracle,
    "dq_drift_psi" -> dqDriftPsiOracle,
    "q_salted_agg" ->
      """SELECT p.p_brand,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "events_windowed" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n_events, round(sum(value), 6) AS total_value
        |FROM ev GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin,

    // the union-tag-window re-derivation: purchases sort before events at
    // an equal ts (tag 0 < 1, giving <= semantics); among tied purchases
    // the (p_ts, p_value) order makes the carried row the lexicographic
    // max — the operator's documented deterministic tie-break. The carry
    // is ONE struct (NULL for event rows) so ts and value always come
    // from the SAME purchase — two independent last_value(IGNORE NULLS)
    // would mix rows whenever a purchase carries a NULL value. Known
    // parity limit: a NULL FIELD inside a tied carry struct orders
    // nulls-first in Spark but nulls-last in DuckDB's nested comparison,
    // so oracle parity additionally requires tied carries to have
    // non-null fields (holds here: events carry no null values; the
    // OPERATOR itself stays deterministic either way)
    "q_asof" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
        |              CAST(ts AS TIMESTAMP) AS ts FROM events),
        |u AS (
        |  SELECT user_id, ts, 1 AS tag, event_id, event_type,
        |    CAST(NULL AS STRUCT(p_ts TIMESTAMP, p_value DOUBLE)) AS carry
        |  FROM ev
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS tag, NULL, NULL,
        |    struct_pack(p_ts := ts, p_value := value)
        |  FROM ev WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, ts, tag, event_id, event_type,
        |    last_value(carry IGNORE NULLS) OVER win AS m
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, carry
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts, event_type,
        |  m.p_ts AS asof_p_ts, m.p_value AS asof_p_value
        |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,

    "q_range" ->
      """WITH bands AS (
        |  SELECT CAST(i AS INT) AS band_id, i * 10000.0 AS lo,
        |         i * 10000.0 + 30000.0 AS hi
        |  FROM generate_series(0, 29) t(i))
        |SELECT o.o_orderkey AS order_id, b.band_id, b.lo, b.hi, o.o_totalprice
        |FROM orders o JOIN bands b
        |  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        |ORDER BY order_id, band_id""".stripMargin,

    "events_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
        |              CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id, value FROM ev WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.ts AS click_ts, p.ts AS purchase_ts, p.value AS value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    "scd2_merge" ->
      """WITH c AS (SELECT c_custkey AS customer_id, c_name AS name,
        |  c_nationkey AS nation_key, c_acctbal AS acct_bal, c_mktsegment AS mkt_segment
        |  FROM customer),
        |unchanged AS (
        |  SELECT customer_id, name, nation_key, acct_bal, mkt_segment,
        |    DATE '1970-01-01' AS effective_date, CAST(NULL AS DATE) AS expiration_date,
        |    TRUE AS is_current
        |  FROM c WHERE customer_id % 7 <> 0),
        |expired AS (
        |  SELECT customer_id, name, nation_key, acct_bal, mkt_segment,
        |    DATE '1970-01-01' AS effective_date, DATE '2024-01-01' AS expiration_date,
        |    FALSE AS is_current
        |  FROM c WHERE customer_id % 7 = 0),
        |fresh AS (
        |  SELECT customer_id, name, nation_key, acct_bal + 10.0 AS acct_bal, mkt_segment,
        |    DATE '2024-01-01' AS effective_date, CAST(NULL AS DATE) AS expiration_date,
        |    TRUE AS is_current
        |  FROM c WHERE customer_id % 7 = 0)
        |SELECT *, md5(customer_id::VARCHAR || ':' || effective_date::VARCHAR) AS sk
        |FROM (SELECT * FROM unchanged UNION ALL SELECT * FROM expired
        |      UNION ALL SELECT * FROM fresh)
        |ORDER BY customer_id, effective_date""".stripMargin,

    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events),
        | w0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |          OVER (PARTITION BY user_id) AS t0 FROM ev),
        | w1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND t0 IS NOT NULL
        |                            AND ts > t0 THEN ts END)
        |          OVER (PARTITION BY user_id) AS t1 FROM w0),
        | w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL
        |                            AND ts > t1 THEN ts END)
        |          OVER (PARTITION BY user_id) AS t2 FROM w1),
        | pu AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
        |        FROM w2 GROUP BY 1),
        | c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM pu)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS event_type, n0 AS n_users,
        |    CAST(n0 AS DOUBLE) / nullif(n0, 0) AS conv_from_prev,
        |    CAST(n0 AS DOUBLE) / nullif(n0, 0) AS conv_from_top FROM c
        |  UNION ALL SELECT 2, 'click', n1,
        |    CAST(n1 AS DOUBLE) / nullif(n0, 0), CAST(n1 AS DOUBLE) / nullif(n0, 0) FROM c
        |  UNION ALL SELECT 3, 'purchase', n2,
        |    CAST(n2 AS DOUBLE) / nullif(n1, 0), CAST(n2 AS DOUBLE) / nullif(n0, 0) FROM c)
        |ORDER BY step""".stripMargin,

    "q_funnel_step" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events),
        | w0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |          OVER (PARTITION BY user_id) AS t0 FROM ev),
        | w1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND t0 IS NOT NULL
        |                            AND ts > t0 AND ts <= t0 + INTERVAL 12 HOUR
        |                       THEN ts END)
        |          OVER (PARTITION BY user_id) AS t1 FROM w0),
        | w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL
        |                            AND ts > t1 AND ts <= t1 + INTERVAL 12 HOUR
        |                       THEN ts END)
        |          OVER (PARTITION BY user_id) AS t2 FROM w1),
        | pu AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
        |        FROM w2 GROUP BY 1),
        | c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM pu)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS event_type, n0 AS n_users,
        |    CAST(n0 AS DOUBLE) / nullif(n0, 0) AS conv_from_prev,
        |    CAST(n0 AS DOUBLE) / nullif(n0, 0) AS conv_from_top FROM c
        |  UNION ALL SELECT 2, 'click', n1,
        |    CAST(n1 AS DOUBLE) / nullif(n0, 0), CAST(n1 AS DOUBLE) / nullif(n0, 0) FROM c
        |  UNION ALL SELECT 3, 'purchase', n2,
        |    CAST(n2 AS DOUBLE) / nullif(n1, 0), CAST(n2 AS DOUBLE) / nullif(n0, 0) FROM c)
        |ORDER BY step""".stripMargin,

    "q_cohort" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        | weekly AS (SELECT DISTINCT user_id,
        |              CAST(date_trunc('week', ts) AS DATE) AS week FROM ev),
        | wc AS (SELECT *, min(week) OVER (PARTITION BY user_id) AS cohort_week
        |        FROM weekly),
        | sized AS (SELECT cohort_week,
        |             CAST((week - cohort_week) / 7 AS INT) AS week_offset,
        |             count(DISTINCT user_id) AS n_active
        |           FROM wc GROUP BY 1, 2),
        | cs AS (SELECT cohort_week AS cw, n_active AS cohort_size
        |        FROM sized WHERE week_offset = 0)
        |SELECT cohort_week, week_offset, n_active, cohort_size,
        |  CAST(n_active AS DOUBLE) / cohort_size AS retention
        |FROM sized JOIN cs ON cohort_week = cw
        |ORDER BY cohort_week, week_offset""".stripMargin
  )

  // bounded-lifetime contract (VERDICT r19 #4)
  Fixtures.onClear { () =>
    versionedFixtureCache.clear(); evolveFixtureCache.clear()
  }
}
