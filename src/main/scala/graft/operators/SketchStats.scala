package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Mergeable-sketch corpus monitoring — distinct counts and overlap
  * estimates that NEVER rescan history, built on Spark's native
  * DataSketches aggregates (`hll_sketch_agg`/`hll_union_agg`,
  * `theta_sketch_agg`/`theta_intersection`).
  *
  * The scale problem: "distinct shingles per language, corpus-wide" is a
  * full shuffle of the widest relation every time it's asked, and at
  * 100 TB/day the history becomes unrescannable — while the question is
  * asked daily (vocabulary growth, dedup planning, drift monitoring).
  * Sketches split the cost: each ingest BATCH pays one map-side pass to
  * produce a kilobyte-scale sketch row per group ([[sketchBatch]] →
  * [[appendBatch]] — append-only, no read-modify-write), and any later
  * question merges the persisted sketch rows ([[merged]]) — work
  * proportional to #batches × #groups, independent of corpus size.
  * HLL union is register-wise max: associative, commutative,
  * idempotent — merging one sketch set in any order or multiplicity
  * gives the SAME estimate (spec-pinned exactly, not approximately).
  * One estimator nuance: a sketch built by direct updates reports via
  * the HIP estimator, while anything that passed through a union
  * reports the composite estimator — so differently-STRUCTURED builds
  * over identical data can differ sub-RSE (SketchStreamSpec pins the
  * band); only merge-ORDER comparisons are exact.
  *
  * Theta sketches add SET ALGEBRA: [[overlap]] estimates |A∩B| and
  * Jaccard between two keyed corpora from two single-row aggregates —
  * the contamination question ([[graft.operators.Curate.decontaminate]])
  * answered without any join, for a few KB of state per side. Use it as
  * the cheap screen; the exact join remains the gate's authority.
  */
object SketchStats {

  /** Default lgK: 2^12 registers ≈ 1.6% relative standard error, 4 KB. */
  val DefaultLgK = 12

  /** Default KLL k: rank error ≈ 1.65% at k=200 (the library default). */
  val DefaultKllK = 200

  /** Quantiles [[merged]] reports per KLL column. */
  val DefaultQuantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Default CMS accuracy: `true ≤ est ≤ true + 0.001·n` at 99.9%
    * confidence ≈ a 2000-counter × 7-row table, ~60 KB per group. */
  val DefaultCmsEps = 0.001
  val DefaultCmsConfidence = 0.999
  val DefaultCmsSeed = 42

  private def cmsBuild(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.CmsBuildAgg(
          org.apache.spark.sql.graft.Bridge.expression(c),
          DefaultCmsEps, DefaultCmsConfidence, DefaultCmsSeed)
        .toAggregateExpression())

  private def cmsMerge(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.CmsMergeAgg(
          org.apache.spark.sql.graft.Bridge.expression(c))
        .toAggregateExpression())

  /** One batch's sketch relation: per `keys` group — `n_rows`,
    * `sum_<c>` for each of `sumCols`, a binary HLL sketch `hll_<c>` for
    * each of `distinctCols`, and a binary KLL quantile sketch `kll_<c>`
    * for each of `quantileCols` (the distribution-drift monitor: doc
    * length, quality score — "did this batch shift the p99?" without
    * rescanning history). Map-side partials do the heavy lifting
    * (sketches merge in the combiner); the shuffle moves one sketch per
    * (task, group). */
  def sketchBatch(df: DataFrame, keys: Seq[String],
                  distinctCols: Seq[String], sumCols: Seq[String] = Nil,
                  quantileCols: Seq[String] = Nil,
                  freqCols: Seq[String] = Nil,
                  lgK: Int = DefaultLgK, kllK: Int = DefaultKllK): DataFrame = {
    require(distinctCols.nonEmpty || quantileCols.nonEmpty || freqCols.nonEmpty,
      "sketchBatch: nothing to sketch")
    val aggs =
      sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
        distinctCols.map(c => hll_sketch_agg(col(c), lgK).as(s"hll_$c")) ++
        quantileCols.map(c =>
          kll_sketch_agg_double(col(c).cast("double"), kllK).as(s"kll_$c")) ++
        freqCols.map(c => cmsBuild(col(c)).as(s"cms_$c"))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Land one batch's sketch rows (append-only: history is never read
    * back, never rewritten — the whole point). */
  def appendBatch(df: DataFrame, path: String, keys: Seq[String],
                  distinctCols: Seq[String], sumCols: Seq[String] = Nil,
                  quantileCols: Seq[String] = Nil,
                  freqCols: Seq[String] = Nil,
                  lgK: Int = DefaultLgK, kllK: Int = DefaultKllK): Unit =
    sketchBatch(df, keys, distinctCols, sumCols, quantileCols, freqCols,
        lgK, kllK)
      .write.mode("append").parquet(path)

  /** Merge persisted (or in-memory) sketch rows down to per-key
    * estimates: sums add, HLL sketches union (`hll_union_agg`) into
    * exact-integer distinct estimates, KLL sketches merge
    * (`kll_merge_agg_double`) into `p<q>_<col>` quantile estimates.
    * Input columns follow the [[sketchBatch]] naming contract. */
  def merged(batches: DataFrame, keys: Seq[String],
             quantiles: Seq[Double] = DefaultQuantiles): DataFrame = {
    val sumCols = batches.columns.filter(_.startsWith("sum_")).toSeq
    val hllCols = batches.columns.filter(_.startsWith("hll_")).toSeq
    val kllCols = batches.columns.filter(_.startsWith("kll_")).toSeq
    val cmsCols = batches.columns.filter(_.startsWith("cms_")).toSeq
    val aggs =
      sumCols.map(c => sum(col(c)).as(c)) ++
        hllCols.map(c => hll_union_agg(col(c)).as(c)) ++
        kllCols.map(c => kll_merge_agg_double(col(c)).as(c)) ++
        cmsCols.map(c => cmsMerge(col(c)).as(c))
    val unioned = batches.groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"), aggs: _*)
    val ests = hllCols.map(c =>
      hll_sketch_estimate(col(c)).as(s"est_distinct_${c.stripPrefix("hll_")}")) ++
      kllCols.flatMap { c =>
        quantiles.map(q => kll_sketch_get_quantile_double(col(c), lit(q))
          .as(s"p${(q * 100).round}_${c.stripPrefix("kll_")}"))
      } ++
      // frequency tables need a probe key, so they pass through as the
      // merged whole-history sketch — [[frequencies]] prices point queries
      cmsCols.map(col)
    unioned.select(keys.map(col) ++ Seq(col("n_rows")) ++
      sumCols.map(col) ++ ests: _*)
  }

  /** Estimated frequencies of `values` per key group, from landed sketch
    * rows (the [[sketchBatch]]/[[appendBatch]] contract): merge each
    * group's `cms_<column>` tables, then price every probe value against
    * the merged table — one row per (group, value) with `est_count`,
    * guaranteed `true ≤ est ≤ true + ε·n` at the configured confidence
    * (CMS errs high only: collisions add counts, never remove them).
    * Distributed: the merge is one keyed aggregation of KB-scale rows and
    * each probe is array arithmetic on the merged row — history is never
    * rescanned, the per-key cost is independent of how often it's asked. */
  def frequencies(batches: DataFrame, keys: Seq[String], column: String,
                  strValues: Seq[String] = Nil,
                  longValues: Seq[Long] = Nil): DataFrame = {
    require(strValues.nonEmpty || longValues.nonEmpty,
      "frequencies: no probe values")
    require(strValues.isEmpty || longValues.isEmpty,
      "frequencies: one probe type per call (the sketch hashed ONE type)")
    val spark = batches.sparkSession
    import spark.implicits._
    val sketchCol = s"cms_$column"
    val mergedRows = batches.groupBy(keys.map(col): _*)
      .agg(cmsMerge(col(sketchCol)).as(sketchCol))
      .select(to_json(struct(keys.map(col): _*)).as("_k"), col(sketchCol))
      .as[(String, Array[Byte])]
    val probed = mergedRows.flatMap { case (k, bytes) =>
      if (bytes == null) Nil
      else {
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
        val probes: Seq[(String, Long)] =
          strValues.map(v => v -> cms.estimateCount(v)) ++
            longValues.map(v => v.toString ->
              cms.estimateCount(java.lang.Long.valueOf(v)))
        probes.map { case (v, est) => (k, v, est) }
      }
    }.toDF("_k", "value", "est_count")
    // key struct comes from the INPUT schema, never from sampling a
    // serialized row: to_json drops null fields (a sampled row with a
    // null key would lose that field and `_ks.<key>` would not resolve)
    // and inferred types drift (date/decimal keys come back strings)
    val keyStruct = org.apache.spark.sql.types.StructType(
      keys.map(k => batches.schema(k)))
    probed
      .withColumn("_ks", from_json(col("_k"), keyStruct))
      .select(keys.map(k => col(s"_ks.$k").as(k)) ++
        Seq(col("value"), col("est_count")): _*)
  }

  def mergedFrom(spark: SparkSession, path: String, keys: Seq[String],
                 quantiles: Seq[Double] = DefaultQuantiles): DataFrame =
    merged(Tables.read(spark, path), keys, quantiles)

  /** Sketch-estimated set overlap between two keyed columns: one row —
    * `est_a`, `est_b`, `est_overlap` (theta intersection), `est_union`,
    * and `jaccard_est` = overlap/union. Each side aggregates to a
    * single few-KB sketch (map-side partials, 1-row shuffle); the
    * set algebra is driver-scale arithmetic on two binaries. The
    * decontamination screen at corpus scale: no join, no shuffle of
    * either relation against the other. */
  def overlap(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
              lgNomEntries: Int = DefaultLgK): DataFrame = {
    val sa = a.agg(theta_sketch_agg(col(aCol), lgNomEntries).as("ska"))
    val sb = b.agg(theta_sketch_agg(col(bCol), lgNomEntries).as("skb"))
    sa.crossJoin(sb) // 1 × 1
      .select(
        theta_sketch_estimate(col("ska")).as("est_a"),
        theta_sketch_estimate(col("skb")).as("est_b"),
        theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
          .as("est_overlap"),
        theta_sketch_estimate(theta_union(col("ska"), col("skb")))
          .as("est_union"))
      .withColumn("jaccard_est",
        when(col("est_union") > 0, col("est_overlap") / col("est_union"))
          .otherwise(lit(0.0)))
  }
}
