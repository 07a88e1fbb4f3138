package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** IVF-PQ — the published billion-scale ANN recipe (Jégou et al. 2011 §V:
  * coarse quantizer + product-quantized RESIDUALS), composing this repo's
  * two index families: [[Ivf]] bounds WHICH candidates are scored (nProbe
  * cells per query), [[Pq]] bounds the BYTES per candidate (m smallint
  * codes). The probe plan touches nProbe cells' worth of 32 B codes —
  * at 100 TB neither the full corpus nor full-width vectors enter any
  * exchange or scan.
  *
  * Residual encoding is what makes the composition better than either part
  * alone: within a cell, vectors share their centroid's location, so codes
  * spend their bits on the (much smaller) displacement `x − c(x)` instead
  * of re-describing the cell's position — one shared codebook set across
  * cells, trained on pooled residuals (the paper's memory/accuracy trade).
  *
  * ADC here is exact to the TWO-LEVEL reconstruction: for x in cell c,
  * `adc(q, x) = ‖(q − ctr_c) − decode(code_x)‖²
  *            = ‖q − (ctr_c + decode(code_x))‖²` — pinned in IvfPqSpec.
  * The final exact re-rank fetches raw vectors for queries×shortlist rows
  * only, so reported similarities are never approximate.
  */
object IvfPq {

  import graft.functions.VectorOps.{dotCol, unitNorm}

  /** Built index: `(id, cell, pq_code)` + cell centroids + residual
    * codebooks. The relation is code-narrow — vectors live only in the
    * source table, touched at re-rank. */
  final case class Index private[IvfPq](assigned: DataFrame,
                                        centers: Array[Array[Double]],
                                        cb: Pq.Codebooks,
                                        idCol: String) {
    def unpersist(): Unit = assigned.unpersist()
  }

  private def centersDf(spark: SparkSession,
                        centers: Array[Array[Double]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = centers.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c.toSeq)
    }.toSeq.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_ctr",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Train coarse cells + residual codebooks, encode every row, persist the
    * code relation pre-shuffled by cell (the [[Ivf.build]] contract: all
    * eager cost lives here; probes are training-free). */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nCells: Int, m: Int, ksub: Int, seed: Long = 42L,
            maxFitRows: Long = Ivf.MaxFitRows,
            precomputed: Option[org.apache.spark.ml.clustering.KMeansModel] = None): Index = {
    val (assignedVec, centers) = Ivf.assign(corpus, idCol, vecCol, nCells,
      seed, maxFitRows, precomputed)
    val spark = corpus.sparkSession
    // residual = unit-normalized vector − its cell centroid, map-side via
    // a broadcast of the (tiny) centroid table
    val resid = assignedVec
      .join(broadcast(centersDf(spark, centers)), Seq("cell"))
      .withColumn("_vn", zip_with(col("_vn"), col("_ctr"), (x, c) => x - c))
    val cb = Pq.fitVecs(resid.select("_vn"), m, ksub, seed, maxFitRows)
    val assigned = resid
      .select(col(idCol), col("cell"),
        Pq.encodeCol(col("_vn"), cb).as("pq_code"))
      .repartition(col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    Index(assigned, centers, cb, idCol)
  }

  /** ADC shortlist: rank cells per query (broadcast-side arithmetic, the
    * [[Ivf.probe]] shape), ADC-score ONLY the probed cells' codes against
    * the per-(query, cell) residual query `q − ctr`, keep the `nShort`
    * best ids per query. Ranking is the TopKRows bounded heap, not a
    * per-query row_number window: the probed cells bound the candidates,
    * but a window would still sort every probed-cell code through one
    * task per query — the heap moves ≤ nShort rows per (query, task). */
  private def adcShortlist(index: Index, queries: DataFrame,
                           qIdCol: String, qVecCol: String,
                           nShort: Int, nProbe: Int): DataFrame = {
    val idCol = index.idCol
    val np = math.min(nProbe, index.centers.length)
    val centerRows = array(index.centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit(_)): _*).as("ctr"))
    }: _*)
    val dist2 = aggregate(
      zip_with(col("_qn"), col("_ctr"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val probeW = Window.partitionBy(col(qIdCol)).orderBy(col("_d2").asc, col("cell"))
    // (query, cell, residual-query) — tiny: queries × nProbe rows
    val qCells = queries
      .select(col(qIdCol), unitNorm(col(qVecCol)).as("_qn"))
      .select(col(qIdCol), col("_qn"), explode(centerRows).as("cc"))
      .select(col(qIdCol), col("_qn"), col("cc.cell").as("cell"), col("cc.ctr").as("_ctr"))
      .withColumn("_d2", dist2)
      .withColumn("_pr", row_number().over(probeW))
      .where(col("_pr") <= np)
      .withColumn("_qres", zip_with(col("_qn"), col("_ctr"), (x, c) => x - c))
      .select(col(qIdCol), col("cell"), col("_qres"))

    val scored = index.assigned
      .join(broadcast(qCells), Seq("cell"))
      .where(col(idCol) =!= col(qIdCol))
      .withColumn("adc_d2", Pq.adcCol(col("pq_code"), col("_qres"), index.cb))
      .select(col(qIdCol), col(idCol), col("adc_d2"))
    Analytics.topKPerGroupAgg(scored, Seq(qIdCol), "adc_d2",
        idCol, nShort, ascending = true)
      .select(col(qIdCol), col(idCol))
  }

  /** Exact re-rank of a (q_id, id) shortlist from the raw vector relation:
    * broadcast-join fetch of shortlist vectors only, codegen'd dot, top-k
    * per query via the bounded heap. */
  private def exactRerank(vectors: DataFrame, idCol: String, vecCol: String,
                          shortlist: DataFrame, queries: DataFrame,
                          qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    val cn = vectors.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    val qn = queries.select(col(qIdCol), unitNorm(col(qVecCol)).as("_qn"))
    val rescored = cn.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(qn), Seq(qIdCol))
      .withColumn("cos_sim", round(dotCol(col("_qn"), col("_vn")), 6))
      .select(col(qIdCol), col(idCol), col("cos_sim"))
    Analytics.topKPerGroupAgg(rescored, Seq(qIdCol), "cos_sim", idCol, k)
  }

  /** Probe: ADC shortlist of k·shortlistFactor per query, then exact
    * re-rank from `corpus`. Lazy — one declarative plan, no driver
    * actions. Deployments that persisted the vector relation with
    * [[saveVectors]] should prefer [[probeSaved]], whose re-rank fetch
    * pushes the shortlist ids into the scan and prunes by id stats. */
  def probe(index: Index, corpus: DataFrame, vecCol: String,
            queries: DataFrame, qIdCol: String, qVecCol: String,
            k: Int, nProbe: Int, shortlistFactor: Int = 5): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.centers.length,
      s"nProbe=$nProbe out of [1,${index.centers.length}]")
    require(shortlistFactor >= 1, s"shortlistFactor=$shortlistFactor")
    val shortlist = adcShortlist(index, queries, qIdCol, qVecCol,
      k * shortlistFactor, nProbe)
    exactRerank(corpus, index.idCol, vecCol, shortlist, queries,
      qIdCol, qVecCol, k)
  }

  /** Streaming ANN against a static IVF-PQ index — the scale path for
    * [[Pq.streamingNeighbors]], which cross-joins every micro-batch
    * against the ENTIRE code relation. Here each arriving query is
    * assigned to its `nProbe` nearest cells MAP-SIDE (the centroid table
    * rides into the plan as a literal array; ranking is a
    * sort_array + slice over queries×nCells structs — no window, so the
    * plan stays streaming-append-legal), then a stream-static EQUI-JOIN
    * on `cell` scores only the probed cells' codes. Per batch the ADC
    * work is nProbe cells' worth of 32 B codes, not the corpus.
    *
    * Same thresholded-neighbors surface as [[Pq.streamingNeighbors]]
    * (per-query top-k needs a rank, which append mode cannot run):
    * survivors of the residual-ADC gate `adc_d2 ≤ 2−2·minCos + adcSlack`
    * are exact-rescored from `corpus` and filtered at `minCos`. Two
    * approximation dials, both recall-only (reported similarities are
    * exact): `adcSlack` (see the [[Pq.streamingNeighbors]] bound — size
    * it from the measured max quantization error to make the gate
    * lossless) and `nProbe` (a neighbor living outside the probed cells
    * is never scored — the IVF trade, identical to the batch [[probe]]).
    */
  /** All cells ranked by squared distance to the normalized vector in
    * `vnCol`, as a sorted array of `(d2, cell, ctr)` structs — map-side
    * arithmetic (centroids ride in as a literal array; sort_array, not a
    * window), so it is legal in streaming-append plans and one-pass cell
    * assignment alike. */
  private def rankedCells(centers: Array[Array[Double]], vnCol: String): Column = {
    val centerRows = array(centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit(_)): _*).as("ctr"))
    }: _*)
    sort_array(transform(centerRows, cc => struct(
      aggregate(zip_with(col(vnCol), cc.getField("ctr"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v).as("d2"),
      cc.getField("cell").as("cell"),
      cc.getField("ctr").as("ctr"))))
  }

  def streamingNeighbors(queries: DataFrame, qIdCol: String, qVecCol: String,
                         index: Index, corpus: DataFrame, vecCol: String,
                         minCos: Double, nProbe: Int,
                         adcSlack: Double = 0.3): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.centers.length,
      s"nProbe=$nProbe out of [1,${index.centers.length}]")
    require(adcSlack >= 0.0, s"adcSlack=$adcSlack")
    val idCol = index.idCol
    val ranked = rankedCells(index.centers, "_qn")
    val dBound = 2.0 - 2.0 * minCos + adcSlack
    // `_qn` RIDES ALONG through the probe (the Pq.streamingNeighbors
    // shape): re-joining the query relation at rescore time would be a
    // stream-stream self-join, which append mode cannot run unwatermarked
    val qCells = queries
      .select(col(qIdCol), unitNorm(col(qVecCol)).as("_qn"))
      .select(col(qIdCol), col("_qn"),
        explode(slice(ranked, 1, nProbe)).as("cc"))
      .select(col(qIdCol), col("_qn"),
        col("cc.cell").as("cell"),
        zip_with(col("_qn"), col("cc.ctr"), (x, c) => x - c).as("_qres"))
    val cand = qCells
      .join(index.assigned, Seq("cell")) // stream-static equi-join on cell
      .where(col(idCol) =!= col(qIdCol))
      .withColumn("adc_d2", Pq.adcCol(col("pq_code"), col("_qres"), index.cb))
      .where(col("adc_d2") <= dBound)
      .select(col(qIdCol), col("_qn"), col(idCol))
    val cn = corpus.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    cand.join(cn, Seq(idCol))
      .withColumn("cos_sim", round(dotCol(col("_qn"), col("_vn")), 6))
      .where(col("cos_sim") >= minCos)
      .select(col(qIdCol), col(idCol), col("cos_sim"))
  }

  /** Persist a built index: the code relation as parquet PARTITIONED BY
    * cell (a probe's broadcast cell join prunes to the probed cells'
    * directories on disk — the [[Ivf.save]] contract), centroids and
    * codebooks alongside. The whole artifact is code-narrow: at 100 TB of
    * vectors the on-disk index is ~the codes (32 B/row) plus two tiny
    * tables. */
  def save(index: Index, spark: SparkSession, path: String,
           nFiles: Int = 32): Unit = {
    require(nFiles >= 1, s"nFiles=$nFiles")
    // RANGE-cluster by (cell, id) before the partitioned write: each cell
    // directory then splits into files covering tight DISJOINT id ranges,
    // so point-fetches of codes by id (incremental probes, diagnostics)
    // prune files/row groups instead of scanning the whole cell
    // directory. The former sort-within-hash-partitions layout only
    // delivered that when cell boundaries happened to correlate with id
    // ranges — a quantizer accident, not a contract (R21).
    // `nFiles` is a FLOOR: the effective count scales with index size
    // (~1M code rows per range partition) so a large index never funnels
    // through 32 partitions (ADVICE r21) — the count is one cached-
    // relation/footer action at build/save time, never on the probe path.
    val files = math.max(nFiles,
      (index.assigned.count() / 1000000L).toInt + 1)
    index.assigned
      .repartitionByRange(files, col("cell"), col(index.idCol))
      .sortWithinPartitions(col("cell"), col(index.idCol))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    centersDf(spark, index.centers).select(col("cell"), col("_ctr").as("ctr"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
    Pq.saveCodebooks(spark, index.cb, s"$path/codebooks")
  }

  /** Load a [[save]]d index. The code relation stays disk-resident so the
    * probe's cell join prunes partitions; centroids/codebooks are tiny and
    * collected. */
  def load(spark: SparkSession, path: String, idCol: String): Index = {
    val assigned = Tables.read(spark, s"$path/assigned")
    val centers = Tables.read(spark, s"$path/centers")
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("ctr")).toArray)
    require(centers.nonEmpty, s"ivfpq load: no centroids at $path/centers")
    Index(assigned, centers, Pq.loadCodebooks(spark, s"$path/codebooks"), idCol)
  }

  /** Persist the raw vector relation alongside the index, id-CLUSTERED:
    * range-partitioned and sorted by id, so every file/row-group carries a
    * tight id min-max range. This is what makes the re-rank a real point
    * lookup at 100 TB — [[probeSaved]]'s fetch pushes the shortlist ids
    * into this scan and skips every file whose id range misses them. */
  def saveVectors(corpus: DataFrame, idCol: String, vecCol: String,
                  path: String, nFiles: Int = 32): Unit = {
    require(nFiles >= 1, s"nFiles=$nFiles")
    corpus.select(col(idCol), col(vecCol))
      .repartitionByRange(nFiles, col(idCol))
      .sortWithinPartitions(idCol)
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** The [[saveVectors]] relation. */
  def loadVectors(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/vectors")

  /** Bounded point-fetch for the exact re-rank: the shortlist ids
    * (≤ queries × k × shortlistFactor — driver-bounded BY DESIGN, the
    * same bound that lets [[probe]] broadcast the shortlist) are pushed
    * into the vector scan as an IN/range predicate. A broadcast join
    * alone never prunes the scan — the join filter does not reach
    * parquet — so without this the "point lookup" reads the whole vector
    * table; with it, an id-clustered relation ([[saveVectors]]) skips
    * every file/row-group whose id stats miss the shortlist. */
  def fetchVectors(vectors: DataFrame, idCol: String, ids: Seq[Any]): DataFrame = {
    require(ids.nonEmpty, "fetchVectors: empty id list")
    vectors.where(col(idCol).isin(ids: _*))
  }

  /** Append new vectors to a [[save]]d index WITHOUT retraining — the
    * incremental-maintenance half of the deployment loop (the
    * [[graft.operators.Dedup]] incremental-store pattern, for ANN): each
    * new row is assigned to its nearest EXISTING cell map-side
    * ([[rankedCells]], rank 1), residual-encoded with the EXISTING
    * codebooks, and appended to the cell-partitioned code relation (and
    * to the [[saveVectors]] relation when present, as its own id-sorted
    * files — per-batch id clustering, which is what parquet stats need).
    * One map pass + one write; no shuffle of the existing index, no
    * k-means.
    *
    * Quantizer state is FROZEN: appended rows get exactly the recall a
    * same-distribution rebuild would give; under distribution drift the
    * residuals grow and shortlist recall decays — the published practice
    * is to monitor drift and rebuild when it accumulates, implemented
    * here by [[appendOrRebuild]] against the [[saveFitStats]] baseline.
    * Returns the appended row count. */
  def append(spark: SparkSession, path: String, idCol: String, vecCol: String,
             newRows: DataFrame): Long = {
    val index = load(spark, path, idCol)
    val n = newRows.count()
    val assigned = newRows
      .select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
      .withColumn("_cc", element_at(rankedCells(index.centers, "_vn"), 1))
      .select(col(idCol), col("_cc.cell").as("cell"),
        Pq.encodeCol(zip_with(col("_vn"), col("_cc.ctr"), (x, c) => x - c),
          index.cb).as("pq_code"))
    assigned
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col(idCol))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/assigned")
    val vectorsPath = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = vectorsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(vectorsPath)) {
      newRows.select(col(idCol), col(vecCol))
        .repartitionByRange(math.max(1, (n / 100000L).toInt + 1), col(idCol))
        .sortWithinPartitions(idCol)
        .write.mode("append").parquet(s"$path/vectors")
    }
    n
  }

  /** Mean squared two-level quantization error of `rows` under the
    * index's FROZEN quantizers — the drift monitor's measurement: each
    * row is assigned to its nearest existing cell, residual-encoded with
    * the existing codebooks, and probed with its OWN residual
    * (`adc(code_x, x−ctr) = ‖x − (ctr + decode(code_x))‖²`). One
    * map-side pass over a bounded sample; the driver receives a double. */
  def quantizationMse(index: Index, rows: DataFrame, vecCol: String,
                      maxSample: Int = 100000): Double = {
    require(maxSample >= 1, s"maxSample=$maxSample")
    val sampled = rows.limit(maxSample)
      .select(unitNorm(col(vecCol)).as("_vn"))
      .withColumn("_cc", element_at(rankedCells(index.centers, "_vn"), 1))
      .withColumn("_res", zip_with(col("_vn"), col("_cc.ctr"), (x, c) => x - c))
      .withColumn("_e2",
        Pq.adcCol(Pq.encodeCol(col("_res"), index.cb), col("_res"), index.cb))
    val r = sampled.agg(avg(col("_e2"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Persist the fit-time error baseline alongside a [[save]]d index —
    * the reference point [[appendOrRebuild]]'s drift decision compares
    * against. Call once at build time with the build corpus. */
  def saveFitStats(spark: SparkSession, path: String, index: Index,
                   corpus: DataFrame, vecCol: String,
                   maxSample: Int = 100000): Unit = {
    val mse = quantizationMse(index, corpus, vecCol, maxSample)
    import spark.implicits._
    Seq(mse).toDF("fit_mse")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/fit_stats")
  }

  /** The persisted fit-time baseline, when [[saveFitStats]] ran. */
  def loadFitMse(spark: SparkSession, path: String): Option[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/fit_stats")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else Tables.read(spark, s"$path/fit_stats").collect()
      .headOption.map(_.getDouble(0))
  }

  /** The monitor-decide loop [[append]]'s scaladoc prescribes, closed:
    * measure the NEW batch's quantization error under the frozen
    * quantizers; while it stays within `driftFactor ×` the persisted
    * fit-time baseline, this IS [[append]] (one map pass, no retrain);
    * past it, the batch has drifted from the fitted distribution — land
    * it, then RETRAIN the whole index from the persisted vector relation
    * (same nCells/m/ksub, read back from the index itself) and refresh
    * the baseline, restoring fresh-build recall. Returns true iff a
    * rebuild happened.
    *
    * Requires [[saveFitStats]] at build time (no baseline = no sound
    * decision — fail loudly, never guess) and [[saveVectors]] (a retrain
    * needs the raw vectors; the code relation alone cannot refit). */
  def appendOrRebuild(spark: SparkSession, path: String, idCol: String,
                      vecCol: String, newRows: DataFrame,
                      driftFactor: Double = 2.0, seed: Long = 42L,
                      maxSample: Int = 100000): Boolean = {
    require(driftFactor >= 1.0, s"driftFactor=$driftFactor")
    val index = load(spark, path, idCol)
    val base = loadFitMse(spark, path).getOrElse(throw new IllegalStateException(
      s"appendOrRebuild: no fit-time baseline at $path/fit_stats — " +
        "call saveFitStats when the index is built"))
    val newMse = quantizationMse(index, newRows, vecCol, maxSample)
    val drifted = newMse > driftFactor * base
    // decide AND validate before mutating anything: a precondition
    // failure after the append would leave half-landed state that a
    // retry re-appends (duplicate ids in the index)
    if (drifted) {
      val vp = new org.apache.hadoop.fs.Path(s"$path/vectors")
      require(vp.getFileSystem(spark.sessionState.newHadoopConf()).exists(vp),
        s"appendOrRebuild: drift past threshold but no vector relation at " +
          s"$path/vectors to retrain from — use saveVectors at build time")
    }
    append(spark, path, idCol, vecCol, newRows)
    if (!drifted) false
    else {
      val all = loadVectors(spark, path) // includes the batch just landed
      val rebuilt = build(all, idCol, vecCol,
        nCells = index.centers.length, m = index.cb.m,
        ksub = index.cb.centers(0).length, seed = seed)
      save(rebuilt, spark, path)
      saveFitStats(spark, path, rebuilt, all, vecCol, maxSample)
      rebuilt.unpersist()
      true
    }
  }

  /** Probe against a [[save]]d index with a [[saveVectors]] relation —
    * the deployment path. EAGER, unlike [[probe]]: the (bounded)
    * shortlist is materialized on the driver so its ids can be pushed
    * into the re-rank's vector scan as a predicate; the fetch then reads
    * only the files/row-groups covering shortlist ids instead of the
    * full vector table. Results are identical to [[probe]] with the same
    * quantizer state. */
  def probeSaved(spark: SparkSession, path: String, idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 k: Int, nProbe: Int, shortlistFactor: Int = 5): DataFrame = {
    require(shortlistFactor >= 1, s"shortlistFactor=$shortlistFactor")
    val index = load(spark, path, idCol)
    val sl = adcShortlist(index, queries, qIdCol, qVecCol,
      k * shortlistFactor, nProbe)
    val rows = sl.collect() // bounded: queries × k × shortlistFactor rows
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(rows.toSeq.asJava, sl.schema)
    val ids = rows.map(_.get(1)).distinct.toSeq
    val vecs = fetchVectors(loadVectors(spark, path), idCol, ids)
    exactRerank(vecs, idCol, vecCol, local, queries, qIdCol, qVecCol, k)
  }

  /** One-shot build + probe (gate shape; deployments [[build]] once). */
  def topK(corpus: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
           k: Int, nCells: Int, nProbe: Int, m: Int, ksub: Int,
           seed: Long = 42L, shortlistFactor: Int = 5,
           precomputed: Option[org.apache.spark.ml.clustering.KMeansModel] = None): DataFrame = {
    val idx = build(corpus, idCol, vecCol, nCells, m, ksub, seed,
      precomputed = precomputed)
    probe(idx, corpus, vecCol, queries, qIdCol, qVecCol, k, nProbe, shortlistFactor)
  }
}
