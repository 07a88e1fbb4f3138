package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.Tables
import graft.functions.{PqAdc, PqEncode}

/** Product quantization (Jégou et al. 2011) — the third ANN scale path next
  * to LSH ([[Similarity.lshTopK]]) and IVF ([[Ivf]]), attacking a different
  * axis: REPRESENTATION WIDTH. LSH/IVF shrink the candidate set; PQ shrinks
  * every candidate to an m-byte-scale code (d=64 floats = 256 B → m=8
  * smallints), so the corpus-side scan, shuffle, and resident index all
  * narrow ~16×. At 100 TB of embeddings that is the difference between a
  * 100 TB probe scan and a ~6 TB one — and the two compose (IVF-PQ is the
  * published billion-scale recipe: coarse cells bound the candidates, codes
  * bound the bytes per candidate).
  *
  * Scale shape mirrors [[Ivf]]: codebooks FIT on a bounded seeded sample
  * (m in-sample k-means jobs, ≤maxFitRows rows each), then encoding is one
  * map pass with a fused codegen expression ([[PqEncode]]) — no shuffle,
  * no driver loop. Distances are asymmetric (ADC): the RAW query against
  * the code's reconstruction, exact to quantization — [[PqAdc]] — so query
  * precision is never quantized away, only corpus storage is.
  *
  * All vectors are unit-normalized first (the repo-wide similarity
  * convention): squared L2 on unit vectors is 2 - 2·cosine, so min-ADC
  * ranking is max-cosine ranking with quantization error only on the
  * corpus side.
  */
object Pq {

  /** Max concurrent driver-side k-means fit jobs ([[fitVecs]]). */
  private val FitPoolSize = 8

  /** Fitted per-subspace codebooks: `centers(j)(c)(t)`. */
  final case class Codebooks(centers: Array[Array[Array[Float]]]) {
    val m: Int = centers.length
    val dsub: Int = centers(0)(0).length
    val dim: Int = m * dsub
    /** Effective centroid count per subspace (k-means may return < k). */
    def ksub(j: Int): Int = centers(j).length
  }

  import graft.functions.VectorOps.unitNorm

  /** Raw column kernels (no normalization — [[IvfPq]] feeds RESIDUALS,
    * which must never be re-normalized). */
  private[operators] def encodeCol(vec: Column, cb: Codebooks): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), cb.centers))

  private[operators] def adcCol(code: Column, q: Column, cb: Codebooks): Column =
    Bridge.column(PqAdc(Bridge.expression(code), Bridge.expression(q), cb.centers))

  /** Fit per-subspace codebooks on a bounded seeded sample (the [[Ivf]]
    * sampling contract: oversampled Bernoulli draw hard-capped by limit).
    * One sample scan pinned once; m k-means fits run over its column
    * slices — each job sees dsub-dim points, so total fit work ≈ one
    * d-dim k-means regardless of m. */
  def fit(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
          seed: Long = 42L, maxFitRows: Long = Ivf.MaxFitRows): Codebooks =
    fitVecs(corpus.select(unitNorm(col(vecCol)).as("_vn")),
      m, ksub, seed, maxFitRows)

  /** [[fit]] over an ALREADY-PREPARED double-array column `_vn` — the
    * entry point for residual codebooks ([[IvfPq]]), where normalizing
    * would destroy the residual geometry.
    *
    * The fit is DRIVER-LOCAL over the collected bounded sample (R21):
    * the sample is hard-capped at `maxFitRows` rows by contract — the
    * stated memory bound — so m seeded Lloyd runs over its column slices
    * are megabytes and milliseconds in-process, where the previous m
    * Spark-ML KMeans estimators each paid tens of tiny distributed jobs
    * (init + per-iteration aggregates; measured 3.5 s steady at sf0.1
    * for m=16 over 2 000 vectors — virtually the whole cold `ann_pq`
    * gate). Same trainer as [[Opq]]'s published-recipe fit (localPq),
    * which already clears STRICTER recall floors; corpus-side encode and
    * probe stay distributed and fused, unchanged. */
  private[operators] def fitVecs(vecs: DataFrame, m: Int, ksub: Int,
                                 seed: Long, maxFitRows: Long): Codebooks = {
    require(m >= 1, s"m=$m")
    require(ksub >= 1 && ksub <= Short.MaxValue, s"ksub=$ksub out of short range")
    require(maxFitRows >= ksub, s"maxFitRows=$maxFitRows < ksub=$ksub")
    require(maxFitRows <= Int.MaxValue,
      s"maxFitRows=$maxFitRows exceeds Int.MaxValue (limit() takes an Int)")
    val n = vecs.count()
    val fitInput =
      if (n <= maxFitRows) vecs
      else vecs.sample(withReplacement = false,
          math.min(1.0, 1.2 * maxFitRows.toDouble / n), seed)
        .limit(maxFitRows.toInt)
    val pts: Array[Array[Double]] =
      fitInput.collect().map(_.getSeq[Double](0).toArray) // ≤ maxFitRows rows
    require(pts.nonEmpty,
      "pq fit: empty corpus — no vectors to train codebooks on")
    val dim = pts(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    localCodebooks(pts, m, ksub, seed)
  }

  /** Per-subspace codebooks via seeded local Lloyd on the sample's column
    * slices — the shared driver-local PQ trainer ([[Opq]]'s fit inner
    * loop and [[fitVecs]]'s whole fit). Subspaces are independent; they
    * train concurrently on a bounded pool. */
  private[operators] def localCodebooks(pts: Array[Array[Double]], m: Int,
                                        ksub: Int, seed: Long): Codebooks = {
    val d = pts(0).length
    val dsub = d / m
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, FitPoolSize),
      r => { val t = new Thread(r, "graft-pq-fit"); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Codebooks(Await.result(
        Future.sequence((0 until m).map { j => Future {
          val slice = pts.map(p =>
            java.util.Arrays.copyOfRange(p, j * dsub, (j + 1) * dsub))
          localLloyd(slice, ksub, iters = 8, seed + j)
        }}), Duration.Inf).toArray)
    } finally pool.shutdown()
  }

  /** Deterministic k-means: seeded K-MEANS++ init (Arthur &
    * Vassilvitskii 2007 — first center uniform, each next sampled ∝ D²
    * to the chosen set; spreads centers across the data's actual modes
    * where plain random indices can stack inside one dense cluster and
    * strand empty cells), strict-< assignment (ties to the lowest
    * centroid — the [[graft.functions.PqKernels.encode]] convention),
    * empty clusters keep their previous center. Init stops early when
    * every remaining point duplicates a chosen center (D²-mass zero) —
    * extra centers would be dead weight; callers tolerate < k centers
    * ([[Codebooks.ksub]]). Shared by the PQ-family fits
    * ([[localCodebooks]], [[Opq]]) — the coarse IVF quantizer
    * deliberately stays on Spark-ML KMeans for recall
    * ([[Ivf.assign]] scaladoc; measured in dev/recall_trainer_ab.txt,
    * which also exercises `restarts` — a multi-restart local fit still
    * trails kmeans|| init on this corpus). */
  private[graft] def localLloyd(pts: Array[Array[Double]], k: Int,
                                iters: Int, seed: Long,
                                restarts: Int = 1): Array[Array[Float]] = {
    require(restarts >= 1, s"restarts=$restarts")
    if (restarts == 1) localLloydOnce(pts, k, iters, seed)
    else {
      // seeded restarts, lowest within-cluster sum of squares wins —
      // deterministic (fixed seed derivation, strict-< comparison keeps
      // the earliest seed on ties). The coarse IVF quantizer uses this:
      // one k-means++ draw can still land a poor local optimum on a
      // small corpus, and cell quality directly bounds probe recall.
      (0 until restarts).map { r =>
        val c = localLloydOnce(pts, k, iters, seed + r * 1000003L)
        (wcss(pts, c), r, c)
      }.minBy(t => (t._1, t._2))._3
    }
  }

  /** Within-cluster sum of squares of `pts` against `centers` — the
    * k-means objective, used to pick among [[localLloyd]] restarts. */
  private def wcss(pts: Array[Array[Double]], centers: Array[Array[Float]]): Double = {
    var s = 0.0
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      var best = Double.MaxValue
      var c = 0
      while (c < centers.length) {
        val ctr = centers(c)
        var dist = 0.0; var t = 0
        while (t < p.length) {
          val diff = p(t) - ctr(t); dist += diff * diff; t += 1
        }
        if (dist < best) best = dist
        c += 1
      }
      s += best
      i += 1
    }
    s
  }

  private def localLloydOnce(pts: Array[Array[Double]], k: Int,
                             iters: Int, seed: Long): Array[Array[Float]] = {
    val n = pts.length
    val d = pts(0).length
    val rng = new java.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var t = 0
      while (t < d) { val diff = a(t) - b(t); s += diff * diff; t += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val minD2 = new Array[Double](n)
    chosen += pts(rng.nextInt(n)).clone()
    var i = 0
    while (i < n) { minD2(i) = d2(pts(i), chosen(0)); i += 1 }
    var exhausted = false
    while (chosen.size < math.min(k, n) && !exhausted) {
      var total = 0.0
      i = 0
      while (i < n) { total += minD2(i); i += 1 }
      if (total <= 0.0) exhausted = true // all points duplicate a center
      else {
        val r = rng.nextDouble() * total
        var acc = 0.0; var pick = -1
        i = 0
        while (i < n && pick < 0) {
          acc += minD2(i)
          if (acc >= r) pick = i
          i += 1
        }
        if (pick < 0) pick = n - 1 // FP slack: cumulative sum undershot
        val c = pts(pick).clone()
        chosen += c
        i = 0
        while (i < n) {
          val dd = d2(pts(i), c)
          if (dd < minD2(i)) minD2(i) = dd
          i += 1
        }
      }
    }
    val kk = chosen.size
    val centers = chosen.toArray
    val assign = new Array[Int](n)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var dist = 0.0; var t = 0
          while (t < d) {
            val diff = pts(i)(t) - centers(c)(t); dist += diff * diff; t += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](kk, d)
      val counts = new Array[Long](kk)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var t = 0
        while (t < d) { sums(c)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var t = 0
          while (t < d) { centers(c)(t) = sums(c)(t) / counts(c); t += 1 }
        }
        c += 1
      }
    }
    centers.map(_.map(_.toFloat))
  }

  /** Encode the corpus: one map pass, `(id, pq_code array<smallint>)`.
    * This narrow relation (plus the codebooks) IS the persisted index —
    * write it out partitioned/bucketed however the probe side joins. */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: Codebooks): DataFrame =
    df.select(col(idCol),
      encodeCol(unitNorm(col(vecCol)), cb).as("pq_code"))

  /** Reconstruction of a code, driver-side (for tests/diagnostics). */
  def decode(code: Seq[Short], cb: Codebooks): Array[Double] =
    code.toArray.zipWithIndex.flatMap { case (c, j) =>
      cb.centers(j)(c.toInt).map(_.toDouble)
    }

  /** ADC top-k: every (query, code) pair scored with the fused [[PqAdc]]
    * kernel, per-query top-k by ascending approximate distance. The scan
    * side reads CODES only — the full-width vectors never enter this plan.
    * Queries are few and broadcast; ties break on id (deterministic).
    *
    * Ranking is the [[graft.functions.TopKRows]] bounded-heap aggregate,
    * not a window: a `row_number` over `partitionBy(q_id)` would hold the
    * ENTIRE code relation in one task per query (queries are few, so
    * per-query partitions are corpus-sized); the heap moves at most k rows
    * per (query, task) with map-side partials. Output is invariant. */
  def adcTopK(codes: DataFrame, cb: Codebooks, idCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int): DataFrame = {
    val q = queries.select(col(qIdCol),
      unitNorm(col(qVecCol)).as("_qn"))
    val scored = codes.crossJoin(broadcast(q))
      .where(col(idCol) =!= col(qIdCol))
      .withColumn("adc_d2", round(adcCol(col("pq_code"), col("_qn"), cb), 6))
      .select(col(qIdCol), col(idCol), col("adc_d2"))
    Analytics.topKPerGroupAgg(scored, Seq(qIdCol), "adc_d2", idCol, k,
      ascending = true)
  }

  /** ADC shortlist + EXACT re-rank (the published PQ deployment shape):
    * the code scan nominates `k × shortlistFactor` candidates per query,
    * then ONLY those candidates' raw vectors are fetched and rescored with
    * the codegen'd dot product. Quantization error now only costs recall
    * at the shortlist boundary — reported similarities are exact, and the
    * full-width vector relation is touched for queries×shortlist rows, not
    * the corpus (the shortlist is broadcast; the fetch is a broadcast
    * semi-join-shaped equi-join against the vector table, which at 100 TB
    * is a pruned point-lookup scan, not a full pass). Output shape matches
    * [[Similarity.bruteForceTopK]]: (q_id, id, cos_sim, rank). */
  def topKRerank(codes: DataFrame, cb: Codebooks, idCol: String,
                 corpus: DataFrame, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 k: Int, shortlistFactor: Int = 5): DataFrame = {
    require(shortlistFactor >= 1, s"shortlistFactor=$shortlistFactor")
    val shortlist = adcTopK(codes, cb, idCol, queries, qIdCol, qVecCol,
        k * shortlistFactor)
      .select(col(qIdCol), col(idCol))
    exactRerank(shortlist, idCol, corpus, vecCol, queries, qIdCol, qVecCol, k)
  }

  /** Exact cosine re-rank of a nominated (query, candidate) shortlist —
    * shared by every shortlist producer (PQ ADC, OPQ's rotated ADC): the
    * shortlist is broadcast, the fetch is a broadcast equi-join against
    * the vector table (a pruned point-lookup scan at 100 TB, never a full
    * pass), similarities are codegen'd exact dot products. */
  private[operators] def exactRerank(shortlist: DataFrame, idCol: String,
                                     corpus: DataFrame, vecCol: String,
                                     queries: DataFrame, qIdCol: String,
                                     qVecCol: String, k: Int): DataFrame = {
    import graft.functions.VectorOps.dotCol
    val cn = corpus.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    val qn = queries.select(col(qIdCol), unitNorm(col(qVecCol)).as("_qn"))
    val rescored = cn.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(qn), Seq(qIdCol))
      .withColumn("cos_sim", round(dotCol(col("_qn"), col("_vn")), 6))
      .select(col(qIdCol), col(idCol), col("cos_sim"))
    Analytics.topKPerGroupAgg(rescored, Seq(qIdCol), "cos_sim", idCol, k)
  }

  /** Streaming ANN against a static PQ index: arriving query vectors →
    * ADC prefilter over the code relation → exact rescore → cos ≥ minCos.
    *
    * Per-query top-k needs a rank window, which streaming append mode
    * cannot run — so the streaming surface is THRESHOLDED neighbors (the
    * [[Similarity.decontaminateSemantic]] shape). Both joins are
    * stream-static (legal, stateless per micro-batch): first the
    * code-narrow scan for the ADC gate, then a point-fetch of raw vectors
    * for survivors only.
    *
    * The ADC gate is a RECALL/COST dial, not a completeness guarantee:
    * for a true neighbor at distance d with per-vector quantization error
    * ε (`ε = ‖x − decode(code_x)‖`), the triangle inequality gives
    * `adc ≤ (d + ε)² = d² + 2·d·ε + ε²` — the gap grows with `2·d·ε`,
    * so a neighbor NEAR the distance threshold is dropped whenever
    * `2·d·ε + ε² > adcSlack`. To make the gate lossless for a measured
    * index, size the slack from the corpus's worst quantization error:
    * `adcSlack ≥ 2·√(2−2·minCos)·maxε + maxε²`. Planted exact duplicates
    * (d = 0) always pass at any slack ≥ ε² — their ADC distance IS the
    * corpus vector's own quantization error, no d-cross-term. Rescore is
    * exact, so slack only trades recall against candidate count, never
    * precision of reported similarities.
    */
  def streamingNeighbors(queries: DataFrame, qIdCol: String, qVecCol: String,
                         codes: DataFrame, cb: Codebooks, idCol: String,
                         corpus: DataFrame, vecCol: String,
                         minCos: Double, adcSlack: Double = 0.3): DataFrame = {
    import graft.functions.VectorOps.dotCol
    require(adcSlack >= 0.0, s"adcSlack=$adcSlack")
    val qn = queries.select(col(qIdCol), unitNorm(col(qVecCol)).as("_qn"))
    val dBound = 2.0 - 2.0 * minCos + adcSlack
    val cand = qn.crossJoin(codes)
      .withColumn("adc_d2", adcCol(col("pq_code"), col("_qn"), cb))
      .where(col("adc_d2") <= dBound && col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col("_qn"), col(idCol))
    val cn = corpus.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    cand.join(cn, Seq(idCol))
      .withColumn("cos_sim", round(dotCol(col("_qn"), col("_vn")), 6))
      .where(col("cos_sim") >= minCos)
      .select(col(qIdCol), col(idCol), col("cos_sim"))
  }

  /** Max per-vector quantization error `ε = max ‖x − decode(code_x)‖`
    * over the corpus — the measured quantity that sizes a LOSSLESS ADC
    * gate ([[losslessSlack]]). Reuses the [[PqAdc]] kernel: probing a
    * code with its OWN raw vector gives exactly
    * `adc(code_x, x) = ‖x − decode(code_x)‖² = ε_x²`. One map-side pass
    * over codes⋈vectors; the driver receives a single double. Compute it
    * once at index-build time and persist it with the codebooks. */
  def maxQuantizationError(codes: DataFrame, cb: Codebooks, idCol: String,
                           corpus: DataFrame, vecCol: String): Double = {
    val cn = corpus.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    val row = codes.join(cn, Seq(idCol))
      .agg(max(adcCol(col("pq_code"), col("_vn"), cb)).as("m"))
      .head()
    if (row.isNullAt(0)) 0.0 else math.sqrt(math.max(0.0, row.getDouble(0)))
  }

  /** The smallest `adcSlack` making the [[streamingNeighbors]] ADC gate
    * LOSSLESS for per-vector quantization error ≤ `maxEps`: a true
    * neighbor at distance d ≤ √(2−2·minCos) has
    * `adc ≤ (d+ε)² = d² + 2·d·ε + ε²`, and the d-cross-term is largest
    * exactly at the threshold — so `2·√(2−2·minCos)·maxEps + maxEps²`
    * covers every in-threshold neighbor. Spec-pinned: with this slack the
    * gate drops NO neighbor the exact computation keeps. */
  def losslessSlack(minCos: Double, maxEps: Double): Double = {
    require(maxEps >= 0.0, s"maxEps=$maxEps")
    val dMax = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCos))
    2.0 * dMax * maxEps + maxEps * maxEps
  }

  /** Persist codebooks as a tiny (sub, idx, ctr) relation — shared by
    * [[IvfPq.save]] and [[Opq.save]]. */
  private[operators] def saveCodebooks(spark: org.apache.spark.sql.SparkSession,
                                       cb: Codebooks, path: String): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val rows = cb.centers.zipWithIndex.flatMap { case (sub, j) =>
      sub.zipWithIndex.map { case (ctr, c) =>
        org.apache.spark.sql.Row(j, c, ctr.toSeq)
      }
    }.toSeq.asJava
    val schema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("idx", IntegerType, nullable = false),
      StructField("ctr", ArrayType(FloatType), nullable = false)))
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private[operators] def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Codebooks = {
    val centers = Tables.read(spark, path)
      .orderBy("sub", "idx").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](r.fieldIndex("ctr")).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2))
      .toArray
    require(centers.nonEmpty, s"pq load: no codebooks at $path")
    Codebooks(centers)
  }

  /** One-shot fit + encode + ADC + exact re-rank (the `ann_*` gate shape;
    * deployments [[fit]]/[[encode]] once and probe per batch). */
  def topK(corpus: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
           k: Int, m: Int, ksub: Int, seed: Long = 42L,
           shortlistFactor: Int = 5): DataFrame = {
    val cb = fit(corpus, vecCol, m, ksub, seed)
    topKRerank(encode(corpus, idCol, vecCol, cb), cb, idCol, corpus, vecCol,
      queries, qIdCol, qVecCol, k, shortlistFactor)
  }
}
