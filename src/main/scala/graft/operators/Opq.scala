package graft.operators

import breeze.linalg.{svd, DenseMatrix}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.Tables
import graft.functions.{PqKernels, RotateVector}

/** Optimized Product Quantization (Ge, He, Ke, Sun, CVPR 2013): learn an
  * orthonormal rotation R so that PQ's independent per-subspace
  * quantizers fit the data's actual correlation structure, then quantize
  * `x·R` instead of `x`. Plain PQ's subspaces are arbitrary coordinate
  * blocks — when dimensions are correlated ACROSS blocks (the common case
  * for learned embeddings), each sub-quantizer wastes its codebook on
  * variance another block already explains. The rotation decorrelates and
  * balances variance across subspaces, cutting quantization error at the
  * SAME code size — pure recall-per-byte win.
  *
  * Fit is the paper's non-parametric alternating minimization on a
  * bounded seeded sample, driver-side (the sample is capped at
  * `maxFitRows` ≪ corpus — same contract as [[Pq.fit]]; at 20k×64 the
  * whole optimization is megabytes and milliseconds, and no published
  * recipe distributes it):
  *   repeat: fit codebooks on X·R (per-subspace Lloyd) → reconstruct Y →
  *   orthogonal Procrustes `min_R ‖X·R − Y‖_F` = SVD(XᵀY) → R = U·Vᵀ.
  * Each step monotonically lowers ‖X·R − decode(encode(X·R))‖², the
  * objective both steps share.
  *
  * Everything corpus-side stays distributed and fused: the rotation is a
  * map-side codegen kernel ([[RotateVector]]) in the same projection as
  * [[graft.functions.PqEncode]], the ADC probe rides the standard
  * [[Pq.adcTopK]] bounded-heap path on rotated queries, and the exact
  * re-rank runs in the ORIGINAL space (cosine is rotation-invariant, so
  * the raw vector table is fetched untouched — [[Pq.exactRerank]]).
  */
object Opq {

  /** Learned rotation (row-major d×d flat) + codebooks fit on X·R. */
  final case class Model(flat: Array[Float], dim: Int, cb: Pq.Codebooks)

  /** `vec · R` as a fused map-side column. */
  def rotateCol(vec: Column, model: Model): Column =
    Bridge.column(RotateVector(Bridge.expression(vec), model.flat, model.dim))

  import graft.functions.VectorOps.unitNorm

  /** Alternating-minimization fit on a bounded seeded sample.
    * `iters = 0` skips the rotation updates entirely — R stays identity
    * and the result is plain PQ through the identical fit machinery, the
    * controlled ablation OpqSpec uses to pin the rotation's error win. */
  def fit(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
          iters: Int = 4, seed: Long = 42L, maxFitRows: Long = 20000L): Model = {
    require(m >= 1 && ksub >= 1 && iters >= 0, s"m=$m ksub=$ksub iters=$iters")
    require(maxFitRows >= ksub && maxFitRows <= Int.MaxValue,
      s"maxFitRows=$maxFitRows out of range")
    val vecs = corpus.select(unitNorm(col(vecCol)).as("_vn"))
    val n = vecs.count()
    require(n > 0, "opq fit: empty corpus")
    val fitInput =
      if (n <= maxFitRows) vecs
      else vecs.sample(withReplacement = false,
          math.min(1.0, 1.2 * maxFitRows.toDouble / n), seed)
        .limit(maxFitRows.toInt)
    val x: Array[Array[Double]] =
      fitInput.collect().map(_.getSeq[Double](0).toArray)
    val d = x(0).length
    require(d % m == 0, s"dim=$d not divisible by m=$m")

    val nRows = x.length
    val xm = DenseMatrix.tabulate(nRows, d)((i, j) => x(i)(j))
    var r = DenseMatrix.eye[Double](d)
    for (it <- 0 until iters) {
      val xr = xm * r
      val rows = Array.tabulate(nRows)(i => xr(i, ::).t.toArray)
      val cb = localPq(rows, m, ksub, seed)
      val recon = rows.map(reconstruct(_, cb))
      val ym = DenseMatrix.tabulate(nRows, d)((i, j) => recon(i)(j))
      val svd.SVD(u, _, vt) = svd(xm.t * ym)
      r = u * vt
    }
    val finalRows = {
      val xr = xm * r
      Array.tabulate(nRows)(i => xr(i, ::).t.toArray)
    }
    val cb = localPq(finalRows, m, ksub, seed)
    val flat = new Array[Float](d * d)
    for (j <- 0 until d; i <- 0 until d) flat(j * d + i) = r(j, i).toFloat
    Model(flat, d, cb)
  }

  private def reconstruct(row: Array[Double], cb: Pq.Codebooks): Array[Double] =
    Pq.decode(
      PqKernels.encode(new GenericArrayData(row), cb.centers).toSeq, cb)

  /** Per-subspace codebooks via the SHARED driver-local trainer
    * ([[Pq.localCodebooks]], R21). NOTE this was a BEHAVIOR change, not
    * a verbatim hoist: the pre-R21 inner loop used seeded partial
    * Fisher-Yates index init while the shared trainer uses k-means++
    * D²-sampling — RNG consumption and chosen centers differ, so OPQ
    * codebooks and the trained rotation changed in R21. Recall floors
    * were re-validated that round (OpqSpec; all 13 ANN gates hash-match
    * the oracle at the gate SFs) and again by the r22 trainer-A/B
    * artifact (dev/recall_trainer_ab.txt). */
  private def localPq(pts: Array[Array[Double]], m: Int, ksub: Int,
                      seed: Long): Pq.Codebooks =
    Pq.localCodebooks(pts, m, ksub, seed)

  /** Encode the corpus in rotated space: one fused map pass
    * (normalize → rotate → PQ-encode in a single codegen projection). */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame =
    df.select(col(idCol),
      Pq.encodeCol(rotateCol(unitNorm(col(vecCol)), model), model.cb).as("pq_code"))

  /** ADC shortlist in rotated space + exact re-rank in the ORIGINAL
    * space (cosine is rotation-invariant, so the raw vector table needs
    * no rotation pass). Output contract matches [[Pq.topKRerank]]. */
  def topKRerank(codes: DataFrame, model: Model, idCol: String,
                 corpus: DataFrame, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 k: Int, shortlistFactor: Int = 5): DataFrame = {
    require(shortlistFactor >= 1, s"shortlistFactor=$shortlistFactor")
    val qRot = queries.select(col(qIdCol),
      rotateCol(unitNorm(col(qVecCol)), model).as("_qr"))
    val shortlist = Pq.adcTopK(codes, model.cb, idCol, qRot, qIdCol, "_qr",
        k * shortlistFactor)
      .select(col(qIdCol), col(idCol))
    Pq.exactRerank(shortlist, idCol, corpus, vecCol, queries, qIdCol, qVecCol, k)
  }

  /** Mean squared quantization error of the model over a relation —
    * `avg ‖x·R − decode(encode(x·R))‖²` via the [[graft.functions.PqAdc]]
    * identity (probing a code with its own rotated vector). The number
    * OPQ minimizes; spec pins it strictly below plain PQ's on
    * cross-block-correlated data. */
  def meanQuantizationError(df: DataFrame, vecCol: String, model: Model): Double = {
    val rotated = df.select(rotateCol(unitNorm(col(vecCol)), model).as("_vr"))
    val scored = rotated.select(
      Pq.adcCol(Pq.encodeCol(col("_vr"), model.cb), col("_vr"), model.cb).as("e"))
    scored.agg(avg(col("e"))).head().getDouble(0)
  }

  /** Persist the OPQ deployment state: the code relation id-range-
    * clustered (point fetches prune row groups — the [[IvfPq.saveVectors]]
    * rationale), plus the rotation and codebooks (tiny). */
  def save(model: Model, codes: DataFrame, idCol: String,
           spark: SparkSession, path: String, nFiles: Int = 32): Unit = {
    require(nFiles >= 1, s"nFiles=$nFiles")
    codes.repartitionByRange(nFiles, col(idCol))
      .sortWithinPartitions(idCol)
      .write.mode("overwrite").parquet(s"$path/codes")
    import spark.implicits._
    Seq((model.dim, model.flat.toSeq)).toDF("dim", "flat")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    Pq.saveCodebooks(spark, model.cb, s"$path/codebooks")
  }

  /** Load a [[save]]d model + code relation (codes stay disk-resident). */
  def load(spark: SparkSession, path: String): (Model, DataFrame) = {
    val row = Tables.read(spark, s"$path/rotation").head()
    val model = Model(
      row.getSeq[Float](row.fieldIndex("flat")).toArray,
      row.getInt(row.fieldIndex("dim")),
      Pq.loadCodebooks(spark, s"$path/codebooks"))
    (model, Tables.read(spark, s"$path/codes"))
  }

  /** OPQ + IVF-PQ — the complete published billion-scale recipe (the
    * FAISS `OPQ…,IVF…,PQ…` index string): one global rotation, then
    * coarse cells + product-quantized RESIDUALS in the rotated space.
    * Pure composition: the rotated relation feeds [[IvfPq.topK]]
    * unchanged (rotation preserves norms, so the internal normalization
    * is a no-op, and reported cosines are rotation-invariant — exact
    * either way). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
              k: Int, nCells: Int, nProbe: Int, m: Int, ksub: Int,
              seed: Long = 42L, iters: Int = 4,
              shortlistFactor: Int = 5): DataFrame = {
    val model = fit(corpus, vecCol, m, ksub, iters, seed)
    val rot = corpus.select(col(idCol),
      rotateCol(unitNorm(col(vecCol)), model).as("_vr"))
    val qRot = queries.select(col(qIdCol),
      rotateCol(unitNorm(col(qVecCol)), model).as("_qr"))
    IvfPq.topK(rot, qRot, idCol, "_vr", qIdCol, "_qr", k, nCells, nProbe,
      m, ksub, seed, shortlistFactor)
  }

  /** One-shot fit + encode + rotated-ADC + exact re-rank (the `ann_opq`
    * gate shape; deployments [[fit]]/[[encode]] once and probe). */
  def topK(corpus: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
           k: Int, m: Int, ksub: Int, seed: Long = 42L,
           iters: Int = 4, shortlistFactor: Int = 5): DataFrame = {
    val model = fit(corpus, vecCol, m, ksub, iters, seed)
    topKRerank(encode(corpus, idCol, vecCol, model), model, idCol,
      corpus, vecCol, queries, qIdCol, qVecCol, k, shortlistFactor)
  }
}
