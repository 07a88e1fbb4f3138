package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps.{dotCol, unitNorm}

/** PCA-reduced IVF ANN — the reduce-then-index deployment the [[Pca]]
  * spectrum report exists to justify (reference surface: the embedding
  * similarity path of `/root/reference` `sql/datamart`-style analytics,
  * scaled): project the corpus to its top-k principal subspace ONCE,
  * build/probe the IVF index over the short vectors, then re-rank the
  * shortlist EXACTLY in the original space.
  *
  * Why this composition is the 100 TB shape:
  *  - the index (cells + stored vectors) holds k-dim instead of d-dim
  *    vectors — at k=16 of 64 that is a 4× shrink of every byte the
  *    probe scan touches, and the per-candidate dot product is 4× less
  *    arithmetic;
  *  - PCA is the ROTATION that makes truncation least lossy (best
  *    rank-k subspace in Frobenius norm), so shortlist recall degrades
  *    far slower than truncating raw coordinates;
  *  - the final scores are EXACT original-space cosines: reduction can
  *    only cost recall (a true neighbor missing from the shortlist),
  *    never report a wrong similarity — the same one-sided contract as
  *    [[IvfPq.probe]]'s ADC shortlist + exact re-rank.
  *
  * The re-rank fetch broadcast-joins the (queries × k·shortlistFactor)
  * shortlist against the raw vector relation — the corpus never
  * shuffles, mirroring `IvfPq.exactRerank`.
  */
object PcaAnn {

  /** A probe-ready reduced-space index: the PCA model (to project
    * arriving queries) + the [[Ivf.Index]] over the projected corpus.
    * The raw vector relation is NOT retained here — [[probe]] takes it
    * as an argument, the [[IvfPq.probe]] convention (deployments keep
    * vectors in their own persisted relation). */
  final case class Index private[PcaAnn](pca: Pca.Model, ivf: Ivf.Index) {
    def unpersist(): Unit = ivf.unpersist()
  }

  /** Fit PCA on the corpus, project map-side, and build the IVF index
    * in the reduced space. All eager cost (moment pass, k-means fit,
    * assignment materialization) lives here; [[probe]] plans are
    * training-free. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            pcaK: Int, nCells: Int, seed: Long = 42L): Index = {
    val model = Pca.fit(corpus, vecCol, pcaK)
    val reduced = corpus.select(col(idCol),
      Pca.projectCol(col(vecCol), model).as("_vp"))
    Index(model, Ivf.build(reduced, idCol, "_vp", nCells, seed))
  }

  /** Probe: project each query with the index's PCA model (map-side
    * literal-array arithmetic, same as the corpus projection), shortlist
    * `k·shortlistFactor` candidates per query from the reduced-space IVF
    * index, then re-rank exactly in the ORIGINAL space from `corpus`.
    * Reported `cos_sim` values are exact original-space cosines. */
  def probe(index: Index, corpus: DataFrame, vecCol: String,
            queries: DataFrame, qIdCol: String, qVecCol: String,
            k: Int, nProbe: Int, shortlistFactor: Int = 5): DataFrame = {
    require(shortlistFactor >= 1, s"shortlistFactor=$shortlistFactor")
    val qReduced = queries.select(col(qIdCol),
      Pca.projectCol(col(qVecCol), index.pca).as("_qp"))
    val shortlist = Ivf.probe(index.ivf, qReduced, qIdCol, "_qp",
        k * shortlistFactor, nProbe)
      .select(col(qIdCol), col(index.ivf.idCol))
    exactRerank(corpus, index.ivf.idCol, vecCol, shortlist,
      queries, qIdCol, qVecCol, k)
  }

  /** Persist a built index: the reduced-space IVF relation through
    * [[Ivf.save]] (cell-partitioned parquet — probes prune partitions),
    * the PCA model as one tiny row alongside. The cross-session form of
    * [[build]]'s in-memory artifact, same contract as its siblings'
    * save/load (`Ivf`/`IvfPq`/`Opq`). */
  def save(index: Index, spark: org.apache.spark.sql.SparkSession,
           path: String): Unit = {
    Ivf.save(index.ivf, spark, s"$path/ivf")
    import spark.implicits._
    Seq((index.pca.mean.toSeq, index.pca.components.map(_.toSeq).toSeq,
        index.pca.varianceShare.toSeq))
      .toDF("mean", "components", "variance_share")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pca")
  }

  /** Load a [[save]]d index. The IVF relation stays disk-resident; the
    * PCA model is tiny and collected. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
           idCol: String): Index = {
    val r = Tables.read(spark, s"$path/pca").head()
    val model = Pca.Model(
      r.getSeq[Double](r.fieldIndex("mean")).toArray,
      r.getSeq[scala.collection.Seq[Double]](r.fieldIndex("components"))
        .map(_.toArray).toArray,
      r.getSeq[Double](r.fieldIndex("variance_share")).toArray)
    Index(model, Ivf.load(spark, s"$path/ivf", idCol))
  }

  /** One-shot fit + build + probe (the cold `ann_pca` gate shape;
    * deployments [[build]] once and [[probe]] per query batch). */
  def topK(corpus: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
           k: Int, pcaK: Int, nCells: Int, nProbe: Int,
           seed: Long = 42L, shortlistFactor: Int = 5): DataFrame = {
    val index = build(corpus, idCol, vecCol, pcaK, nCells, seed)
    probe(index, corpus, vecCol, queries, qIdCol, qVecCol,
      k, nProbe, shortlistFactor)
  }

  /** Exact original-space re-rank of a (q_id, id) shortlist: broadcast
    * fetch of shortlist vectors only, codegen'd dot product, bounded-heap
    * top-k per query (no window). Same shape as `IvfPq.exactRerank`. */
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
}
