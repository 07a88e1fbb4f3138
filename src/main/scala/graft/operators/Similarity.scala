package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.Materialize
import graft.functions.{DotProduct, Hyperplanes, HyperplaneSignatures}

/** Embedding similarity search.
  *
  *  - [[cosine]]: pure column expression (`zip_with` + `aggregate`), codegen
  *    friendly, double math over float inputs (cast first — both engines
  *    then agree bitwise up to summation order; outputs are rounded to 6).
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
  *    stream the corpus once, per-query top-k via window. Zero shuffles of
  *    the corpus beyond the final per-query k rows.
  *  - [[neardupPairs]]: all-pairs threshold join (exact; for corpora small
  *    enough to self-join).
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB path. Each vector
  *    hashes to a bucket signature map-side; candidates are bucket-mates
  *    only (plus optional multi-probe by flipping one bit), so the join is
  *    bucket-local instead of all-pairs.
  */
object Similarity {

  /** Cosine similarity of two double-array columns (sequential fold —
    * deterministic order). */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  // cast/normalize/dot shared with Ivf so every similarity operator stays
  // bitwise-comparable — see graft.functions.VectorOps
  import graft.functions.VectorOps.{dotCol, unitNorm}

  /** Exact top-k cosine neighbors for each query vector.
    * @param queries small DataFrame (q_id, q_vec) — broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String,
                     qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    val q = queries.select(col(qIdCol), unitNorm(col(qVecCol)).as("_qn"))
    // per-query top-k via the TopKRows bounded heap: the window
    // formulation holds the ENTIRE corpus in one task per query (queries
    // are few) — even for this declared brute-force baseline, the
    // selection should not be the scale bottleneck, only the scoring
    val scored = c
      .crossJoin(broadcast(q))
      .where(col(idCol) =!= col(qIdCol))
      .withColumn("cos_sim", round(dotCol(col("_qn"), col("_vn")), 6))
      .select(col(qIdCol), col(idCol), col("cos_sim"))
    Analytics.topKPerGroupAgg(scored, Seq(qIdCol), "cos_sim", idCol, k)
  }

  /** All pairs (i < j) with cosine >= threshold (exact, self-join). */
  def neardupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("i"), unitNorm(col(vecCol)).as("va"))
    val b = corpus.select(col(idCol).as("j"), unitNorm(col(vecCol)).as("vb"))
    a.join(b, col("i") < col("j"))
      .withColumn("cos_sim", round(dotCol(col("va"), col("vb")), 6))
      .where(col("cos_sim") >= threshold)
      .select("i", "j", "cos_sim")
  }

  /** Bucketed near-dup pairs — the 100 TB shape for [[neardupPairs]]:
    * candidates are pairs sharing at least one (table, hyperplane-signature)
    * bucket, exact-rescored with the codegen'd dot product over
    * pre-normalized vectors and thresholded. The self-join is bucket-local
    * (an equi-join on (tbl, sig) — never BroadcastNestedLoop), so work
    * scales with bucket occupancy instead of n². Recall vs the exact
    * all-pairs variant is (1-(1-p^P)^T) per pair, p = 1 - θ/π — tune
    * `planesPerTable` up for high-similarity dedup corpora (see SCALING.md).
    *
    * The bucket relation is pinned once ([[Materialize.pin]]): both
    * self-join branches would otherwise recompute normalization +
    * signatures for the whole corpus.
    */
  def neardupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nTables: Int, planesPerTable: Int,
                      dim: Int, seed: Long = 42L): DataFrame = {
    val buckets = Materialize.pin(corpus
      // signatures from the RAW vector (what the oracle sees) — signs are
      // normalization-invariant mathematically, this keeps them bitwise so.
      // Both expressions are fused + codegen'd and take the raw column
      // directly: no asDouble lambda, the projection stays in one span.
      .select(col(idCol), unitNorm(col(vecCol)).as("_vn"),
        lshSignatures(col(vecCol), nTables, planesPerTable, dim, seed).as("_sigs"))
      .select(col(idCol), col("_vn"), posexplode(col("_sigs")).as(Seq("tbl", "sig"))))
    val a = buckets.select(col(idCol).as("i"), col("_vn").as("va"), col("tbl"), col("sig"))
    val b = buckets.select(col(idCol).as("j"), col("_vn").as("vb"), col("tbl"), col("sig"))
    a.join(b, Seq("tbl", "sig")).where(col("i") < col("j"))
      .withColumn("_cs", round(dotCol(col("va"), col("vb")), 6))
      .where(col("_cs") >= threshold)
      // a pair can collide in several tables; the rescored value is identical
      .groupBy(col("i"), col("j")).agg(max(col("_cs")).as("cos_sim"))
  }

  /** Deterministic ±1 random hyperplanes (seeded) as literal arrays. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] =
    Hyperplanes.planes(nPlanes, dim, seed).toSeq

  /** Sign-bucket signature for a vector column under the given planes —
    * the `functions`-composed REFERENCE implementation (one interpreted
    * lambda walk per plane). The hot paths use the fused
    * [[graft.functions.HyperplaneSignatures]]; this stays as the
    * equivalence check in SimilaritySpec. */
  def lshSignature(vec: Column, planes: Seq[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit(_)): _*)
      val d = aggregate(zip_with(vec, planeLit, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
      when(d >= 0, shiftleft(lit(1), i)).otherwise(lit(0))
    }
    bits.reduce((x, y) => x.bitwiseOR(y)).cast("int")
  }

  /** All `nTables` bucket signatures of a (double-array) vector column in
    * one fused pass (native expression). Table `t` uses seed `seed + t`. */
  def lshSignatures(vec: Column, nTables: Int, planesPerTable: Int,
                    dim: Int, seed: Long = 42L): Column =
    Bridge.column(HyperplaneSignatures(
      Bridge.expression(vec), nTables, planesPerTable, dim, seed))

  /** ANN top-k via multi-table random-hyperplane LSH with exact rescoring.
    *
    * One table of P planes has per-neighbor collision probability
    * (1 - θ/π)^P — tiny for moderate similarities — so candidates are the
    * UNION over `nTables` independent tables (recall ≈ 1-(1-p^P)^T).
    * The corpus emits one (table, bucket) row per table map-side; queries
    * (broadcast) do the same; the join is bucket-local; distinct candidates
    * are rescored exactly. Recall vs [[bruteForceTopK]] is asserted in
    * SimilaritySpec.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String,
              qIdCol: String, qVecCol: String,
              k: Int, nTables: Int, planesPerTable: Int, dim: Int,
              multiProbe: Boolean = false): DataFrame = {
    def bucketRows(df: DataFrame, vec: Column): DataFrame =
      df.withColumn("_sigs", lshSignatures(vec, nTables, planesPerTable, dim))
        .select(col("*"), posexplode(col("_sigs")).as(Seq("tbl", "sig")))
        .drop("_sigs")

    // Multi-probe: additionally look in every bucket one bit-flip away from
    // the query's signature — (1 + planesPerTable)× more probe rows on the
    // (tiny, broadcast) query side only, substantially higher recall without
    // touching the corpus-side index.
    def probeRows(df: DataFrame): DataFrame =
      if (!multiProbe) df
      else df.withColumn("sig",
        explode(array((col("sig") +: (0 until planesPerTable).map(b =>
          col("sig").bitwiseXOR(lit(1 << b)))): _*)))

    val qBuckets = probeRows(
        bucketRows(queries.select(col(qIdCol), col(qVecCol)), col(qVecCol)))
      .select(col(qIdCol), col("tbl"), col("sig"))
    val cand = bucketRows(corpus.select(col(idCol), col(vecCol)), col(vecCol))
      .select(col(idCol), col("tbl"), col("sig"))
      .join(broadcast(qBuckets), Seq("tbl", "sig"))
      .where(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol)).distinct()

    val scored = cand
      .join(broadcast(queries.select(col(qIdCol),
        unitNorm(col(qVecCol)).as("_qn"))), Seq(qIdCol))
      .join(corpus.select(col(idCol),
        unitNorm(col(vecCol)).as("_vn")), Seq(idCol))
      .withColumn("cos_sim", round(dotCol(col("_qn"), col("_vn")), 6))
      .select(col(qIdCol), col(idCol), col("cos_sim"))
    // bounded-heap top-k (LSH buckets bound the candidates, but the
    // per-query selection still must not sort them through one task)
    Analytics.topKPerGroupAgg(scored, Seq(qIdCol), "cos_sim", idCol, k)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by embedding —
    * quantize the corpus with the IVF k-means coarse quantizer
    * ([[Ivf.assign]]: sample-fit, one assignment pass), rescore pairs
    * EXACTLY but only within a cell, connect pairs at `cos >= threshold`
    * into components (pointer-jumping, [[Dedup.clustersFromEdges]]), keep
    * the minimum id per component. Flagged duplicates are exact-certain
    * (every edge was rescored with the codegen'd dot product); what the
    * quantizer costs is RECALL — a near-dup pair split across cells is
    * missed, the SemDeDup trade by design (raise `nCells` for tighter,
    * cheaper cells; lower it for higher recall; SimilaritySpec measures
    * both directions on planted clusters).
    *
    * Scale shape: k-means fits on a bounded sample in the driver
    * ([[Ivf.MaxFitRows]] cap), assignment is ONE map pass; the self-join
    * is cell-local (equi-join on `cell`, never all-pairs, never
    * BroadcastNestedLoop); components run over EDGES only (near-dups,
    * vanishingly few at corpus scale); the final verdict join is id-keyed
    * at doc grain. The assigned relation rides ONE scan via a pin —
    * both self-join branches and the verdict join reuse it. Cell skew
    * (a dense semantic region) is AQE's skew-join case on
    * the cell key; the SemDeDup answer is raising `nCells` so cells stay
    * small. */
  /** SEMANTIC decontamination — the embedding-space sibling of
    * [[CorpusOps.decontaminate]]: n-gram collision catches verbatim
    * leakage, but a PARAPHRASED or TRANSLATED benchmark item shares no
    * n-grams with its source; in embedding space it still sits next to
    * it. One row per (corpus doc, eval doc) pair with cosine >=
    * `threshold`.
    *
    * Scale shape: the eval side is tiny by definition (a benchmark), so
    * it broadcasts and the corpus is ONE map-side scan scoring each row
    * against every eval vector with the codegen'd dot product — no
    * shuffle of anything, ever; corpus × eval work is linear in the
    * corpus for a fixed benchmark. This is the rare case where the
    * "all-pairs" comparison IS the scale shape, because one side is
    * constant-sized. */
  def decontaminateSemantic(corpus: DataFrame, eval: DataFrame,
                            idCol: String, vecCol: String,
                            evalIdCol: String, evalVecCol: String,
                            threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold outside (0, 1]")
    val c = corpus.select(col(idCol), unitNorm(col(vecCol)).as("_vn"))
    val e = eval.select(col(evalIdCol).as("eval_id"),
      unitNorm(col(evalVecCol)).as("_en"))
    c.crossJoin(broadcast(e))
      .withColumn("cos_sim", round(dotCol(col("_vn"), col("_en")), 6))
      .where(col("cos_sim") >= threshold)
      .select(col(idCol), col("eval_id"), col("cos_sim"))
  }

  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double,
                    seed: Long = 42L,
                    maxFitRows: Long = Ivf.MaxFitRows): DataFrame = {
    val (assigned, _) = Ivf.assign(corpus, idCol, vecCol, nCells, seed, maxFitRows)
    semanticDedupAssigned(Materialize.pin(assigned), idCol, threshold)._1
  }

  /** [[semanticDedup]] against an ALREADY-BUILT IVF index — the amortized
    * deployment shape (the `ann_ivf_probe` precedent): the same persisted
    * quantizer that answers ANN probes also drives semantic dedup, and
    * because [[Ivf.build]] pre-shuffles the assigned relation by `cell`,
    * the cell-local self-join here needs NO exchange at all. */
  def semanticDedupIndexed(index: Ivf.Index, threshold: Double): DataFrame =
    semanticDedupAssigned(index.assigned, index.idCol, threshold)._1

  /** [[semanticDedupIndexed]] that ALSO hands back the operator's own
    * materialized edge relation (columns `i`,`j`, pinned) — the
    * contract gate audits verdicts against exactly this edge set, and
    * re-deriving it there cost a second full cell-local rescoring pass
    * (same kernel, same threshold — bit-identical by construction, so
    * sharing the blocks changes nothing but the work). */
  private[graft] def semanticDedupIndexedWithEdges(
      index: Ivf.Index, threshold: Double): (DataFrame, DataFrame) =
    semanticDedupAssigned(index.assigned, index.idCol, threshold)

  private def semanticDedupAssigned(local: DataFrame, idCol: String,
                                    threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold outside (0, 1]")
    val a = local.select(col("cell"), col(idCol).as("i"), col("_vn").as("va"))
    val b = local.select(col("cell"), col(idCol).as("j"), col("_vn").as("vb"))
    // materialized ONCE here; the component loop below and any caller
    // needing the edge set (the contract gate) share these blocks
    val edges = Materialize.pin(a.join(b, Seq("cell")).where(col("i") < col("j"))
      .where(round(dotCol(col("va"), col("vb")), 6) >= threshold)
      .select("i", "j"))
    val verdicts = Dedup.clustersFromCheckpointedEdges(
        local.select(col(idCol)), edges, idCol)
      .join(local.select(col(idCol), col("cell")), Seq(idCol))
      .select(col(idCol), col("cell"),
        col("cluster_id").as("canonical_id"),
        (!col("is_canonical")).as("is_dup"))
    (verdicts, edges)
  }
}
