package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.Bridge

import graft.Materialize
import graft.functions.{MinHashSignature, ShingleSet, SimHash64}
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale shapes:
  *  - exact: one hash-groupBy shuffle on the fingerprint.
  *  - MinHash+LSH: signatures are map-side column expressions (one pass per
  *    salt over the shingle array, no explode of shingles); only the 4
  *    (band, band-hash) rows per doc shuffle — the self-join runs on LSH
  *    buckets, never on all pairs. Candidate verification touches only the
  *    bucket-collision set.
  *  - SimHash: one fused map-side expression per doc — zero shuffles.
  */
object Dedup {

  /** Exact dedup on normalized text: every doc mapped to the canonical
    * (minimum) doc id of its fingerprint group. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs
      .withColumn("fp", md5(normalized(col(textCol))))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  val NumHashes = 12
  val NumBands = 4 // rows-per-band = 3

  /** Per-doc MinHash signature columns sig0..sig11 over word 3-shingles.
    * Docs with fewer than 3 words are dropped (no shingles to sketch).
    * Uses the fused [[graft.functions.MinHashSignature]] native expression
    * (one pass over the shingles for all salts); values are identical to
    * the per-salt `TextFunctions.minhash` composition and the SQL oracle.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs
      .where(size(normWords(col(textCol))) >= 3)
      .withColumn("_sigarr", Bridge.column(MinHashSignature(
        Bridge.expression(normWords(col(textCol))), NumHashes, shingleSize = 3)))
    (0 until NumHashes).foldLeft(base) {
      case (df, k) => df.withColumn(s"sig$k", col("_sigarr").getItem(k))
    }.drop("_sigarr")
  }

  /** LSH band rows: (id, band, band_hash, sig…) — NumBands rows per doc.
    * The signature columns RIDE ALONG through the band explosion so the
    * candidate join can compute the similarity estimate inline — without
    * this, Spark re-derives the whole minhash pipeline (12 md5 passes over
    * every shingle) once per downstream reference. Carrying 12 hex strings
    * per row through one bucket-local shuffle is far cheaper at any scale.
    */
  def lshBands(sigs: DataFrame, idCol: String): DataFrame = {
    val rows = NumHashes / NumBands
    val bandStructs = (0 until NumBands).map { b =>
      val h = md5(concat((0 until rows).map(r => col(s"sig${b * rows + r}")): _*))
      struct(lit(b).as("band"), h.as("band_hash"))
    }
    sigs.withColumn("bb", explode(array(bandStructs: _*)))
      .withColumn("band", col("bb.band"))
      .withColumn("band_hash", col("bb.band_hash"))
      .drop("bb")
  }

  /** Candidate pairs (i < j) sharing at least one LSH bucket, with the
    * estimated similarity = fraction of matching signature components.
    *
    * The band relation is pinned once ([[Materialize.pin]]) before the
    * self-join: both branches would otherwise re-derive the whole
    * shingle→signature pipeline (12 md5 passes over every shingle).
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    candidatesFromBands(
      Materialize.pin(lshBands(minhashSignatures(docs, idCol, textCol), idCol)),
      idCol)

  /** The self-join half of [[minhashCandidates]], over an already
    * materialized band relation — shared with
    * [[DedupStore.incrementalCandidates]] so an increment's signatures
    * are computed once for both the new×new and new×history legs. */
  private[operators] def candidatesFromBands(bands: DataFrame,
                                             idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("i") +: col("band") +: col("band_hash") +:
      (0 until NumHashes).map(k => col(s"sig$k").as(s"si$k")): _*)
    val b = bands.select(col(idCol).as("j") +: col("band") +: col("band_hash") +:
      (0 until NumHashes).map(k => col(s"sig$k").as(s"sj$k")): _*)
    val matches = (0 until NumHashes)
      .map(k => when(col(s"si$k") === col(s"sj$k"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, Seq("band", "band_hash")).where(col("i") < col("j"))
      .withColumn("est_sim", matches.cast("double") / NumHashes)
      // same pair can collide in several bands; est_sim is identical for all
      .groupBy(col("i"), col("j")).agg(max(col("est_sim")).as("est_sim"))
  }

  /** n-gram Jaccard verification of LSH candidates: exact shingle-set
    * Jaccard for every candidate pair, thresholded.
    *
    * ONE text pass: the shingle set (verification) and the MinHash
    * signature (candidate generation) are computed in the SAME
    * projection over one shared pin — the former formulation
    * ran two independent full scans of the corpus text (one per fused
    * kernel), and the text scan is the dominant cost at scale. The
    * ≥3-words eligibility predicate is identical on both paths
    * (a 3-shingle exists iff the doc has ≥3 normalized words), so the
    * candidate and verification populations are unchanged. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val ws = normWords(col(textCol))
    // pinned: the relation feeds the band self-join AND both
    // verification joins
    val base = Materialize.pin(docs
      .where(size(ws) >= 3)
      .select(col(idCol),
        Bridge.column(ShingleSet(Bridge.expression(ws), 3)).as("_sh"),
        Bridge.column(MinHashSignature(Bridge.expression(ws), NumHashes,
          shingleSize = 3)).as("_sigarr")))
    val sh = base.select(col(idCol), col("_sh"))
    val sigs = (0 until NumHashes).foldLeft(base.drop("_sh")) {
      case (df, k) => df.withColumn(s"sig$k", col("_sigarr").getItem(k))
    }.drop("_sigarr")
    // narrow band pin (id, band, hash, sig…) so the self-join's two
    // legs do not each deserialize the wide shingle arrays riding the
    // base blocks — derived from blocks, not from a text re-scan
    val cand = candidatesFromBands(
      Materialize.pin(lshBands(sigs, idCol)), idCol)
      .select("i", "j")
    // intersection size computed ONCE per pair behind a pin barrier:
    // without it, the thresholding filter pushes through the
    // projection and re-inlines `array_intersect` into both the condition
    // and the output columns — 3-4 hash-set builds per candidate row,
    // measured ~2x the whole rescore at sf0.1. The barrier rows are
    // (i, j, 3 ints): tiny at any scale, because candidates are
    // band-bounded. Division arithmetic is unchanged (oracle parity).
    val scored = Materialize.pin(cand
      .join(sh.select(col(idCol).as("i"), col("_sh").as("sh_i")), "i")
      .join(sh.select(col(idCol).as("j"), col("_sh").as("sh_j")), "j")
      .select(col("i"), col("j"),
        Bridge.column(graft.functions.IntersectSize(
          Bridge.expression(col("sh_i")), Bridge.expression(col("sh_j"))))
          .cast("double").as("_inter"),
        size(col("sh_i")).as("_ni"), size(col("sh_j")).as("_nj")))
    scored
      .withColumn("jaccard",
        col("_inter") / (col("_ni") + col("_nj") - col("_inter")))
      .where(col("jaccard") >= threshold)
      .select("i", "j", "jaccard")
  }

  /** n-gram CONTAINMENT pairs — the asymmetric sibling of [[ngramJaccard]]
    * for the short-inside-long case Jaccard structurally misses: a quote,
    * an excerpt, or a fully-embedded document has `|A∩B|/|A| ≈ 1` while
    * `|A∩B|/|A∪B|` stays small, so neither the Jaccard threshold nor the
    * MINHASH candidate generator (band collision probability tracks
    * Jaccard) would surface the pair. Candidates here come from a
    * DF-CAPPED shingle equi-join instead: pairs sharing at least one
    * RARE shingle (document frequency <= `maxDf`), then exact
    * intersection rescoring; both directions emitted, thresholded on the
    * larger one. A contained doc shares ~all its shingles with its
    * container, so it is missed only if EVERY shared shingle is more
    * common than `maxDf` — boilerplate-only containment, which the
    * boilerplate operators own.
    *
    * Scale shape: one shingle explode (distinct per doc), one tiny
    * df rollup, the candidate join keyed on the shingle with the df cap
    * bounding per-key fan-out at `maxDf²` pairs — the cap IS the skew
    * guard (a stop-shingle never becomes a hot key); exact rescore only
    * on candidates, the [[ngramJaccard]] shape. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxDf: Int = 100): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold outside (0, 1]")
    require(maxDf >= 2, s"maxDf=$maxDf: need >= 2 for any pair to form")
    val sh = Materialize.pin(docs
      .withColumn("_sh", Bridge.column(ShingleSet(
        Bridge.expression(normWords(col(textCol))), 3)))
      .where(size(col("_sh")) > 0)
      .select(col(idCol), col("_sh")))
    val grams = sh.select(col(idCol), explode(col("_sh")).as("gram"))
    // pinned: the self-join below otherwise re-computes the gram
    // explode + df rollup once PER LEG (Catalyst has no common-subplan
    // reuse across join sides) — the executed plan showed two full
    // HashAggregate branches for the same rollup
    val rare = Materialize.pin(grams.join(
      grams.groupBy(col("gram")).agg(count(lit(1)).as("_df"))
        .where(col("_df") <= maxDf)
        .select(col("gram")),
      Seq("gram")))
    val cand = rare.select(col("gram"), col(idCol).as("i"))
      .join(rare.select(col("gram"), col(idCol).as("j")), Seq("gram"))
      .where(col("i") < col("j"))
      .select("i", "j").distinct()
    // single-evaluation rescore behind a pin barrier — see
    // ngramJaccard: the filter would otherwise re-inline array_intersect
    // into condition + both output columns (4 evaluations per candidate).
    // Barrier rows are (i, j, 3 ints); candidate count is maxDf²-bounded.
    val scored = Materialize.pin(cand
      .join(sh.select(col(idCol).as("i"), col("_sh").as("sh_i")), "i")
      .join(sh.select(col(idCol).as("j"), col("_sh").as("sh_j")), "j")
      .select(col("i"), col("j"),
        Bridge.column(graft.functions.IntersectSize(
          Bridge.expression(col("sh_i")), Bridge.expression(col("sh_j"))))
          .cast("double").as("_inter"),
        size(col("sh_i")).as("_ni"), size(col("sh_j")).as("_nj")))
    scored
      .withColumn("containment_i", col("_inter") / col("_ni"))
      .withColumn("containment_j", col("_inter") / col("_nj"))
      .where(greatest(col("containment_i"), col("containment_j")) >= threshold)
      .select("i", "j", "containment_i", "containment_j")
  }

  /** Near-duplicate clusters: connected components over the verified
    * near-dup pairs, labeling every doc with the minimum doc id reachable
    * through near-dup edges (`cluster_id`); `is_canonical` marks the keeper.
    * This is the step that turns pairwise detection into corpus dedup —
    * "keep one representative per near-dup cluster".
    *
    * Min-label propagation: each iteration is one (edges ⋈ labels) shuffle;
    * iterations = O(diameter of the largest cluster), and near-dup clusters
    * are shallow in practice (bounded by `maxIterations`, convergence
    * checked with a cheap count). At 100 TB the edge set is the (small)
    * verified-pair output, not the corpus, so the loop is cheap; the final
    * join back to all docs is one broadcast of the non-singleton labels.
    */
  def clusters(docs: DataFrame, idCol: String, textCol: String,
               threshold: Double, maxIterations: Int = 10): DataFrame =
    clustersFromEdges(docs,
      ngramJaccard(docs, idCol, textCol, threshold).select(col("i"), col("j")),
      idCol, maxIterations)

  /** Same, over precomputed near-dup edges (columns i, j) — lets a pipeline
    * that already ran [[ngramJaccard]] (or any pair source: embedding
    * near-dups, simhash bands) cluster without re-deriving the sketch.
    *
    * Each iteration is pinned ([[Materialize.pin]]): iterative plans
    * otherwise nest the previous iteration's plan several times over, and
    * after ~10 iterations the (exponentially grown) plan tree stalls
    * planning/AQE — caching alone reuses DATA but not the PLAN. A pin
    * truncates lineage to the stored data, keeping every iteration O(1)
    * plan size. (Found live: a 257-edge, large-diameter graph hung the
    * persist-only version.) Under a deployment checkpoint dir every pin
    * is a durable write: the label relation is doc_id+label, tiny next to
    * the corpus.
    */
  def clustersFromEdges(docs: DataFrame, edgesIn: DataFrame, idCol: String,
                        maxIterations: Int = 30): DataFrame =
    clustersFromCheckpointedEdges(docs,
      Materialize.pin(edgesIn.select(col("i"), col("j"))), idCol, maxIterations)

  /** [[clustersFromEdges]] over an edge relation the CALLER already
    * materialized (checkpoint/persisted blocks) — skips the entry
    * checkpoint so a pipeline that needs the edge set for its own
    * purposes (the `semantic_dedup` contract gate) materializes it
    * exactly once. Caller contract: `edges` has columns `i`,`j` and its
    * blocks outlive the loop. */
  private[graft] def clustersFromCheckpointedEdges(
      docs: DataFrame, edges: DataFrame, idCol: String,
      maxIterations: Int = 30): DataFrame = {
    // Each iteration's only action (the convergence count below) doubles
    // as the lazy pin's materialization job, so one job per iteration
    // instead of pin-then-count — lineage still truncates to the stored
    // blocks once that job runs, which is all the O(1)-plan-size
    // argument needs.
    // symmetric adjacency
    val adj = Materialize.pin(
      edges.union(edges.select(col("j").as("i"), col("i").as("j"))))

    var labels = Materialize.pin(adj.select(col("i").as("node")).distinct()
      .withColumn("lbl", col("node")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // Left outer, though every j has a label (labels covers every node
      // of the symmetric adj), so the rows are the inner join's: a left
      // outer join can only build labels, which the pointer-jumping join
      // below reuses. An inner join lets AQE broadcast whichever side's
      // shuffle stage finishes first, and broadcasting adj costs one
      // more job per iteration.
      val neighborMin = adj
        .join(labels.withColumnRenamed("node", "j").withColumnRenamed("lbl", "nlbl"),
              Seq("j"), "left_outer")
        .groupBy(col("i").as("node")).agg(min(col("nlbl")).as("nmin"))
      // The previous label RIDES ALONG as `_old` so the convergence check
      // below is a filter-count over the iteration's own checkpointed
      // blocks — the former formulation re-joined `next` against `labels`
      // (one extra shuffle join + scan per iteration) to recover exactly
      // this column. Label values are unchanged.
      val stepped = labels.join(neighborMin, Seq("node"), "left_outer")
        .select(col("node"), col("lbl").as("_old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // Pointer jumping: also adopt the label OF the current label, halving
      // the remaining distance to the component minimum every iteration —
      // convergence in O(log diameter) instead of O(diameter), which is what
      // makes long chains (observed: a 500-node graph with diameter > 10)
      // terminate quickly.
      val next = Materialize.pin(stepped
        .join(labels.select(col("node").as("lbl"), col("lbl").as("lbl2")),
              Seq("lbl"), "left_outer")
        .select(col("node"), col("_old"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
      val changed = next.where(col("lbl") =!= col("_old")).count()
      labels = next.select(col("node"), col("lbl"))
      converged = changed == 0
      iter += 1
    }
    docs.select(col(idCol))
      .join(labels.withColumnRenamed("node", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("lbl"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** 64-bit SimHash per document over normalized whitespace tokens — ONE
    * fused map-side expression ([[graft.functions.SimHash64]]), zero
    * shuffles. The previous formulation exploded every token of the corpus
    * through a 65-column groupBy (a full-corpus shuffle at 100 TB); this is
    * a scalar projection. md5-derived bits, so the DuckDB oracle re-derives
    * the sketch exactly (gate query `dedup_simhash`). Docs with an empty
    * token array are dropped, matching the explode formulation. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = normWords(col(textCol))
    docs.select(col(idCol),
        Bridge.column(SimHash64(Bridge.expression(w))).as("simhash"),
        size(w).cast("long").as("n_tokens"))
      .where(col("simhash").isNotNull)
  }

  val SimhashBands = 4 // 16 bits each

  /** SimHash near-dup pairs (i < j) within `maxHamming` bit flips — the
    * pairing half of the Charikar sketch, in the 100 TB shape: the 64-bit
    * signature splits into [[SimhashBands]] 16-bit bands; by pigeonhole,
    * any pair within `maxHamming` ≤ 3 differing bits agrees EXACTLY on at
    * least one band, so band-equality candidates lose no true pair (the
    * guarantee holds whenever maxHamming < SimhashBands). The self-join is
    * a bucket-local equi-join on (band, band-bits) — never all-pairs —
    * and the exact rescore is one codegen'd `bit_count(xor)` per candidate.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimhashBands,
      s"maxHamming=$maxHamming needs > $maxHamming bands for the pigeonhole " +
        s"guarantee; raise SimhashBands or lower the threshold")
    val bandStructs = (0 until SimhashBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bits"))
    }
    // pinned: both self-join branches share one materialized relation
    // (otherwise the corpus is scanned and simhashed TWICE)
    val banded = Materialize.pin(simhash(docs, idCol, textCol)
      .select(col(idCol), col("simhash"), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band").as("band"), col("bb.bits").as("bits")))
    val a = banded.select(col(idCol).as("i"), col("simhash").as("sim_i"),
      col("band"), col("bits"))
    val b = banded.select(col(idCol).as("j"), col("simhash").as("sim_j"),
      col("band"), col("bits"))
    a.join(b, Seq("band", "bits")).where(col("i") < col("j"))
      .withColumn("hamming", bit_count(col("sim_i").bitwiseXOR(col("sim_j"))))
      .where(col("hamming") <= maxHamming)
      // a close pair can agree on several bands; the distance is identical
      .groupBy("i", "j").agg(min("hamming").as("hamming"))
  }
}
