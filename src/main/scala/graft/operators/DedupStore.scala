package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Incremental near-dup detection against a PERSISTED fingerprint store —
  * the production shape for a growing corpus: each new shard dedups
  * against every prior snapshot without re-fingerprinting (or even
  * re-reading) the history.
  *
  * The store is the MinHash band relation [[Dedup.lshBands]] produces —
  * `(id, sig0..sig11, band, band_hash)`, parquet, partitioned by `band` —
  * so a snapshot is fingerprinted exactly once, when it lands. Detection
  * against history is then a band equi-join between the NEW shard's bands
  * (computed map-side, the shard is the small side) and the store;
  * history text is never touched and history×history pairs never form.
  *
  * Scale shape: the store is scanned ONCE per increment (plan-asserted in
  * DedupStoreSpec) and never shuffled when the increment broadcasts —
  * which AQE decides from the increment's runtime size rather than a
  * forced hint (a daily shard is usually tiny next to the corpus, but it
  * is corpus-bounded, not schema-bounded). New×new pairs ride the
  * ordinary [[Dedup.minhashCandidates]] self-join on the same band
  * relation, so the increment's signatures are computed once for both
  * legs. Est_sim is the matching-signature fraction either way —
  * md5-deterministic, so incremental results equal what a full batch run
  * over (history ∪ increment) would report for every pair that involves
  * the increment.
  */
object DedupStore {

  /** Fingerprint a corpus snapshot and persist its band relation. */
  def save(docs: DataFrame, idCol: String, textCol: String, path: String,
           mode: String = "overwrite"): Unit =
    Dedup.lshBands(Dedup.minhashSignatures(docs, idCol, textCol), idCol)
      .write.mode(mode).partitionBy("band").parquet(path)

  /** Add a new shard's fingerprints to the store (call AFTER running
    * [[incrementalCandidates]] for the shard, or its pairs double). */
  def append(docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    save(docs, idCol, textCol, path, mode = "append")

  def load(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path)

  /** Candidate near-dup pairs (i < j, est_sim) involving at least one
    * document of `newDocs`: new×history through one band equi-join
    * against `store`, new×new through the ordinary self-join — and
    * history×history never forms, which is the entire point.
    *
    * `store` must have been written by [[save]] with the same `idCol`
    * name and text normalization (signatures are md5 over normalized
    * 3-shingles — engine- and session-stable).
    */
  def incrementalCandidates(newDocs: DataFrame, idCol: String,
                            textCol: String, store: DataFrame): DataFrame = {
    // one pinned band relation feeds both legs (and the self-join's
    // two branches) — the increment is fingerprinted exactly once
    val newBands = Materialize.pin(Dedup.lshBands(
      Dedup.minhashSignatures(newDocs, idCol, textCol), idCol))
    // disjoint by construction: a mixed pair has exactly one side in the
    // store, a fresh pair neither
    mixedLeg(newBands, idCol, store)
      .union(Dedup.candidatesFromBands(newBands, idCol))
  }

  /** The new×history band equi-join — ONE body shared by the plain and
    * bloom-prefiltered paths, so their output identity (the property the
    * `dedup_incr_bloom` gate pins) is structural, not a parallel edit. */
  private def mixedLeg(newBands: DataFrame, idCol: String,
                       store: DataFrame): DataFrame = {
    val n = Dedup.NumHashes
    val a = newBands.select(col(idCol).as("_new_id") +: col("band") +:
      col("band_hash") +: (0 until n).map(k => col(s"sig$k").as(s"si$k")): _*)
    val h = store.select(col(idCol).as("_hist_id") +: col("band") +:
      col("band_hash") +: (0 until n).map(k => col(s"sig$k").as(s"sj$k")): _*)
    val matches = (0 until n)
      .map(k => when(col(s"si$k") === col(s"sj$k"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(h, Seq("band", "band_hash"))
      .where(col("_new_id") =!= col("_hist_id"))
      .select(
        least(col("_new_id"), col("_hist_id")).as("i"),
        greatest(col("_new_id"), col("_hist_id")).as("j"),
        (matches.cast("double") / n).as("est_sim"))
      // a pair can collide in several bands; est_sim is identical for all
      .groupBy(col("i"), col("j")).agg(max(col("est_sim")).as("est_sim"))
  }

  /** Serialized Bloom filter over the store's (band, band_hash) keys —
    * build it ONCE when a snapshot lands (same lifecycle as the store
    * itself) and hand the bytes to [[incrementalCandidatesBloom]] for
    * every subsequent shard. The build is one distributed aggregation
    * over the store (no shuffle — partial filters merge on the driver);
    * the artifact is `~1.44 * n * log2(1/fpp)` bits ≈ 9.6 bits/key at 1%
    * fpp (≈ 1.2 GB per billion band keys — executor-broadcastable where
    * the store itself is not). */
  def bloomOf(store: DataFrame, expectedItems: Long,
              fpp: Double = 0.01): Array[Byte] = {
    val bf = store.stat.bloomFilter(
      concat_ws(":", col("band"), col("band_hash")), expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** [[incrementalCandidates]] with a map-side Bloom PREFILTER on the
    * new×history leg: shard band rows whose (band, band_hash) the filter
    * has never seen drop at the scan, before the join's exchange — at
    * 100 TB the store-probe shuffle carries only plausible collisions
    * instead of the whole shard. Bloom filters have NO false negatives,
    * so the output is IDENTICAL to [[incrementalCandidates]] (pinned in
    * DedupStoreSpec and by the gate oracle, which is the same SQL);
    * false positives just forward a few rows that match nothing. The
    * new×new self-join leg is untouched — fresh pairs exist regardless
    * of history. */
  def incrementalCandidatesBloom(newDocs: DataFrame, idCol: String,
                                 textCol: String, store: DataFrame,
                                 bloomBytes: Array[Byte]): DataFrame = {
    val newBands = Materialize.pin(Dedup.lshBands(
      Dedup.minhashSignatures(newDocs, idCol, textCol), idCol))
    val mightMatch = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BloomMightContain(
        org.apache.spark.sql.graft.Bridge.expression(
          concat_ws(":", col("band"), col("band_hash"))),
        bloomBytes))
    // the ONLY difference from the plain path: the probe side is
    // bloom-prefiltered before [[mixedLeg]]'s join — no false negatives,
    // so the candidate set is provably unchanged
    mixedLeg(newBands.where(mightMatch), idCol, store)
      .union(Dedup.candidatesFromBands(newBands, idCol))
  }

  /** Streaming twin of the new×history leg: score ARRIVING documents
    * against the persisted store in real time. The band signatures are
    * map-side expressions and the probe is a stream-static equi-join —
    * both streaming-safe, so this runs unchanged under `readStream`
    * (StreamingSpec pins micro-batch == batch). The new×new leg is
    * deliberately absent: a stream-stream self-join needs an event-time
    * watermark the dedup domain doesn't have; within-stream duplicates
    * surface once their first occurrence is [[append]]ed to the store
    * between micro-batches (the production loop: probe, then append).
    */
  def streamingCandidates(newDocs: DataFrame, idCol: String, textCol: String,
                          store: DataFrame): DataFrame = {
    val n = Dedup.NumHashes
    val newBands = Dedup.lshBands(
      Dedup.minhashSignatures(newDocs, idCol, textCol), idCol)
    val a = newBands.select(col(idCol).as("new_id") +: col("band") +:
      col("band_hash") +: (0 until n).map(k => col(s"sig$k").as(s"si$k")): _*)
    val h = store.select(col(idCol).as("hist_id") +: col("band") +:
      col("band_hash") +: (0 until n).map(k => col(s"sig$k").as(s"sj$k")): _*)
    val matches = (0 until n)
      .map(k => when(col(s"si$k") === col(s"sj$k"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(h, Seq("band", "band_hash"))
      .where(col("new_id") =!= col("hist_id"))
      .select(col("new_id"), col("hist_id"),
        (matches.cast("double") / n).as("est_sim"))
      // multi-band collisions repeat a pair with an IDENTICAL est_sim, so
      // dropDuplicates (streaming-legal in append mode) replaces the batch
      // path's groupBy/max. Its state is one entry per emitted pair — the
      // output, not the corpus; bound it with
      // `.withWatermark(...)`/`dropDuplicatesWithinWatermark` on an
      // ingest-time column when the stream is long-lived.
      .dropDuplicates("new_id", "hist_id")
  }

  /** Per-document verdicts for a new shard: a new doc is a duplicate iff
    * it has a candidate counterpart with `est_sim >= threshold` that is
    * either IN HISTORY or an EARLIER (lower-id) member of the same shard —
    * the keep-first convention, so a burst of mutual near-dups inside one
    * shard keeps exactly its lowest id. `dup_of` is the minimum
    * qualifying counterpart (deterministic), `best_sim` the strongest
    * match. Verdicts are candidate-level (minhash est_sim, the
    * [[Dedup.minhashCandidates]] semantics); transitive-closure dedup
    * composes via [[Dedup.clustersFromEdges]] on the pair output when a
    * chain collapse is wanted.
    */
  def incrementalVerdicts(newDocs: DataFrame, idCol: String, textCol: String,
                          store: DataFrame,
                          threshold: Double = 0.75): DataFrame = {
    // the candidate relation feeds both orientations — one materialization
    val cand = Materialize.pin(
      incrementalCandidates(newDocs, idCol, textCol, store)
        .where(col("est_sim") >= threshold))
    val oriented = cand
      .select(col("i").as("_doc"), col("j").as("_other"), col("est_sim"))
      .union(cand
        .select(col("j").as("_doc"), col("i").as("_other"), col("est_sim")))
    val newIds = newDocs.select(col(idCol).as("_other"))
      .withColumn("_other_new", lit(true))
    val qualifying = oriented
      .join(newIds, Seq("_other"), "left")
      .where(col("_other_new").isNull || col("_other") < col("_doc"))
    val agg = qualifying.groupBy(col("_doc").as(idCol))
      .agg(min(col("_other")).as("dup_of"), max(col("est_sim")).as("best_sim"))
    newDocs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("dup_of"), col("best_sim"),
        col("dup_of").isNotNull.as("is_dup"))
  }
}
