package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs at 100 TB, as ONE operator: quality filter → language
  * filter → exact dedup → near-dup clustering → canonical keep. Each doc
  * gets a verdict (`kept`) plus the FIRST reason that disqualified it
  * (fixed precedence: low_quality, wrong_language, exact_duplicate,
  * near_duplicate) and, for duplicates, the id of the document that kept
  * its content.
  *
  * Scale shape = the sum of its parts, all verified individually: scalar
  * filters are map-side; exact dedup is one hash-groupBy; near-dup
  * clustering runs MinHash banding + n-gram verification + pointer-jump
  * components ONLY on the docs that survived the cheaper stages (each
  * stage shrinks the next stage's input — the ordering is the point).
  */
object Curate {

  /** Disqualification reasons in precedence order, paired with the internal
    * flag column that triggers each — this list DRIVES the verdict
    * when-chain, so order here is the contract. */
  private val disqualFlags = Seq(
    "low_quality" -> "_lowq",
    "wrong_language" -> "_wlang",
    "exact_duplicate" -> "_exdup",
    "near_duplicate" -> "_neardup")

  val Reasons: Seq[String] = disqualFlags.map(_._1) :+ "kept"

  def curate(docs: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.5, lang: Option[String] = Some("en"),
             jaccardThreshold: Double = 0.5): DataFrame = {
    val base = docs.select(col(idCol), col(textCol))
    // Every stage output feeds BOTH the next stage and the final verdict
    // join — pins make each one compute once (and keep the clustering
    // loop's own pins from re-deriving the text scoring).
    val scored = Materialize.pin(
      TextAnalysis.quality(TextAnalysis.langId(base, textCol), textCol)
        .select(col(idCol), col(textCol),
          // null score (empty/degenerate text) counts as unusable, not kept
          (coalesce(col("quality_score"), lit(-1.0)) < minQuality).as("_lowq"),
          lang.map(l => col("predicted_lang") =!= l).getOrElse(lit(false)).as("_wlang")))

    val passed = scored.where(!col("_lowq") && !col("_wlang"))
      .select(col(idCol), col(textCol))
    // Dedup.exact's output still carries the text column, so the
    // survivors are a FILTER over the pinned exact relation — the
    // former formulation re-joined `passed` against the survivor ids,
    // one extra doc-grain shuffle join carrying the text payload.
    val exactFull = Materialize.pin(Dedup.exact(passed, idCol, textCol)
      .select(col(idCol), col(textCol),
        col("canonical_id").as("_ex_canon"), col("is_dup").as("_exdup")))
    val exact = exactFull.select(col(idCol), col("_ex_canon"), col("_exdup"))
    val exactSurvivors = exactFull.where(!col("_exdup"))
      .select(col(idCol), col(textCol))
    val clusters = Materialize.pin(
      Dedup.clusters(exactSurvivors, idCol, textCol, jaccardThreshold)
        .select(col(idCol), col("cluster_id").as("_cluster"),
          (!col("is_canonical")).as("_neardup")))

    // An exact duplicate's canonical may ITSELF have been discarded as a
    // near-duplicate; chase one hop through the cluster map so canonical_id
    // always lands on a kept doc (a cluster's minimum is kept by
    // construction, so one hop suffices).
    val canonFinal = clusters.select(col(idCol).as("_ex_canon"),
      col("_cluster").as("_ex_canon_final"))

    val reason = disqualFlags.foldRight(lit("kept")) {
      case ((r, flag), alt) => when(col(flag), r).otherwise(alt)
    }
    base.select(col(idCol))
      .join(scored.select(col(idCol), col("_lowq"), col("_wlang")), Seq(idCol), "left")
      .join(exact, Seq(idCol), "left")
      .join(clusters, Seq(idCol), "left")
      .join(canonFinal, Seq("_ex_canon"), "left")
      .withColumn("reason", reason)
      .withColumn("kept", col("reason") === "kept")
      .withColumn("canonical_id",
        when(col("reason") === "exact_duplicate",
          coalesce(col("_ex_canon_final"), col("_ex_canon")))
          .when(col("reason") === "near_duplicate", col("_cluster"))
          .when(col("kept"), col(idCol)))
      .select(col(idCol), col("kept"), col("reason"), col("canonical_id"))
  }
}
