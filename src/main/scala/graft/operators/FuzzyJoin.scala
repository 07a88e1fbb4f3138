package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Edit-distance (fuzzy) join — entity resolution over short keys
  * (names, titles, canonical URLs) at corpus scale.
  *
  * The all-pairs `levenshtein(a, b) <= k` join is quadratic; the scale
  * path here is SYMMETRIC-DELETION blocking (the published
  * FastSS / SymSpell scheme): if `ED(a, b) <= k`, an optimal alignment
  * has at most `k` edited positions, so deleting the edited positions
  * from each side yields one COMMON string reachable from `a` with
  * `<= k` deletions and from `b` with `<= k` deletions. Hence the
  * k-deletion neighborhoods of a true pair always intersect, and an
  * EQUI-join on deletion variants is an exact candidate generator —
  * never a heuristic, never all-pairs. Candidates are then rescored
  * with Spark's banded `levenshtein(a, b, k)` (early-exit above the
  * threshold), so a false candidate (shared variant, distance > k —
  * e.g. "ab"/"ba" at k=1) costs one bounded scan of the pair.
  *
  * Shapes at 100 TB:
  *  - variant generation is map-side, pure `functions` (sequence /
  *    transform / substr — whole-stage codegen'd), emitting
  *    `O(len^k / k!)` keys per row: ~L+1 for k=1, ~L²/2 for k=2.
  *    That makes k=1 linear — safe at any key length — and k=2 the
  *    short-key regime: normalize/truncate the join key FIRST (the
  *    standard ER practice) rather than fuzzy-joining raw prose;
  *  - the only shuffles are the variant equi-join and the candidate
  *    pair dedup — both keyed, AQE-splittable;
  *  - output density is data-inherent: `d` rows sharing a variant emit
  *    `O(d²)` candidates, which is also the true output size for
  *    identical keys — blocking cannot beat the answer's own size.
  *
  * Null keys never match (SQL equality semantics): rows with a null
  * string column are dropped from both sides, like any equi-join.
  */
object FuzzyJoin {

  /** All strings reachable from `s` with up to `maxDel` single-character
    * deletions (including `s` itself), distinct. One fused codegen
    * kernel ([[graft.functions.DeletionVariants]]) — the former
    * higher-order-function composition (`transform`/`flatten`/
    * `array_distinct`) was CodegenFallback and paid interpreted lambda
    * evaluation per row (~half the self-join cost at sf0.1). Same
    * variant set, code-point deletion semantics unchanged. */
  def deletionVariants(s: Column, maxDel: Int): Column = {
    require(maxDel >= 1 && maxDel <= 2,
      s"deletionVariants: maxDel must be 1 or 2, got $maxDel (the " +
        "variant count is ~len^k — past k=2 use a coarser key first)")
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.DeletionVariants(
        org.apache.spark.sql.graft.Bridge.expression(s), maxDel))
  }

  /** Fuzzy inner join: all `(leftId, rightId, dist)` with
    * `levenshtein(left[leftStr], right[rightStr]) <= maxDist`. Exact —
    * equivalent to the all-pairs predicate join — via deletion-variant
    * blocking. */
  def join(left: DataFrame, leftId: String, leftStr: String,
           right: DataFrame, rightId: String, rightStr: String,
           maxDist: Int): DataFrame = {
    val l = keyed(left, leftId, leftStr, maxDist, "a")
    val r = keyed(right, rightId, rightStr, maxDist, "b")
    rescore(l.join(r, "_v"), maxDist)
  }

  /** Fuzzy self-join: unordered pairs `a_id < b_id` within `maxDist`.
    * The id column must be orderable (the pair canonicalization).
    *
    * The variant relation rides ONE pin ([[Materialize.pin]]) shared by
    * both join legs: the deletion-variant Generate builds ~len strings
    * per row, and without the barrier BOTH legs re-ran the whole
    * explode — measured ~20% of the self-join at sf0.1. */
  def selfJoin(df: DataFrame, idCol: String, strCol: String,
               maxDist: Int): DataFrame = {
    val keys = Materialize.pin(keyed(df, idCol, strCol, maxDist, "a"))
    val other = keys.withColumnsRenamed(
      Map("_a_id" -> "_b_id", "_a_s" -> "_b_s"))
    rescore(keys.join(other, "_v").where(col("_a_id") < col("_b_id")),
      maxDist)
  }

  private def keyed(df: DataFrame, id: String, str: String,
                    maxDist: Int, side: String): DataFrame = {
    val s = col(s"_${side}_s")
    df.select(col(id).as(s"_${side}_id"), col(str).as(s"_${side}_s"))
      .where(s.isNotNull)
      .select(col(s"_${side}_id"), s,
        explode(deletionVariants(s, maxDist)).as("_v"))
  }

  /** Score candidates MAP-SIDE, then dedup: the banded `levenshtein` is
    * O(k·len) per occurrence, so re-scoring a pair once per shared
    * variant is cheap — and the dedup shuffle then carries only
    * `(a_id, b_id, dist)` instead of both key strings (the widest
    * shuffle of the hot path, now id-narrow; `dist` is functional in
    * the id pair whenever ids are keys, so the distinct set is the
    * same pair set). */
  private def rescore(cands: DataFrame, maxDist: Int): DataFrame =
    cands
      .withColumn("dist", levenshtein(col("_a_s"), col("_b_s"), maxDist))
      .where(col("dist") >= 0) // banded levenshtein: -1 past the threshold
      .select(col("_a_id").as("a_id"), col("_b_id").as("b_id"), col("dist"))
      .distinct()
}
