package graft.fpl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise chemistry (reference J4+A5: metrics.py:26-49; semantics from
  * docs/Specs.pdf p.6, golden vectors: opposite sides Δ+0.02/Δ+0.06 ⇒
  * −0.04; same team Δ+0.07/Δ−0.03 ⇒ −0.02; opposite Δ+0.07/Δ−0.03 ⇒
  * +0.02).
  *
  * Update rule per match, per unordered player pair (p1 < p2):
  *   mag  = |Δ1 + Δ2| / 2
  *   sign = +1 if (sameTeam == sameDirection) else −1
  * accumulated on an initial value of 0.5. Per SURVEY §2.9 Q3 each pair
  * counts ONCE per match (the reference's `visited` bug double-counts).
  *
  * The self-join is per-match (≤ ~40 rated players/match ⇒ ≤ 1600 pair
  * rows per match) — a theta join on the matchId key; the pair-delta
  * table then folds into a running chemistry table with one groupBy.
  * The streaming upsert uses the same join, restricted to pairs with a
  * fresh side, so the pair formula exists once.
  * At 100 TB the per-match grouping keeps the join bounded: the shuffle
  * key is matchId, never a global cross product.
  */
object Chemistry {

  /** Per-match signed pair deltas from the rating-delta table
    * (columns: matchId, playerId, teamId, delta). `fresh`, a boolean
    * over those rows, keeps only the pairs with at least one fresh
    * side: the streaming upsert pairs a batch's new closes with each
    * other and with earlier closes of the same matches in this one
    * join, and never re-pairs two earlier closes. */
  def pairDeltas(ratingDeltas: DataFrame,
      fresh: Column = lit(true)): DataFrame = {
    val a = ratingDeltas.select(
      col("matchId"),
      col("playerId").as("p1"), col("teamId").as("t1"),
      col("delta").as("d1"), fresh.as("f1"))
    val b = ratingDeltas.select(
      col("matchId").as("matchId2"),
      col("playerId").as("p2"), col("teamId").as("t2"),
      col("delta").as("d2"), fresh.as("f2"))
    val sameTeam = col("t1") === col("t2")
    val sameDir = (col("d1") > 0 && col("d2") > 0) ||
      (col("d1") < 0 && col("d2") < 0)
    val mag = abs((col("d1") + col("d2")) / 2)
    a.join(b, col("matchId") === col("matchId2") && col("p1") < col("p2") &&
        (col("f1") || col("f2")))
      .select(col("matchId"), col("p1"), col("p2"),
        when(sameTeam === sameDir, mag).otherwise(-mag)
          .as("pairDelta"))
  }

  /** Running chemistry table: 0.5 + the sum of all per-match pair
    * deltas (A5 accumulate + A6-style final snapshot in one agg). */
  def chemistryTable(ratingDeltas: DataFrame): DataFrame =
    fromPairDeltas(pairDeltas(ratingDeltas))

  /** Chemistry from an (incrementally appended) pair-delta table.
    * `clamp` bounds the coefficient to [0,1] per the spec's "must be
    * bound between 0 and 1" (docs/Specs.pdf p.6); the reference never
    * clamps, so the default preserves its behavior. */
  def fromPairDeltas(pairs: DataFrame, clamp: Boolean = false): DataFrame = {
    val raw = pairs.groupBy(col("p1"), col("p2"))
      .agg((lit(0.5) + sum(col("pairDelta"))).as("chemistry"))
    if (clamp)
      raw.withColumn("chemistry",
        least(greatest(col("chemistry"), lit(0.0)), lit(1.0)))
    else raw
  }

  /** Symmetric view (both (p1,p2) and (p2,p1)) for lookup joins. */
  def symmetric(chem: DataFrame): DataFrame =
    chem.select(col("p1"), col("p2"), col("chemistry"))
      .unionByName(chem.select(col("p2").as("p1"), col("p1").as("p2"),
        col("chemistry")))
}
