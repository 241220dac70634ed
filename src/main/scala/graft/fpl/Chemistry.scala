package graft.fpl

import org.apache.spark.sql.DataFrame
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
  * The formula has one definition, the pure per-match kernel
  * [[pairsOf]] (≤ ~40 rated players/match ⇒ ≤ 780 pairs per match). The
  * batch table runs it per match group ([[pairDeltas]]); the streaming
  * upsert (`graft.streaming.FplStream.consolidateBatch`) runs it on the
  * driver over a micro-batch's fresh closes and the earlier closes of
  * the same matches. At 100 TB the per-match grouping keeps the pairing
  * bounded: the shuffle key is matchId, never a global cross product.
  */
object Chemistry {

  /** One close as the pairing reads it; `fresh` marks a close of the
    * batch being paired (the batch table pairs only fresh closes). */
  final case class Side(playerId: Long, teamId: Long, delta: Double,
      fresh: Boolean)

  /** The signed chemistry delta of one pair (p1 < p2) in one match. */
  final case class PairDelta(matchId: Long, p1: Long, p2: Long,
      pairDelta: Double)

  /** The pair deltas of one match's closes: every unordered pair
    * (p1 < p2) with at least one fresh side, so an incremental upsert
    * never re-pairs two earlier closes. */
  def pairsOf(matchId: Long, closes: Seq[Side]): Seq[PairDelta] =
    for {
      a <- closes
      b <- closes
      if a.playerId < b.playerId && (a.fresh || b.fresh)
    } yield {
      val sameTeam = a.teamId == b.teamId
      val sameDir = (a.delta > 0 && b.delta > 0) ||
        (a.delta < 0 && b.delta < 0)
      val mag = math.abs((a.delta + b.delta) / 2)
      PairDelta(matchId, a.playerId, b.playerId,
        if (sameTeam == sameDir) mag else -mag)
    }

  /** Per-match signed pair deltas (matchId, p1, p2, pairDelta) from the
    * rating-delta table (columns: matchId, playerId, teamId, delta):
    * [[pairsOf]] per match, every close fresh. */
  def pairDeltas(ratingDeltas: DataFrame): DataFrame = {
    import ratingDeltas.sparkSession.implicits._
    ratingDeltas.select(col("matchId").cast("long"),
        col("playerId").cast("long"), col("teamId").cast("long"),
        col("delta").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups((m, rows) => pairsOf(m,
        rows.map(r => Side(r._2, r._3, r._4, fresh = true)).toSeq))
      .toDF()
  }

  /** Running chemistry table: 0.5 + the sum of all per-match pair
    * deltas (A5 accumulate + A6-style final snapshot in one agg). */
  def chemistryTable(ratingDeltas: DataFrame): DataFrame =
    fromPairDeltas(pairDeltas(ratingDeltas))

  /** Chemistry from an (incrementally appended) pair-delta table,
    * unbounded as in the reference (docs/Specs.pdf p.6 asks for a bound
    * between 0 and 1; the reference never clamps). */
  def fromPairDeltas(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("p1"), col("p2"))
      .agg((lit(0.5) + sum(col("pairDelta"))).as("chemistry"))

  /** Symmetric view (both (p1,p2) and (p2,p1)) for lookup joins. */
  def symmetric(chem: DataFrame): DataFrame =
    chem.select(col("p1"), col("p2"), col("chemistry"))
      .unionByName(chem.select(col("p2").as("p1"), col("p1").as("p2"),
        col("chemistry")))
}
