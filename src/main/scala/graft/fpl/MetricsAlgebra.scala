package graft.fpl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.streaming.FplStream

/** The event→counter algebra (reference `getMetrics` master.py:48-138 +
  * `metricsCounterCalc` master.py:140-175; semantics authoritative in
  * docs/Specs.pdf pp.4-5). The final metrics over the counters
  * (`getFinalMetrics` master.py:177-212) are the stream kernel's
  * per-match step, `FplStream.closeMatch`.
  *
  * The counters are pure `Column` expressions — zero UDFs, fully inside
  * whole-stage codegen, identical for `spark.read` and `spark.readStream`
  * inputs. Per SURVEY.md §2.9 Q1 we take the spec: goal/own-goal tags
  * count on ANY event type (the reference's catch-all branch has an
  * arity bug that silently drops them).
  *
  * Event ids: 1 duel, 2 foul, 3 free kick (subEventId 35 = penalty),
  * 8 pass, 10 shot. Tag ids: 101 goal, 102 own goal, 302 key pass,
  * 701 lost, 702 neutral, 703 won, 1801 accurate/on-target, 1802
  * inaccurate.
  */
object MetricsAlgebra {

  /** Tag membership — `exists` over the tag struct array (C2). */
  def hasTag(tagId: Int): Column =
    exists(col("tags"), t => t.getField("id") === tagId)

  private def b(c: Column): Column = c.cast("int")

  /** The 17 per-event counter columns, one struct-free select list.
    * Names are the columns `playerMatchMetrics` sums. */
  def counterColumns: Seq[(String, Column)] = {
    val isPass = col("eventId") === 8
    val isDuel = col("eventId") === 1
    val isShot = col("eventId") === 10
    val isFreeKick = col("eventId") === 3
    val isFoul = col("eventId") === 2
    val accurate = hasTag(1801)
    val keyPass = hasTag(302)
    val goal = hasTag(101)
    Seq(
      "accurate_normal_passes" -> b(isPass && accurate && !keyPass),
      "accurate_key_passes"    -> b(isPass && accurate && keyPass),
      "normal_passes"          -> b(isPass && !keyPass),
      "key_passes"             -> b(isPass && keyPass),
      "duels_won"              -> b(isDuel && hasTag(703)),
      "neutral_duels"          -> b(isDuel && hasTag(702)),
      "total_duels"            -> b(isDuel),
      "shots"                  -> b(isShot),
      "shots_on_target_goal"   -> b(isShot && accurate && goal),
      "shots_on_target_no_goal" -> b(isShot && accurate && !goal),
      "shots_on_target"        -> b(isShot && accurate),
      "fouls"                  -> b(isFoul),
      "own_goals"              -> b(hasTag(102)),
      "free_kicks"             -> b(isFreeKick),
      "effective_free_kicks"   -> b(isFreeKick && accurate),
      "penalties_scored"       -> b(isFreeKick && col("subEventId") === 35 && goal),
      "goals"                  -> b(goal))
  }

  val counterNames: Seq[String] = counterColumns.map(_._1)

  /** Attach the 17 counter columns to an event frame (F4). */
  def withCounters(events: DataFrame): DataFrame =
    counterColumns.foldLeft(events) { case (df, (n, c)) =>
      df.withColumn(n, c)
    }

  /** A1+A2: per-(match, player) counter sums ([[counterNames]]), the
    * teamId of the first event, and the ratios pass_accuracy,
    * duel_effectiveness, shot_effectiveness and free_kick_effectiveness
    * from the kernel's step (`FplStream.foldAll`); all-zero rows close
    * nothing and are dropped. `Folds` reruns the kernel on these rows.
    * Only the season benchmark (`perfbench/`) calls this, to time the
    * layer, until it moves onto `ServingTables`. */
  def playerMatchMetrics(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val sums = withCounters(events)
      .groupBy(col("matchId"), col("playerId"))
      .agg(min_by(col("teamId"), col("id")).as("teamId"),
        counterNames.map(n => sum(col(n)).as(n)): _*)
    FplStream.counterMessages(sums, lit(0L))
      .flatMap(m => FplStream.foldAll(m.playerId, Iterator(m)).map(m -> _))
      .select(Seq(col("_2.matchId"), col("_2.playerId"), col("_2.teamId"),
          col("_2.passAccuracy").as("pass_accuracy"),
          col("_2.duelEffectiveness").as("duel_effectiveness"),
          col("_2.shotEffectiveness").as("shot_effectiveness"),
          col("_2.freeKickEffectiveness").as("free_kick_effectiveness")) ++
        counterNames.indices.map(i =>
          col("_1.counters")(i).as(counterNames(i))): _*)
  }
}
