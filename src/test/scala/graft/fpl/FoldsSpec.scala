package graft.fpl

import graft.SparkSpec
import graft.streaming.FplStream
import graft.streaming.FplStream.PlayerMsg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FoldsSpec extends SparkSpec {
  import spark.implicits._

  /** A counter block with the named counters set. */
  private def counters(set: (String, Long)*): Array[Long] = {
    val c = new Array[Long](FplStream.NumCounters)
    set.foreach { case (n, v) => c(MetricsAlgebra.counterNames.indexOf(n)) = v }
    c
  }

  /** Counters whose pass accuracy is x (accurate normal passes of 5). */
  private def passes(x: Double): Seq[(String, Long)] =
    Seq("accurate_normal_passes" -> math.round(x * 5), "normal_passes" -> 5L)

  /** `playerMatchMetrics`-shaped rows of player 10 (team 100). */
  private def metricRows(rows: (Long, Array[Long])*): DataFrame =
    rows.map { case (m, c) => (m, 10L, 100L, c) }
      .toDF("matchId", "playerId", "teamId", "counters")
      .select(Seq(col("matchId"), col("playerId"), col("teamId")) ++
        MetricsAlgebra.counterNames.indices.map(i =>
          col("counters")(i).as(MetricsAlgebra.counterNames(i))): _*)

  /** A counter message of player 10 in match `m`. */
  private def counted(m: Long, c: Array[Long]) =
    PlayerMsg(10L, m, 1L, 1, 0.0, 100L, c)

  test("profile pass-accuracy chain r₁=x₁, rₙ=(xₙ+rₙ₋₁)/2 (A3)") {
    // matches in order: 0.8, 0.4, 0.6 → r = ((0.8+… ) chain)
    val fm = metricRows(
      1L -> counters(passes(0.8) :+ ("goals" -> 2L): _*),
      2L -> counters(passes(0.4) ++ Seq("fouls" -> 1L,
        "shots_on_target" -> 1L, "goals" -> 1L): _*),
      3L -> counters(passes(0.6) ++ Seq("own_goals" -> 1L,
        "shots_on_target" -> 2L): _*))
    val p = Folds.profiles(fm).collect().head
    val expected = (((0.8 + 0.4) / 2) + 0.6) / 2
    assert(approx(p.getAs[Double]("pass_accuracy"), expected))
    assert(p.getAs[Long]("fouls") == 1L)
    assert(p.getAs[Long]("goals") == 3L)
    assert(p.getAs[Long]("own_goals") == 1L)
    assert(p.getAs[Long]("shots_on_target") == 3L)
    assert(p.getAs[Long]("matches_played") == 3L)
  }

  test("profile chain is order-sensitive (matchId defines order)") {
    val fwd = Seq(0.8, 0.2, 0.6)
    val rev = Seq(0.6, 0.2, 0.8)
    def run(xs: Seq[Double]): Double =
      Folds.profiles(metricRows(xs.zipWithIndex.map { case (x, i) =>
          (i + 1L) -> counters(passes(x): _*) }: _*))
        .collect().head.getAs[Double]("pass_accuracy")
    assert(approx(run(fwd), 0.55))  // ((0.8→0.2)=0.5 → with 0.6)/2
    assert(approx(run(rev), 0.6))   // ((0.6→0.2)=0.4 → with 0.8)/2
  }

  test("kernel pass-accuracy chain matches the closed form") {
    val closes = FplStream.foldAll(10L, Iterator(
      counted(1L, counters(passes(0.8): _*)),
      counted(2L, counters(passes(0.4): _*)),
      counted(3L, counters(passes(0.6): _*))))
    assert(approx(closes.last.profilePassAccuracy,
      (((0.8 + 0.4) / 2) + 0.6) / 2))
  }

  test("kernel rating trajectory r₀=0.5, r'=factor·(c+r)/2, emits Δ (A4)") {
    def minutes(m: Long, factor: Double) =
      PlayerMsg(10L, m, 0L, 0, factor, 100L, counters())
    // contributions: (0.4 + 2 shots on target)/4 = 0.6, (0.6 + 1)/4 = 0.4
    val pts = FplStream.foldAll(10L, Iterator(
      minutes(1L, 1.05),
      counted(1L, counters(passes(0.4) :+ ("shots_on_target" -> 2L): _*)),
      minutes(2L, 30.0 / 90.0),
      counted(2L, counters(passes(0.6) :+ ("shots_on_target" -> 1L): _*))))
    val r1 = 1.05 * (0.6 + 0.5) / 2
    val r2 = (30.0 / 90.0) * (0.4 + r1) / 2
    assert(approx(pts(0).rating, r1) && approx(pts(0).delta, r1 - 0.5))
    assert(approx(pts(1).rating, r2) && approx(pts(1).delta, r2 - r1))
  }

  test("kernel: a match that closes nothing leaves no factor or team " +
      "behind") {
    // match 1: an unused substitute (factor 0, team 100); match 2 lost
    // its record, so only its events (team 200) arrive
    val closes = FplStream.foldAll(10L, Iterator(
      PlayerMsg(10L, 1L, 0L, 0, 0.0, 100L, counters()),
      PlayerMsg(10L, 2L, 1L, 1, 0.0, 200L,
        counters(passes(0.4) :+ ("shots_on_target" -> 2L): _*))))
    assert(closes.map(c => (c.matchId, c.teamId)) == Seq((2L, 200L)))
    assert(approx(closes.head.rating, 1.05 * (0.6 + 0.5) / 2))
  }

  test("end-to-end ratings over the fixture (metrics ⋈ minutes)") {
    val parsed = Ingest.parse(Fixture.allLines.toDF("value"))
    val fm = MetricsAlgebra.playerMatchMetrics(Ingest.events(parsed))
    val pm = Flatten.playerMinutes(Ingest.matches(parsed))
    val ratings = Folds.ratings(spark, fm, pm).collect()
    // p1: full-match starter → factor 1.05
    val p1 = ratings.find(_.getAs[Long]("playerId") == 1L).get
    // contribution(p1): pass_acc=0.75, others 0 → 0.75/4; no fouls/og
    val c1 = 0.75 / 4
    assert(approx(p1.getAs[Double]("rating"), 1.05 * (c1 + 0.5) / 2))
    // p3 subbed out at 60 → factor 60/90
    val p3 = ratings.find(_.getAs[Long]("playerId") == 3L).get
    val c3raw = (0.0 + 0.0 + 0.5 + 2.0) / 4  // shot_eff 0.5, sot 2
    assert(approx(p3.getAs[Double]("rating"), (60.0 / 90.0) * (c3raw + 0.5) / 2))
    // team ids attached for chemistry
    assert(p3.getAs[Long]("teamId") == 100L)
  }
}
