package graft.fpl

import graft.{SparkSpec, StandingState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** A served snapshot's fitted models ([[ServedModels]]): a dated win
  * answered from them equals the per-request fit at every date, and a
  * changed or different table set gets a snapshot, and a fit, of its
  * own. */
class ServedModelsSpec extends SparkSpec {
  import spark.implicits._

  private val roles = Seq("GK", "DF", "DF", "DF", "DF", "MD", "MD", "MD",
    "MD", "FW", "FW")
  /** (name, role, Id, birth year) of one squad. */
  private def team(prefix: String, id0: Long, year: Int => Int) =
    roles.zipWithIndex.map { case (r, i) =>
      (s"$prefix$i", r, id0 + i, year(i)) }

  private val alpha = team("A", 1, i => 1988 + i % 9)
  // B1 and B5 were born in the 1950s: retired at every date
  private val beta = team("B", 21,
    i => if (i == 1) 1955 else if (i == 5) 1957 else 1990 + i % 7)
  private val gamma = team("G", 41, i => 1989 + i % 8)
  private val delta = team("D", 61, i => 1991 + i % 6)
  // rated veterans outside every squad pull the age curve down
  private val veterans = (0 until 6).map(i => (s"V$i", "MD", 81L + i,
    1957 + 2 * i))
  private val dimRows = alpha ++ beta ++ gamma ++ delta ++ veterans ++ Seq(
    ("G2", "DF", 43L, 1956),   // G2 again: the same id, retired
    ("G6", "MD", 99L, 1995),   // G6 again: another id
    ("G11", "DF", 52L, 1994))  // stands in for G2 in a squad
  private def dim(rows: Seq[(String, String, Long, Int)]) =
    rows.map { case (n, r, id, y) => (n, r, id, s"$y-03-15") }
      .toDF("name", "role", "Id", "birthDate")

  private val ids = dimRows.map(_._3).distinct
  /** Ratings fall with age past 25 (at 2018, birth year of the id's
    * first dim row), with a little noise; D10 is unrated and player 5
    * has two rows. */
  private def ratingRows(shift: Double): Seq[(Long, Double)] =
    ids.filter(_ != 71L).map { id =>
      val y = dimRows.find(_._3 == id).get._4
      (id, 0.85 - math.pow((2018 - y - 25) / 40.0, 2) +
        (id % 5 - 2) * 0.01 + shift)
    } :+ ((5L, 0.7))
  /** Role-shaped profiles; every fourth id is sparse unless `allDense`.
    * A10 has no profile. */
  private def profileRows(allDense: Boolean) = ids.filter(_ != 11L).map { id =>
    val r = dimRows.find(_._3 == id).get._2
    val (f, g, p, s) = r match {
      case "GK" => (0L, 0L, 0.3, 0L)
      case "DF" => (3L, 0L, 0.8, 1L)
      case "MD" => (1L, 1L, 0.85, 3L)
      case _ => (1L, 4L, 0.7, 6L)
    }
    (id, f + id % 2, g, 0L, p + id % 3 / 100.0, s,
      if (!allDense && id % 4 == 0) 2L else 10L + id % 3)
  }.toDF("playerId", "fouls", "goals", "own_goals", "pass_accuracy",
    "shots_on_target", "matches_played")
  private lazy val chem = (for (a <- ids; b <- ids if a != b)
    yield (a, b, 0.4 + (a + b) % 5 / 10.0)).toDF("p1", "p2", "chemistry")

  private def req(prefix: Seq[(String, String, Long, Int)], name: String) =
    Serving.TeamRequest(name, prefix.map(_._1))
  private val requests = Seq(
    "valid" -> (req(alpha, "Alpha"), req(delta, "Delta")),
    "retired" -> (req(alpha, "Alpha"), req(beta, "Beta")),
    "duplicate, same id" -> (req(gamma, "Gamma"), req(delta, "Delta")),
    "duplicate, another id" -> (req(delta, "Delta"), Serving.TeamRequest(
      "Gamma", gamma.map(_._1).updated(2, "G11"))))
  private val dates = Seq("2016-03-01", "2018-06-15", "2021-11-30")

  private type Answer = Either[Map[String, Seq[String]], Seq[Serving.TeamChance]]

  /** The per-request flow, the reference for a dated win served from
    * the snapshot's models: the age regression fitted on the ratings
    * with ages at the request date, the squad's ages scored at that
    * date, any entry below 0.2 retired; otherwise the plain win over
    * the cluster-fallback ratings (`effective`, which reads no date). */
  private def perRequest(spark: SparkSession, players: DataFrame,
      ratings: DataFrame, effective: DataFrame,
      team1: Serving.TeamRequest, team2: Serving.TeamRequest,
      date: String): Answer = {
    import spark.implicits._
    val at = to_date(lit(date))
    val hist = ratings.join(players.select($"Id".as("playerId"),
        MLCapabilities.ageAt($"birthDate", at).as("age")), Seq("playerId"))
      .select($"age", $"rating")
    val scorer = MLCapabilities.ratingVsAge(hist)
    val squad = (team1.players ++ team2.players).toDF("name")
      .join(players, Seq("name"))
      .select($"name", MLCapabilities.ageAt($"birthDate", at).as("age"))
    val retired = scorer(squad).filter($"retired").select($"name")
      .as[String].collect().toSeq
    if (retired.nonEmpty) Left(Map("retired" -> retired))
    else Serving.winPrediction(spark, players, chem,
        effective.select($"playerId", $"effective_rating".as("rating")),
        team1, team2)
      .toRight(Map("invalid" -> Seq("Invalid Team")))
  }

  private def sameAnswer(got: Answer, want: Answer, what: String): Unit =
    (got, want) match {
      case (Left(g), Left(w)) =>
        assert(g.keySet == w.keySet && g.forall { case (k, v) =>
          v.sorted == w(k).sorted }, s"$what: $g vs $w")
      case (Right(g), Right(w)) =>
        assert(g.map(_.team) == w.map(_.team), what)
        for ((x, y) <- g.zip(w))
          assert(approx(x.winningChance, y.winningChance), s"$what: $x vs $y")
      case _ => fail(s"$what: $got vs $want")
    }

  /** The fallback rows of a models frame, sorted. */
  private def fallback(models: DataFrame): Seq[(Long, Option[Double])] =
    models.filter($"retired".isNull)
      .select($"playerId", $"effective_rating").as[(Long, Option[Double])]
      .collect().toSeq.sorted

  /** The fallback rows a snapshot's dated win reads, sorted; a null
    * effective rating reads as 0.5. */
  private def fallback(s: ServedSnapshot): Seq[(Long, Option[Double])] =
    s.models.fallback.toSeq
      .flatMap { case (p, vs) => vs.map(v => (p, Option(v))) }.sorted

  private def sameRows(got: Seq[(Long, Option[Double])],
      want: Seq[(Long, Option[Double])], what: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), what)
    for (((p, g), (_, w)) <- got.zip(want))
      assert(g.isDefined == w.isDefined &&
        g.zip(w).forall { case (x, y) => approx(x, y) },
        s"$what, player $p: $g vs $w")
  }

  private def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The served snapshot as parquet files, written on first use. */
  private lazy val tables: String = {
    val d = Files.createTempDirectory("graft-served").toString
    write(dim(dimRows), s"$d/players")
    write(ratingRows(0.0).toDF("playerId", "rating"), s"$d/ratings")
    write(profileRows(allDense = false), s"$d/profiles")
    d
  }
  private def open(name: String) = spark.read.parquet(s"$tables/$name")
  private lazy val teams = Seq(("Alpha", 1L)).toDF("name", "Id")
  /** The snapshot of the parquet tables as they are now. */
  private def opened() = ServedSnapshot.of(spark, open("players"), teams,
    chem, open("ratings"), open("profiles"), spark.emptyDataFrame)

  test("a dated win from the snapshot's models equals the per-request fit " +
      "at every request date") {
    val (players, ratings, profiles) =
      (open("players"), open("ratings"), open("profiles"))
    // the snapshot the dated requests below are served from
    val snapshot = opened()
    val builds = ServedSnapshot.builds
    val effective = MLCapabilities.fallbackRatings(profiles, ratings).cache()
    // the fallback rows, multiplicities included (player 5 twice)
    val want = effective.select($"playerId", $"effective_rating")
      .as[(Long, Option[Double])].collect().toSeq.sorted
    val got = fallback(ServedModels.fit(players, ratings, profiles,
      ServedModels.ratingHistory(players, ratings, ServedModels.ReferenceDate),
      ServedModels.ReferenceDate))
    sameRows(got, want, "fallback ratings")
    assert(got.count(_._1 == 5L) == 2)
    // some sparse squad player takes a cluster mean, not its own rating
    val own = ratingRows(0.0).toMap
    assert(delta.exists { case (_, _, id, _) =>
      id % 4 == 0 && got.find(_._1 == id).flatMap(_._2) != own.get(id) })

    val kinds = for (date <- dates; (what, (t1, t2)) <- requests) yield {
      val served = snapshot.datedWin(t1, t2)
      sameAnswer(served,
        perRequest(spark, players, ratings, effective, t1, t2, date),
        s"$what at $date")
      what -> served
    }
    effective.unpersist()
    // the fixture covers a mixed retired set, the duplicate dim names on
    // both rejection paths and a valid squad
    val answers = kinds.toMap
    assert(answers("retired") == Left(Map("retired" -> Seq("B1", "B5"))))
    // one of G2's two rows is retired: G2 is named once
    assert(answers("duplicate, same id") == Left(Map("retired" -> Seq("G2"))))
    assert(answers("duplicate, another id") ==
      Left(Map("invalid" -> Seq("Invalid Team"))))
    assert(answers("valid").isRight)

    // the request path reads the same models at any date
    val (t1, t2) = requests.head._2
    def side(key: String, t: Serving.TeamRequest) =
      s""""$key": {"name": "${t.name}", """ + t.players.zipWithIndex.map {
        case (p, i) => s""""player${i + 1}": "$p"""" }.mkString(", ") + "}"
    for (date <- dates) {
      val (_, out) = RequestApp.handle(spark,
        s"""{"req_type": 1, "date": "$date", ${side("team1", t1)},
          ${side("team2", t2)}}""",
        players, teams, chem, ratings, profiles, spark.emptyDataFrame)
      val r = out.collect().head
      assert(approx(r.getStruct(0).getDouble(1),
        answers("valid").toOption.get.head.winningChance), date)
    }
    assert((opened() eq snapshot) && ServedSnapshot.builds == builds,
      "a request made an unchanged table set's snapshot, and fit, again")
  }

  test("rewriting ratings or profiles at the same path refits on the next " +
      "dated request") {
    val (t1, t2) = requests.head._2
    val first = opened()
    assert(opened() eq first, "reopening made a new snapshot")

    val ratings = write(ratingRows(0.05).toDF("playerId", "rating"),
      s"$tables/ratings")
    val reRated = opened()
    assert(!(reRated eq first))
    // a dense player's effective rating is its new rating
    assert(fallback(reRated).filter(_._1 == 1L).map(_._2) ==
      Seq(Some(ratingRows(0.05).toMap.apply(1L))))

    // every player dense: the effective ratings are the ratings rows, and
    // a dated win answers as a plain win over them
    write(profileRows(allDense = true), s"$tables/profiles")
    val reProfiled = opened()
    assert(!(reProfiled eq reRated))
    sameRows(fallback(reProfiled), (ratingRows(0.05).filter(_._1 != 11L)
      .map { case (p, r) => (p, Option(r)) } :+ ((71L, Some(0.5)))).sorted,
      "all dense")
    val plain = Serving.winPrediction(spark, open("players"), chem,
      ratings.filter($"playerId" =!= 11L), t1, t2)
    sameAnswer(reProfiled.datedWin(t1, t2), plain.toRight(Map.empty),
      "after the rewrite")
  }

  /** A table set of in-memory frames: the fixture dim and chemistry (or
    * `chemistry`), ratings shifted by `shift`, every profile dense. */
  private def inMemory(shift: Double, chemistry: DataFrame = chem) =
    ServedSnapshot.of(spark, dim(dimRows), teams, chemistry,
      ratingRows(shift).toDF("playerId", "rating"),
      profileRows(allDense = true), spark.emptyDataFrame)

  /** The plain win over `chemistry` and the ratings shifted by `shift`,
    * which a dated win over all-dense profiles answers as. A10 has no
    * profile, so no fallback row: it counts 0.5 both ways. */
  private def plainWin(shift: Double, chemistry: DataFrame = chem): Answer = {
    val (t1, t2) = requests.head._2
    Serving.winPrediction(spark, dim(dimRows), chemistry,
      ratingRows(shift).toDF("playerId", "rating")
        .filter($"playerId" =!= 11L), t1, t2).toRight(Map.empty)
  }

  test("two in-memory snapshots in one JVM get their own models") {
    val (t1, t2) = requests.head._2
    val builds = ServedSnapshot.builds
    val (a, b) = (inMemory(0.0), inMemory(0.1))
    assert(!(a eq b))
    assert(inMemory(0.0) eq a, "equal in-memory rows were collected again")
    assert(ServedSnapshot.builds - builds == 2)
    for ((s, shift) <- Seq(a -> 0.0, b -> 0.1))
      sameAnswer(s.datedWin(t1, t2), plainWin(shift), s"shift $shift")
  }

  test("the snapshot memo holds two table sets; a reset drops them") {
    val (t1, t2) = requests.head._2
    val builds = ServedSnapshot.builds
    def built = ServedSnapshot.builds - builds
    val a = inMemory(0.2)
    // other chemistry, the same players, ratings and profiles: a set, and
    // a dated win, of its own
    val otherChem = chem.filter($"p1" =!= 1L)
    val a2 = inMemory(0.2, otherChem)
    sameAnswer(a.datedWin(t1, t2), plainWin(0.2), "a")
    sameAnswer(a2.datedWin(t1, t2), plainWin(0.2, otherChem), "a2")
    assert(a.datedWin(t1, t2) != a2.datedWin(t1, t2))
    val b = inMemory(0.3)
    val c = inMemory(0.4)
    assert(built == 4)
    assert((inMemory(0.3) eq b) && (inMemory(0.4) eq c) && built == 4)
    assert(!(inMemory(0.2) eq a) && built == 5, "an evicted set was still held")
    StandingState.reset(StandingState.ServedSnapshots)
    assert(!(inMemory(0.4) eq c) && built == 6, "a reset kept a held set")
    StandingState.reset(StandingState.ServedSnapshots)
  }
}
