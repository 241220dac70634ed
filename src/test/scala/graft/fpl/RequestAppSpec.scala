package graft.fpl

import graft.SparkSpec
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import java.util.concurrent.atomic.AtomicInteger

/** Golden request/response flows (SURVEY §5.2 item 5, FIXTURES.md A5). */
class RequestAppSpec extends SparkSpec {
  import spark.implicits._

  private def roles = Seq("GK") ++ Seq.fill(4)("DF") ++
    Seq.fill(4)("MD") ++ Seq.fill(2)("FW")
  private def playersDim = (0 until 22).map { i =>
    (s"P$i", "X", "1990-01-01", "right", roles(i % 11), 180, "X", 75,
      i.toLong)
  }.toDF("name", "birthArea", "birthDate", "foot", "role", "height",
    "passportArea", "weight", "Id")

  private val emptyChem = Seq.empty[(Long, Long, Double)]
    .toDF("p1", "p2", "chemistry")
  private val emptyRatings = Seq.empty[(Long, Double)]
    .toDF("playerId", "rating")
  private val emptyProfiles = Seq.empty[(Long, Long, Long, Long, Double, Long)]
    .toDF("playerId", "fouls", "goals", "own_goals", "pass_accuracy",
      "shots_on_target")

  private lazy val matches =
    Ingest.matches(Ingest.parse(Fixture.allLines.toDF("value")))

  private def teamJson(key: String, name: String, offset: Int): String =
    s""""$key": {"name": "$name", ${(1 to 11).map(i =>
      s""""player$i": "P${offset + i - 1}"""").mkString(", ")}}"""

  test("req_type 1: win prediction responds with both teams' chances") {
    val req = s"""{"req_type": 1, "date": "2018-05-20",
      ${teamJson("team1", "Alpha", 0)}, ${teamJson("team2", "Beta", 11)}}"""
    val (file, out) = RequestApp.handle(spark, req, playersDim,
      Seq(("Alpha FC", 100L)).toDF("name", "Id"), emptyChem,
      emptyRatings, emptyProfiles, matches)
    assert(file == "predict_result.json")
    val row = out.collect().head
    val t1 = row.getStruct(row.fieldIndex("team1"))
    assert(t1.getAs[String]("name") == "Alpha")
    assert(approx(t1.getAs[Double]("winning chance"), 50.0))
  }

  test("req_type 1: invalid squad → {status: Invalid Team}") {
    // two GKs: P0 and P11 both GK role (roles repeat per 11)
    val badTeam = s""""team1": {"name": "Bad", ${(1 to 10).map(i =>
      s""""player$i": "P${i - 1}"""").mkString(", ")}, "player11": "P11"}"""
    val req = s"""{"req_type": 1, "date": "2018-05-20", $badTeam,
      ${teamJson("team2", "Beta", 11)}}"""
    val (_, out) = RequestApp.handle(spark, req, playersDim,
      Seq(("Alpha FC", 100L)).toDF("name", "Id"), emptyChem,
      emptyRatings, emptyProfiles, matches)
    assert(out.columns.toSeq == Seq("status"))
    assert(out.as[String].head() == "Invalid Team")
  }

  test("req_type 2: player profile response") {
    val req = """{"req_type": 2, "name": "P3"}"""
    val (file, out) = RequestApp.handle(spark, req, playersDim,
      Seq(("Alpha FC", 100L)).toDF("name", "Id"), emptyChem,
      emptyRatings, emptyProfiles, matches)
    assert(file == "player_result.json")
    val r = out.collect().head
    assert(r.getAs[String]("role") == "DF")
    assert(r.getAs[Long]("fouls") == 0L)
  }

  test("req_type absent defaults to 3: match info; unknown → Not Found") {
    val players = Ingest.players(spark, tmp("p.csv", Fixture.playersCsv))
    val teams = Ingest.teams(spark, tmp("t.csv", Fixture.teamsCsv))
    val req = """{"date": "2018-05-20", "label": "Alpha FC - Beta FC, 2 - 1"}"""
    val (file, out) = RequestApp.handle(spark, req, players, teams,
      emptyChem, emptyRatings, emptyProfiles, matches)
    assert(file == "match_details.json")
    assert(out.collect().head.getAs[String]("winner") == "Alpha FC")

    val miss = """{"date": "2019-01-01", "label": "nope"}"""
    val (_, notFound) = RequestApp.handle(spark, miss, players, teams,
      emptyChem, emptyRatings, emptyProfiles, matches)
    assert(notFound.as[String].head() == "Not Found")
  }

  private def malformed(req: String): String = intercept[IllegalArgumentException] {
    RequestApp.handle(spark, req, playersDim,
      Seq(("Alpha FC", 100L)).toDF("name", "Id"), emptyChem,
      emptyRatings, emptyProfiles, matches)
  }.getMessage

  test("req_type 1: a missing team or player field is named") {
    val noTeam2 = s"""{"req_type": 1, ${teamJson("team1", "Alpha", 0)}}"""
    assert(malformed(noTeam2).contains("'team2.name'"))
    val noPlayer7 = s"""{"req_type": 1, ${teamJson("team1", "Alpha", 0)},
      ${teamJson("team2", "Beta", 11).replace(""""player7": "P17", """, "")}}"""
    assert(malformed(noPlayer7).contains("'team2.player7'"))
  }

  test("req_type 2: a missing name field is named") {
    assert(malformed("""{"req_type": 2}""").contains("'name'"))
  }

  test("req_type 3 and absent: a missing date or label field is named") {
    assert(malformed("""{"req_type": 3, "label": "x"}""").contains("'date'"))
    assert(malformed("""{"date": "2018-05-20"}""").contains("'label'"))
  }

  /** Spark jobs started by `body`, counted by a listener on a job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs per request")
    try body
    finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("jobs per request: handle plus the response collect, per type") {
    // the serving tables as a serving process sees them: parquet files
    val dir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    def table(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val ids = 0L until 22L
    val players = table("players", playersDim)
    val teams = table("teams", Ingest.teams(spark, tmp("t.csv", Fixture.teamsCsv)))
    val chem = table("chem", (for (a <- ids; b <- ids if a != b)
      yield (a, b, 0.4 + (a + b) % 5 / 10.0)).toDF("p1", "p2", "chemistry"))
    val ratings = table("ratings", ids.map(i => (i, 0.3 + i % 4 / 10.0))
      .toDF("playerId", "rating"))
    val profiles = table("profiles", ids.map(i => (i, 1L, 0L, 0L, 0.5, 1L))
      .toDF("playerId", "fouls", "goals", "own_goals", "pass_accuracy",
        "shots_on_target"))
    val matchTable = table("matches", matches)
    def jobs(req: String): Int = jobsOf {
      val (_, out) = RequestApp.handle(spark, req, players, teams, chem,
        ratings, profiles, matchTable)
      out.toJSON.collect()
    }
    val win = s"""{"req_type": 1, ${teamJson("team1", "Alpha", 0)},
      ${teamJson("team2", "Beta", 11)}}"""
    val invalid = win.replace("\"P10\"", "\"P11\"")
    val counts = Map(
      "win" -> jobs(win),
      "invalid win" -> jobs(invalid),
      "profile" -> jobs("""{"req_type": 2, "name": "P3"}"""),
      "match" -> jobs(
        """{"date": "2018-05-20", "label": "Alpha FC - Beta FC, 2 - 1"}"""),
      "not found" -> jobs("""{"date": "2019-01-01", "label": "nope"}"""))
    info(s"jobs per request: $counts")
    // Before the requests were parsed on the driver and served from
    // bounded key lookups (Spark's JSON reader plus one head() job per
    // field, a cached-squad join plan, the match plan run twice), this
    // fixture took: win 15, invalid win 9, profile 5, match 12, not
    // found 6.
    // An empty match plan takes 4 or 5 jobs: adaptive execution may
    // cancel a sibling stage once one stage turns out empty, or not
    // yet, by timing.
    val bounds = Map("win" -> 4, "invalid win" -> 2, "profile" -> 2,
      "match" -> 6, "not found" -> 5)
    for ((k, n) <- bounds)
      assert(counts(k) <= n, s"$k: ${counts(k)} jobs, bound $n ($counts)")
  }

  private def tmp(name: String, content: String): String = {
    val p = java.nio.file.Files.createTempDirectory("graft").resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}
