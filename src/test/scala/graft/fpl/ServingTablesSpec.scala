package graft.fpl

import graft.SparkSpec
import graft.streaming.{FplStream, StreamingSpec}
import java.nio.file.Files
import org.apache.spark.sql.types._

/** The serving tables over the two-match season of [[StreamingSpec]],
  * with no match record after its last match. */
class ServingTablesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lines = StreamingSpec.twoMatches.toDF("value")

  private lazy val dir: String = {
    val tmp = Files.createTempDirectory("graft-serving")
    def put(name: String, text: String): String =
      Files.writeString(tmp.resolve(name), text).toString
    val out = tmp.resolve("tables").toString
    ServingTables.write(lines,
      Ingest.players(spark, put("players.csv", Fixture.playersCsv)),
      Ingest.teams(spark, put("teams.csv", Fixture.teamsCsv)), out)
    out
  }

  private def table(name: String) = spark.read.parquet(s"$dir/$name")

  private def types(name: String): Map[String, DataType] =
    table(name).schema.map(f => f.name -> f.dataType).toMap

  test("the six tables carry the columns and types their readers read") {
    // RequestApp.main opens these six; ServedSnapshot, ServedModels and
    // MLCapabilities read the columns below
    assert(types("ratings") == Map("playerId" -> LongType,
      "rating" -> DoubleType))
    assert(types("profiles") == Map("playerId" -> LongType,
      "fouls" -> LongType, "goals" -> LongType, "own_goals" -> LongType,
      "pass_accuracy" -> DoubleType, "shots_on_target" -> LongType,
      "matches_played" -> LongType))
    assert(types("chemistry_sym") == Map("p1" -> LongType,
      "p2" -> LongType, "chemistry" -> DoubleType))
    for ((name, schema) <- Seq("players" -> Schemas.playerSchema,
        "teams" -> Schemas.teamSchema, "matches" -> Schemas.matchSchema))
      assert(types(name) == schema.map(f => f.name -> f.dataType).toMap, name)
  }

  test("every event-producing player is rated in each match, the last " +
      "one closed at end of input") {
    val closes = FplStream.closesOf(FplStream.toMessages(lines)).collect()
    val producing = Ingest.events(Ingest.parse(lines))
      .select("playerId", "matchId").distinct().as[(Long, Long)]
      .collect().toSet
    assert(producing.count(_._2 == 1002L) == 4)
    assert(closes.map(c => (c.playerId, c.matchId)).toSet == producing)
    val last = closes.groupBy(_.playerId)
      .map { case (p, cs) => p -> cs.maxBy(_.matchId).rating }
    val ratings = table("ratings").as[(Long, Double)].collect().toMap
    assert(ratings.keySet == last.keySet)
    last.foreach { case (p, r) => assert(approx(ratings(p), r), s"player $p") }
  }

  test("golden values: rating, profile chain, chemistry, dims, matches") {
    // p3: subbed out at 60 in 1001 (shot_eff 0.5, 2 on target), then a
    // full 1002 with one scored shot (shot_eff 1, 1 on target)
    val r1 = (60.0 / 90.0) * ((0.5 + 2.0) / 4 + 0.5) / 2
    val r2 = 1.05 * ((1.0 + 1.0) / 4 + r1) / 2
    val ratings = table("ratings").as[(Long, Double)].collect().toMap
    assert(approx(ratings(3L), r2))
    // p1: pass accuracy 0.75, then 1.0 → (1.0 + 0.75)/2 over 2 matches
    val p1 = table("profiles").filter($"playerId" === 1L).collect().head
    assert(approx(p1.getAs[Double]("pass_accuracy"), 0.875))
    assert(p1.getAs[Long]("matches_played") == 2L)
    // p2 (team 100) and p13 (team 200) only met in 1001, both ratings
    // fell: opposite sides, same direction ⇒ −|Δ2 + Δ13|/2
    val d2 = 1.05 * (0.75 / 4 + 0.5) / 2 - 0.5
    val d13 = 1.05 * (0.0 + 0.5) / 2 - 0.5
    val chem = table("chemistry_sym").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(approx(chem((2L, 13L)), 0.5 - math.abs(d2 + d13) / 2))
    assert(chem((13L, 2L)) == chem((2L, 13L)))
    assert(table("players").count() == 9L)
    assert(table("teams").as[(String, Long)].collect().toSet ==
      Set(("Alpha FC", 100L), ("Beta FC", 200L)))
    assert(table("matches").select("wyId").as[Long].collect().sorted
      .toSeq == Seq(1001L, 1002L))
  }
}
