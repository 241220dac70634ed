package graft.fpl

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end demo of the football-analytics pipeline over a replayed
  * JSON line stream: the serving tables (ratings, profiles, chemistry)
  * of the batch path, then the streaming replay. Run:
  *   sbt "runMain graft.fpl.Demo [path-to-jsonl]"
  * Without an argument it replays the built-in synthetic match. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-fpl-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val lines =
      if (args.nonEmpty) spark.read.text(args(0))
      else DemoFixture.lines.toDF("value")

    // Batch: the serving tables, from the stream's kernel over the whole
    // replay (the demo has no player or team dims).
    val tmp = java.nio.file.Files.createTempDirectory("graft-demo")
    val tables = tmp.resolve("tables").toString
    def noRows(schema: StructType) =
      spark.createDataFrame(java.util.List.of[Row](), schema)
    ServingTables.write(lines, noRows(Schemas.playerSchema),
      noRows(Schemas.teamSchema), tables)
    for (name <- Seq("ratings", "profiles", "chemistry_sym")) {
      println(s"=== serving table $name ===")
      val t = spark.read.parquet(s"$tables/$name")
      t.orderBy(t.columns.take(2).map(col).toSeq: _*).show(30, false)
    }

    // Streaming replay: the same lines through a real file-source
    // readStream → stateful match-close pipeline → parquet sink.
    println("=== streaming replay (FplStream, AvailableNow) ===")
    val inDir = tmp.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    // a trailing match record acts as season-end punctuation so the
    // last real match rolls over and emits (spec: match JSON precedes
    // its events, so a new match record closes the previous one)
    val replay = (if (args.nonEmpty) lines.collect().map(_.getString(0)).toSeq
      else DemoFixture.lines) :+
      DemoFixture.lines.head.replace("\"wyId\":1001", "\"wyId\":9999")
    java.nio.file.Files.write(inDir.resolve("season.jsonl"),
      String.join("\n", replay: _*).getBytes)
    val streamLines = spark.readStream.text(inDir.toString)
    val q = graft.streaming.FplStream.runFull(streamLines,
        tmp.resolve("state").toString, tmp.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(tmp.resolve("state/closes").toString)
      .orderBy("matchId", "playerId").show(30, false)
    println("=== incremental chemistry from streamed pair deltas ===")
    Chemistry.fromPairDeltas(
        spark.read.parquet(tmp.resolve("state/pair_deltas").toString))
      .orderBy("p1", "p2").show(10, false)

    spark.stop()
  }
}

/** Inline copy of the synthetic replay fixture for the demo main
  * (main tree must not depend on test sources). */
private object DemoFixture {
  def lines: Seq[String] = {
    def ev(id: Int, eventId: Int, playerId: Int, teamId: Int,
        tags: Seq[Int], subEventId: Int = 0): String = {
      val tagStr = tags.map(t => s"""{"id":$t}""").mkString(",")
      s"""{"id":$id,"eventId":$eventId,"subEventId":$subEventId,
         |"matchId":1001,"matchPeriod":"1H","eventSec":${id * 10}.0,
         |"playerId":$playerId,"teamId":$teamId,"tags":[$tagStr]}"""
        .stripMargin.replaceAll("\n", "")
    }
    val m =
      """{"wyId":1001,"dateutc":"2018-05-20 18:45:00","duration":"Regular",
        |"gameweek":1,"label":"Alpha FC - Beta FC, 2 - 1","status":"Played",
        |"venue":"Stadio Alpha","winner":100,"teamsData":{
        |"100":{"hasFormation":1,"score":2,"side":"home","teamId":100,
        | "formation":{"lineup":[{"playerId":1,"goals":"0","ownGoals":"0","yellowCards":"0","redCards":"0"},
        |  {"playerId":2,"goals":"0","ownGoals":"0","yellowCards":"1","redCards":"0"},
        |  {"playerId":3,"goals":"1","ownGoals":"0","yellowCards":"0","redCards":"0"}],
        |  "bench":[{"playerId":4,"goals":"0","ownGoals":"0","yellowCards":"0","redCards":"0"}],
        |  "substitutions":[{"playerIn":4,"playerOut":3,"minute":60}]}},
        |"200":{"hasFormation":1,"score":1,"side":"away","teamId":200,
        | "formation":{"lineup":[{"playerId":11,"goals":"0","ownGoals":"1","yellowCards":"0","redCards":"0"},
        |  {"playerId":12,"goals":"1","ownGoals":"0","yellowCards":"0","redCards":"1"},
        |  {"playerId":13,"goals":"0","ownGoals":"0","yellowCards":"0","redCards":"0"}],
        |  "bench":[{"playerId":14,"goals":"0","ownGoals":"0","yellowCards":"0","redCards":"0"}],
        |  "substitutions":[]}}}}""".stripMargin.replaceAll("\n", "")
    m +: Seq(
      ev(1, 8, 1, 100, Seq(1801)), ev(2, 8, 1, 100, Seq(1802)),
      ev(3, 8, 1, 100, Seq(1801, 302)), ev(4, 8, 2, 100, Seq(302)),
      ev(5, 1, 2, 100, Seq(703)), ev(6, 1, 2, 100, Seq(702)),
      ev(7, 1, 11, 200, Seq(701)), ev(8, 10, 3, 100, Seq(1801, 101)),
      ev(9, 10, 3, 100, Seq(1801)), ev(10, 10, 3, 100, Seq()),
      ev(11, 3, 12, 200, Seq(1801)),
      ev(12, 3, 12, 200, Seq(101, 1801), subEventId = 35),
      ev(13, 2, 13, 200, Seq()), ev(14, 7, 11, 200, Seq(102)),
      ev(15, 8, 4, 100, Seq(1801)))
  }
}
