package graft.streaming

import graft.SparkSpec
import graft.fpl.{Fixture, Ingest}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger

/** Fault-tolerance and robustness of the streaming pipeline. */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("stop/restart from checkpoint: no lost or duplicated closes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rec")
    val inDir = tmp.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val state = tmp.resolve("state").toString
    val ckpt = tmp.resolve("ckpt").toString
    def sentinel(id: Long) = Fixture.matchJson
      .replace("\"wyId\":1001", s""""wyId":$id""")

    // phase 1: match 1001 only (no punctuation yet → zero closes)
    java.nio.file.Files.write(inDir.resolve("a.jsonl"),
      String.join("\n", Fixture.allLines: _*).getBytes)
    val q1 = FplStream.runFull(spark.readStream.text(inDir.toString), state,
      ckpt).trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()

    // phase 2: NEW query from the same checkpoint; punctuation arrives
    java.nio.file.Files.write(inDir.resolve("b.jsonl"),
      sentinel(9999L).getBytes)
    val q2 = FplStream.runFull(spark.readStream.text(inDir.toString), state,
      ckpt).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    val closes = spark.read.parquet(s"$state/closes")
    // exactly the 7 event-producing players of match 1001, exactly once
    assert(closes.count() == 7, closes.collect().mkString("\n"))
    assert(closes.select("playerId").distinct().count() == 7)
    // state survived the restart: ratings reflect match-1001 events
    val p1 = closes.filter($"playerId" === 1).collect().head
    assert(approx(p1.getAs[Double]("rating"), 0.3609375))
  }

  test("a stopped stream that closed no match reports 0 closes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-noclose")
    val inDir = tmp.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val state = tmp.resolve("state").toString
    // one match and no punctuation: nothing closes, so the closes sink
    // never writes its directory
    java.nio.file.Files.write(inDir.resolve("a.jsonl"),
      String.join("\n", Fixture.allLines: _*).getBytes)
    FplStream.runFull(spark.readStream.text(inDir.toString), state,
        tmp.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(graft.fpl.StreamApp.closesRows(spark, state) == 0L)
  }

  test("at-least-once replay of a consolidation batch is idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay")
    val closesDir = tmp.resolve("closes").toString
    val pairsDir = tmp.resolve("pair_deltas").toString
    // (matchId, playerId, teamId, delta)
    def batch(rows: Seq[(Long, Long, Long, Double)]) =
      rows.toDF("matchId", "playerId", "teamId", "delta")
    def chemMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def chem = chemMap(graft.fpl.Chemistry.fromPairDeltas(
      spark.read.parquet(pairsDir)))
    // the batch table over every close so far: each pair exactly once
    def expected(rows: Seq[(Long, Long, Long, Double)]) =
      chemMap(graft.fpl.Chemistry.chemistryTable(batch(rows)))

    // batch 0: two teammates of match 10 close
    val b0 = Seq((10L, 1L, 100L, 0.1), (10L, 2L, 100L, 0.2))
    FplStream.consolidateBatch(batch(b0), 0L, closesDir, pairsDir)
    // batch 1: an opponent of the same match closes later
    val b1 = Seq((10L, 3L, 200L, -0.1))
    FplStream.consolidateBatch(batch(b1), 1L, closesDir, pairsDir)
    val first = chem
    assert(first.size == 3) // (1,2) same-team + (1,3),(2,3) cross
    assert(first == expected(b0 ++ b1))

    // crash between write and checkpoint commit → batch 1 replays
    FplStream.consolidateBatch(batch(b1), 1L, closesDir, pairsDir)
    assert(chem == first, "replayed batch double-counted pair deltas")
    assert(spark.read.parquet(closesDir)
      .filter($"playerId" === 3L).count() == 1,
      "replayed batch re-appended closes")

    // batch 2: two more closes of match 10 pair with the prior closes of
    // batches 0 and 1 and with each other
    val b2 = Seq((10L, 5L, 100L, -0.2), (10L, 4L, 200L, 0.05))
    FplStream.consolidateBatch(batch(b2), 2L, closesDir, pairsDir)
    val third = chem
    assert(third.size == 10) // every unordered pair of 5 players
    assert(third == expected(b0 ++ b1 ++ b2))
    FplStream.consolidateBatch(batch(b2), 2L, closesDir, pairsDir)
    assert(chem == third, "replayed batch 2 changed the pair set")

    // batch 3: a single close of a new match completes no pair, so it
    // writes no pair_deltas partition and the table stays readable
    val b3 = Seq((11L, 6L, 100L, 0.3))
    FplStream.consolidateBatch(batch(b3), 3L, closesDir, pairsDir)
    assert(!java.nio.file.Files.exists(tmp.resolve("pair_deltas/batchId=3")))
    assert(chem == third)
    // batch 4: its opponent closes later and pairs with it
    val b4 = Seq((11L, 7L, 200L, 0.1))
    FplStream.consolidateBatch(batch(b4), 4L, closesDir, pairsDir)
    assert(chem == expected(b0 ++ b1 ++ b2 ++ b3 ++ b4))

    // the driver-held closes roster follows the directory: a partition
    // deleted, one written behind the sink's back, or a reset roster is
    // seen by the next batch, whose chemistry is the table over the
    // closes on disk
    def onDisk = chemMap(graft.fpl.Chemistry.chemistryTable(
      spark.read.parquet(closesDir)))
    // batch 5: a lone close of match 12, then its partition is lost
    FplStream.consolidateBatch(batch(Seq((12L, 8L, 100L, 0.2))), 5L,
      closesDir, pairsDir)
    graft.StandingState.deleteTree(tmp.resolve("closes/batchId=5"))
    // batch 6: match 12's next close has no prior close left to pair with
    FplStream.consolidateBatch(batch(Seq((12L, 9L, 200L, 0.1))), 6L,
      closesDir, pairsDir)
    assert(chem == onDisk, "paired with a deleted close")
    // batch 7 written by another writer: a lone close of match 13
    batch(Seq((13L, 10L, 100L, -0.1))).withColumn("batchId", lit(7L))
      .write.mode("append").partitionBy("batchId").parquet(closesDir)
    FplStream.consolidateBatch(batch(Seq((13L, 11L, 200L, 0.3))), 8L,
      closesDir, pairsDir)
    assert(chem == onDisk, "missed a close written behind the sink")
    // a reset roster is loaded again from the directory
    graft.StandingState.reset(graft.StandingState.ClosesRosters)
    FplStream.consolidateBatch(batch(Seq((13L, 12L, 100L, 0.05))), 9L,
      closesDir, pairsDir)
    assert(chem == onDisk, "a reset roster lost the closes on disk")
  }

  test("StreamApp's bounded poll ends and rethrows when the query fails") {
    implicit val sc = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    stream.addData("a line")
    val q = stream.toDF().writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id >= 0) throw new IllegalStateException("sink failed")
      }
      .start()
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val poll = Future(graft.fpl.StreamApp.awaitDrained(q))(
        ExecutionContext.global)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        Await.result(poll, 60.seconds))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("sink failed")))
      assert(!q.isActive)
    } finally q.stop()
  }

  test("malformed lines parse to corrupt rows and are excluded cleanly") {
    val lines = (Fixture.allLines :+ "{not json at all" :+ "" :+
      """{"unknownField": 1}""").toDF("value")
    val parsed = Ingest.parse(lines)
    assert(Ingest.matches(parsed).count() == 1)
    assert(Ingest.events(parsed).count() == Fixture.eventJsons.size)
    // the junk rows exist in the parsed frame but carry neither key
    assert(parsed.count() == Fixture.allLines.size + 3)
  }
}
