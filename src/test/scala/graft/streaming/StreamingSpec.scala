package graft.streaming

import graft.SparkSpec
import graft.fpl._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Second match: same squads, no substitutions, different events;
    * third match record acts as season-end punctuation that flushes
    * match 2 state for every squad player. */
  private def matchJson(mid: Long, gw: Int): String =
    Fixture.matchJson
      .replace("\"wyId\":1001", s""""wyId":$mid""")
      .replace("\"gameweek\":1", s""""gameweek":$gw""")
      .replace(
        """"substitutions":[{"playerIn":4,"playerOut":3,"minute":60}]""",
        """"substitutions":[]""")

  private def ev(id: Int, mid: Long, eventId: Int, pid: Int, tid: Int,
      tags: Seq[Int]): String = {
    val tagStr = tags.map(t => s"""{"id":$t}""").mkString(",")
    s"""{"id":$id,"eventId":$eventId,"subEventId":0,"matchId":$mid,
       |"matchPeriod":"1H","eventSec":${id}.0,"playerId":$pid,
       |"teamId":$tid,"tags":[$tagStr]}""".stripMargin.replaceAll("\n", "")
  }

  private val match2Events = Seq(
    ev(101, 1002, 8, 1, 100, Seq(1801)),
    ev(102, 1002, 8, 1, 100, Seq(1801)),
    ev(103, 1002, 10, 3, 100, Seq(1801, 101)),
    ev(104, 1002, 1, 11, 200, Seq(703)),
    ev(105, 1002, 2, 12, 200, Seq()))

  private val season: Seq[String] =
    (Fixture.allLines :+ matchJson(1002, 2)) ++ match2Events :+
      matchJson(1003, 3)

  test("streaming match-close equals batch library (split across batches)") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val q = FplStream.matchCloses(
        FplStream.toMessages(stream.toDF().withColumnRenamed("value", "value")))
      .writeStream.format("memory").queryName("closes")
      .outputMode("append").start()
    try {
      // replay in 4 uneven chunks to exercise cross-batch state
      season.grouped(5).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("closes")
        .select("playerId", "matchId", "passAccuracy", "rating", "delta")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

      // batch reference: same formula layer over the full replay
      val parsed = Ingest.parse(season.toDF("value"))
      val fm = MetricsAlgebra.playerMatchMetrics(Ingest.events(parsed))
      val pm = Flatten.playerMinutes(Ingest.matches(parsed))
      val batch = Folds.ratings(spark, fm, pm).collect()
        .map(r => (r.getAs[Long]("playerId"), r.getAs[Long]("matchId")) ->
          ((r.getAs[Double]("rating"), r.getAs[Double]("delta")))).toMap
      val batchPa = fm.collect()
        .map(r => (r.getAs[Long]("playerId"), r.getAs[Long]("matchId")) ->
          r.getAs[Double]("pass_accuracy")).toMap

      // every batch row with events must be matched by a streamed close
      assert(batch.nonEmpty)
      batch.foreach { case (k, (rating, delta)) =>
        assert(streamed.contains(k), s"missing streamed close for $k")
        val (spa, sr, sd) = streamed(k)
        assert(approx(spa, batchPa(k)), s"passAcc mismatch at $k")
        assert(approx(sr, rating), s"rating mismatch at $k: $sr vs $rating")
        assert(approx(sd, delta), s"delta mismatch at $k")
      }
      // profile chain: p1 played both matches
      val p1 = spark.table("closes").filter($"playerId" === 1 &&
        $"matchId" === 1002).collect().head
      assert(p1.getAs[Long]("matchesPlayed") == 2L)
    } finally q.stop()
  }

  test("incremental chemistry upsert (runFull) equals the batch table") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-chem")
    val stream = MemoryStream[String]
    val q = FplStream.runFull(stream.toDF(), tmp.resolve("state").toString,
      tmp.resolve("ckpt").toString).start()
    try {
      // uneven chunks: players of one match close in different batches
      season.grouped(4).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val streamedChem = Chemistry.fromPairDeltas(
        spark.read.parquet(tmp.resolve("state/pair_deltas").toString))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

      val parsed = Ingest.parse(season.toDF("value"))
      val fm = MetricsAlgebra.playerMatchMetrics(Ingest.events(parsed))
      val pm = Flatten.playerMinutes(Ingest.matches(parsed))
      val batchChem = Chemistry.chemistryTable(
        Folds.ratings(spark, fm, pm)
          .select($"matchId", $"playerId", $"teamId", $"delta"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

      assert(batchChem.nonEmpty)
      assert(streamedChem.keySet == batchChem.keySet,
        s"pair sets differ: ${streamedChem.keySet} vs ${batchChem.keySet}")
      batchChem.foreach { case (k, v) =>
        assert(approx(streamedChem(k), v), s"chemistry mismatch at $k")
      }
    } finally q.stop()
  }

  test("each micro-batch runs the stateful fold once (runFull and run)") {
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-once")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // match 1001; then match 1002 (closes 1001); then match 1003
    // (closes 1002): three batches, the last two with closes
    val batches = Seq(Fixture.allLines,
      matchJson(1002, 2) +: match2Events, Seq(matchJson(1003, 3)))
    def players(lines: Seq[String]): Long =
      FplStream.toMessages(lines.toDF("value"))
        .select("playerId").distinct().count()
    val sinks =
      Seq("runFull" -> (FplStream.runFull _), "run" -> (FplStream.run _))
    for ((name, sink) <- sinks) {
      val stream = MemoryStream[String]
      val q = sink(stream.toDF(), tmp.resolve(s"$name-out").toString,
        tmp.resolve(s"$name-ckpt").toString).start()
      try batches.foreach { lines =>
        stream.addData(lines); q.processAllAvailable()
        // the state metric accumulates over every evaluation of the
        // fold, so a sink that re-runs it reads a multiple
        val updated = q.lastProgress.stateOperators(0).numRowsUpdated
        assert(updated == players(lines),
          s"$name: batch ${q.lastProgress.batchId} updated $updated rows")
      } finally q.stop()
    }
    assert(spark.read.parquet(tmp.resolve("run-out").toString).count() ==
      spark.read.parquet(tmp.resolve("runFull-out/closes").toString).count())
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"cached batches left behind: $leaked")
  }

  test("straggler event from an already-closed match is dropped") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val q = FplStream.matchCloses(FplStream.toMessages(stream.toDF()))
      .writeStream.format("memory").queryName("strag_closes")
      .outputMode("append").start()
    try {
      stream.addData(Fixture.allLines); q.processAllAvailable()
      stream.addData(Seq(matchJson(1002, 2)) ++ match2Events)
      q.processAllAvailable()
      // a late event for closed match 1001 lands while 1002 is open —
      // folding it in would corrupt 1002's counters; it must be dropped
      stream.addData(Seq(ev(999, 1001, 8, 1, 100, Seq(1801))))
      q.processAllAvailable()
      stream.addData(Seq(matchJson(1003, 3))); q.processAllAvailable()

      // batch reference over the CLEAN season (no straggler)
      val parsed = Ingest.parse(season.toDF("value"))
      val fm = MetricsAlgebra.playerMatchMetrics(Ingest.events(parsed))
      val expected = fm.filter($"playerId" === 1 && $"matchId" === 1002)
        .select("pass_accuracy").as[Double].head()
      val got = spark.table("strag_closes")
        .filter($"playerId" === 1 && $"matchId" === 1002)
        .select("passAccuracy").as[Double].head()
      assert(approx(got, expected),
        s"straggler corrupted match-1002 counters: $got vs $expected")
    } finally q.stop()
  }

  test("windowed aggregation with watermark over a replayed event stream") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "event_type")
    val q = StreamOps.windowedAgg(df, "ts", "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("windowed")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData((t(0), "a"), (t(5), "b"), (t(12), "c"))
      q.processAllAvailable()
      stream.addData((t(40), "d"))  // advances watermark, closes old windows
      q.processAllAvailable()
      val rows = spark.table("windowed").collect()
      assert(rows.exists(r => r.getAs[Long]("n") == 2L)) // 10:00-10:10
    } finally q.stop()
  }

  test("session windows close after the gap") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val df = stream.toDF().toDF("ts", "user_id")
    val q = StreamOps.sessionAgg(df, "ts", "1 minute", "5 minutes",
        Seq("user_id"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData((t(0), 7L), (t(2), 7L), (t(20), 7L), (t(59), 7L))
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect()
      // first session (2 events) and second (1 event) are closed
      assert(sessions.map(_.getAs[Long]("n")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment (closes ⋈ players dim)") {
    implicit val sc = spark.sqlContext
    val playersDim = Seq((1L, "Alice"), (3L, "Cara"))
      .toDF("Id", "pname")
    val stream = MemoryStream[String]
    val enriched = FplStream.matchCloses(
        FplStream.toMessages(stream.toDF()))
      .toDF()
      .join(org.apache.spark.sql.functions.broadcast(playersDim),
        $"playerId" === $"Id", "inner")
    val q = enriched.writeStream.format("memory")
      .queryName("enriched_closes").outputMode("append").start()
    try {
      val sentinel = Fixture.matchJson
        .replace("\"wyId\":1001", "\"wyId\":9999")
      stream.addData(Fixture.allLines :+ sentinel)
      q.processAllAvailable()
      val names = spark.table("enriched_closes")
        .select("pname").as[String].collect().toSet
      assert(names == Set("Alice", "Cara"))
    } finally q.stop()
  }

  test("late events beyond the watermark are dropped AND counted") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "event_type")
    val q = StreamOps.windowedAgg(df, "ts", "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData((t(0), "a"), (t(30), "b"))  // watermark → 10:29
      q.processAllAvailable()
      stream.addData((t(5), "late"))             // far behind watermark
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark))
        .sum
      assert(dropped >= 1, s"expected a counted drop, got $dropped")
    } finally q.stop()
  }

  test("streaming dedup within watermark") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "k")
    val q = StreamOps.dedupStream(df, "ts", "10 minutes", Seq("k"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData((t(0), "x"), (t(1), "x"), (t(2), "y"))
      q.processAllAvailable()
      assert(spark.table("deduped").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time bound only") {
    implicit val sc = spark.sqlContext
    val imps = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val joined = StreamOps.intervalJoin(
      imps.toDF().toDF("imp_ts", "ad_id"),
      clicks.toDF().toDF("click_ts", "ad_id"),
      "ad_id", "imp_ts", "click_ts", "1 minute", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      imps.addData((t(0), 1L), (t(0), 2L))
      // ad 1 clicked within the 10-minute bound; ad 2 clicked after it
      clicks.addData((t(5), 1L), (t(20), 2L))
      q.processAllAvailable()
      val rows = spark.table("attributed").select("ad_id")
        .as[Long].collect().toSeq
      assert(rows == Seq(1L), s"expected only ad 1 attributed, got $rows")
    } finally q.stop()
  }

  test("interval join: identical timestamp names stay unambiguous") {
    implicit val sc = spark.sqlContext
    val a = MemoryStream[(java.sql.Timestamp, Long)]
    val b = MemoryStream[(java.sql.Timestamp, Long)]
    val joined = StreamOps.intervalJoin(
      a.toDF().toDF("ts", "k"), b.toDF().toDF("ts", "k"),
      "k", "ts", "ts", "1 minute", "10 minutes")
    // output must expose both timestamps under distinct resolvable names
    val q = joined.select($"ts", $"right_ts", $"k")
      .writeStream.format("memory").queryName("same_name_join")
      .outputMode("append").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      a.addData((t(0), 1L)); b.addData((t(3), 1L))
      q.processAllAvailable()
      assert(spark.table("same_name_join").count() == 1)
    } finally q.stop()
  }

  test("transformWithState closes equal the flatMapGroupsWithState path") {
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    // transformWithState only runs on the RocksDB store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[String]
      val q = FplStreamTWS.matchCloses(
          FplStream.toMessages(stream.toDF()))
        .writeStream.format("memory").queryName("tws_closes")
        .outputMode("append").start()
      try {
        season.grouped(5).foreach { chunk =>
          stream.addData(chunk); q.processAllAvailable()
        }
        def key(r: org.apache.spark.sql.Row) =
          (r.getAs[Long]("playerId"), r.getAs[Long]("matchId"))
        val tws = spark.table("tws_closes").collect()
          .map(r => key(r) -> r.getAs[Double]("rating")).toMap
        // reference: the (already batch-verified) FMGWS kernel run
        // directly over the whole replay
        val fmgws = FplStream.matchCloses(
            FplStream.toMessages(season.toDF("value")))
          .collect().map(c => (c.playerId, c.matchId) -> c.rating).toMap
        assert(tws == fmgws,
          s"TWS/FMGWS divergence: ${tws.toSet.diff(fmgws.toSet)}")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }
}
