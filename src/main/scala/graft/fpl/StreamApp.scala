package graft.fpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.GraftSession
import graft.streaming.{FplStream, LineSource}

/** The reference's `spark-submit master.py` replacement: one streaming
  * app ingesting the match+event line stream through the full stateful
  * pipeline into parquet state tables (closes + incremental chemistry).
  *
  *   sbt "runMain graft.fpl.StreamApp <host> <port> <stateDir>"
  *   sbt "runMain graft.fpl.StreamApp --replay <file.jsonl> <stateDir>"
  *   sbt "runMain graft.fpl.StreamApp --conf k=v [--conf k=v …] <stateDir>"
  *
  * The transport is a [[graft.streaming.LineSource]] config (SURVEY
  * §2.1 S1: socket is the reference's dev transport, master.py:330;
  * file/Kafka are the prod mappings), e.g.
  *   --conf source=file --conf path=/data/in
  *   --conf source=kafka --conf kafka.bootstrap.servers=broker:9092 \
  *     --conf subscribe=fpl-events
  * The two positional forms are kept for compatibility with the
  * reference's invocation shape.
  *
  * --replay starts a local feeder socket streaming the file once (line
  * per ~0.1 ms) and terminates when the stream drains — a
  * self-contained end-to-end run for demos and tests.
  *
  * The stream writes closes and pair deltas; the serving tables
  * `RequestApp` reads come from [[ServingTables]] over the same lines.
  */
object StreamApp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StreamApp <host> <port> <stateDir> " +
      "| --replay <file.jsonl> <stateDir> " +
      "| --conf k=v [--conf k=v ...] <stateDir>")
    // The shuffle partition count is frozen into the checkpoint at the
    // first start, so it stays 8 whatever the core count.
    val spark = GraftSession.tuned(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
        .appName("graft-fpl-stream")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false"))
      // a long-lived stream keeps Spark's default state maintenance
      // interval, not the tuned one sized for short-lived queries
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (k <- Seq("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled",
        "spark.sql.streaming.stateStore.maintenanceInterval"))
      println(s"$k=${spark.conf.get(k)}")

    val (srcConf, stateDir, bounded) =
      if (args(0) == "--replay") {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(args(1)))
        val server = new java.net.ServerSocket(0)
        val feeder = new Thread(() => {
          val sock = server.accept()
          val out = new java.io.PrintWriter(sock.getOutputStream, true)
          lines.forEach { l => out.println(l) }
          out.flush()
          Thread.sleep(60000) // keep open while the source drains
          sock.close()
        })
        feeder.setDaemon(true)
        feeder.start()
        (Map("source" -> "socket", "host" -> "localhost",
          "port" -> server.getLocalPort.toString), args(2), true)
      } else if (args(0) == "--conf") {
        // strict pair walk: positional grouped(2) would silently
        // desynchronize on one stray token and drop later options,
        // surfacing as a misleading "missing option" error downstream
        val conf = args.init.grouped(2).map {
          case Array("--conf", kv) if kv.contains("=") =>
            val Array(k, v) = kv.split("=", 2)
            k -> v
          case bad => throw new IllegalArgumentException(
            s"expected '--conf key=value' pairs before the state dir, " +
              s"got: ${bad.mkString(" ")}")
        }.toMap
        (conf, args.last, false)
      } else
        (Map("source" -> "socket", "host" -> args(0), "port" -> args(1)),
          args(2), false)

    val lines = LineSource(spark, srcConf)
    val query = FplStream.runFull(lines, stateDir,
        s"$stateDir/checkpoint")
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()

    try {
      if (bounded) {
        // bounded demo run (the reference bounds to 100 s, master.py:379)
        try awaitDrained(query) finally query.stop()
        println(s"replay complete; state tables in $stateDir")
        println(s"closes rows: ${closesRows(spark, stateDir)}")
      } else {
        query.awaitTermination()
      }
    } finally spark.stop()
  }

  /** Waits for a bounded run's source to drain: polls every 3 s until
    * three consecutive polls read an empty last batch. It ends as soon
    * as the query stops, and rethrows the exception a failed query
    * stopped with. */
  private[graft] def awaitDrained(query: StreamingQuery): Unit = {
    var idle = 0
    while (idle < 3 && query.isActive) {
      query.awaitTermination(3000)
      val rows = Option(query.lastProgress).map(_.numInputRows)
        .getOrElse(-1L)
      if (rows == 0) idle += 1 else idle = 0
    }
    query.exception.foreach(e => throw e)
  }

  /** The closes a stopped stream committed under `stateDir`: 0 when it
    * closed no match, since the closes sink writes nothing until then. */
  private[graft] def closesRows(spark: SparkSession, stateDir: String)
      : Long = {
    val dir = s"$stateDir/closes"
    if (FplStream.dirHasData(spark, dir)) spark.read.parquet(dir).count()
    else 0L
  }
}
