package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // cpus is a BENCH-PROTOCOL variable (round-10 adjudication: a
    // streaming micro-batch commits one state-store instance per
    // shuffle partition, so cpus=32 multiplies stateful per-batch cost
    // ~2.1x) — emit it, and whether it came from the env or the
    // default, in the output JSON so a series mismatch is visible in
    // the artifact itself (VERDICT-r10 item 3).
    val cpusEnv = sys.env.get("SPARK_GRAFT_CPUS")
    // ADVICE-r11: cpus is emitted UNQUOTED into the output JSON, and
    // local[*] is otherwise a legal master string — a non-integer value
    // ('*', 'auto') would produce invalid JSON on both the stdout line
    // and the persisted map, silently breaking every downstream parser
    // (tools/minof). Fail fast at startup instead.
    cpusEnv.foreach(v => require(v.forall(_.isDigit) && v.nonEmpty,
      s"SPARK_GRAFT_CPUS must be a positive integer (got '$v'): the " +
        "bench emits it as a bare JSON number"))
    val cpus = cpusEnv.getOrElse("4")
    val cpusSource = if (cpusEnv.isDefined) "env" else "default"
    // one source of truth for session tuning: the library recipe
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up passes: first at the smallest scale factor (JIT + codegen
    // compilation), then one untimed pass at the target SF (file
    // listing, footer reads, broadcast build) — the timed pass then
    // measures steady-state query execution, which is the
    // scale-relevant number (amortized cost per query, not one-time
    // session setup).
    // Registry.force (toRdd.count), NOT df.count(): count() lets the
    // optimizer eliminate the left joins of report-shaped queries and
    // the final sorts everywhere, so it times a fraction of the plan
    // Verify actually executes (protocol changed round 6 - totals are
    // not comparable across that boundary; docs/PERF.md #bench-protocol).
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try { Registry.force(fn(spark, warmDir)) }
        catch { case _: Throwable => () }
      }
    }
    SparkEntry.queries.foreach { case (_, fn) =>
      try { Registry.force(fn(spark, sfDir)) }
      catch { case _: Throwable => () }
    }
    // a failed query reports -1, not a deceptively small elapsed time;
    // total sums successful queries only. The exception CLASS of each
    // -1.0 entry is recorded beside the map (VERDICT-r12 item 7): a
    // box-level failure mid-series (one OOM/interrupt class across
    // many entries) is then distinguishable from independent per-query
    // regressions when reading the artifact alone.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { Registry.force(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          errors(name) = s"${e.getClass.getName}: ${
            Option(e.getMessage).getOrElse("").take(160)}"
          false
        }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // Streaming throughput: a fixed synthetic season (80 matches × 800
    // events = 64k events) replayed through both stateful paths via the
    // file transport with AvailableNow. Bench-only entries (streaming ≡
    // batch is pinned in StreamingSpec; no oracle row) so a throughput
    // regression in the reference's core workload shows up in BENCH
    // round over round — see docs/PERF.md §streaming.
    val all = results ++ streamingLegs(spark)
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = all.values.filter(_ >= 0).sum
    // errors keyed beside (not inside) the numeric queries map, so
    // tools/minof_* and every prior-round parser keep reading numbers
    def jesc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errs = errors.map { case (k, v) =>
      "\"" + jesc(k) + "\":\"" + jesc(v) + "\""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","cpus":$cpus,"cpus_source":"$cpusSource"}"""
    // Persist the FULL per-query map to a stable path: BENCH_r06–r08
    // recorded "parsed": null because the driver's captured log tail
    // truncated the ~6 KB JSON line — the file survives any stdout
    // mangling. Overridable for side-by-side runs; failure to write
    // (read-only cwd) must not fail the bench itself.
    // VERDICT-r14 item 4: the single fixed default path let the
    // driver's second pass (different cpus) overwrite the first pass's
    // per-query map — PERF_r14 ended with n_common: 0. Stamp a
    // cpus-suffixed copy beside the legacy path (additions-only: the
    // legacy path keeps its contract for every existing parser), so
    // two consecutive driver passes at different core counts both
    // leave their full maps on disk. Two passes at the SAME cpus still
    // overwrite both files; set SPARK_GRAFT_BENCH_OUT per pass to keep
    // each pass's map.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "docs/bench_driver_last.json")
    val outPaths =
      if (sys.env.contains("SPARK_GRAFT_BENCH_OUT")) Seq(outPath)
      else Seq(outPath, s"docs/bench_driver_last_c$cpus.json")
    outPaths.foreach { p =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), line + "\n")
      catch {
        // ADVICE-r9: a silent swallow made a missing full map
        // undiagnosable — warn on stderr, still don't fail the bench.
        case e: Throwable =>
          System.err.println(
            s"WARN Bench: failed to write full per-query map to $p" +
              s" (${e.getClass.getSimpleName}: ${e.getMessage});" +
              " only the short stdout summary survives this run")
      }
    }
    // stdout gets ONLY a short total-only line (VERDICT-r8 item 3):
    // the driver's tail window is narrower than the full per-query
    // map (~6 KB at 160+ entries), so the full line is what kept
    // truncating r6–r8 — the short line fits any plausible tail and
    // points at the stable file carrying the full map.
    val nOk = all.values.count(_ >= 0)
    // Stop Spark BEFORE printing: any shutdown-time WARN lines land
    // ahead of the JSON so it stays the last line of output.
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${
      all.size},"n_ok":$nOk,"sf":"$sfDir","cpus":$cpus,"cpus_source":"$cpusSource","detail":"$outPath"}""")
    System.out.flush()
  }

  /** A deterministic synthetic season of `nMatches` matches, each a
    * match JSON line followed by `eventsPerMatch` event lines, the
    * input of [[streamingLegs]]. */
  def synthSeason(nMatches: Int, eventsPerMatch: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (1 to nMatches).flatMap { m =>
      val home = 100 + (m % 20)
      val away = 100 + ((m + 7) % 20)
      def squad(t: Int) = (0 until 14).map(i => t * 100 + i)
      val lineup = (t: Int) => squad(t).take(11).map(p =>
        s"""{"playerId":$p,"goals":"0","ownGoals":"0","yellowCards":"0","redCards":"0"}""")
        .mkString("[", ",", "]")
      val bench = (t: Int) => squad(t).drop(11).map(p =>
        s"""{"playerId":$p,"goals":"0","ownGoals":"0","yellowCards":"0","redCards":"0"}""")
        .mkString("[", ",", "]")
      val matchJson =
        s"""{"wyId":$m,"dateutc":"2018-01-01 12:00:00","duration":"Regular",
           |"gameweek":${(m - 1) / 10 + 1},"label":"M$m","status":"Played",
           |"venue":"V","winner":$home,"teamsData":{
           |"$home":{"hasFormation":1,"score":1,"side":"home","teamId":$home,
           | "formation":{"lineup":${lineup(home)},"bench":${bench(home)},
           |  "substitutions":[{"playerIn":${home * 100 + 11},"playerOut":${home * 100},"minute":60}]}},
           |"$away":{"hasFormation":1,"score":0,"side":"away","teamId":$away,
           | "formation":{"lineup":${lineup(away)},"bench":${bench(away)},
           |  "substitutions":[]}}}}""".stripMargin.replaceAll("\n", "")
      val events = (1 to eventsPerMatch).map { e =>
        val t = if (rnd.nextBoolean()) home else away
        val p = t * 100 + rnd.nextInt(11)
        val eventId = Seq(1, 2, 3, 8, 8, 8, 10)(rnd.nextInt(7))
        val tags = eventId match {
          case 8 => if (rnd.nextBoolean()) "[{\"id\":1801}]" else "[{\"id\":1802}]"
          case 1 => s"""[{"id":${Seq(701, 702, 703)(rnd.nextInt(3))}}]"""
          case 10 => if (rnd.nextInt(10) == 0) "[{\"id\":1801},{\"id\":101}]"
            else "[{\"id\":1801}]"
          case _ => "[]"
        }
        s"""{"id":${m * 100000 + e},"eventId":$eventId,"subEventId":0,
           |"matchId":$m,"matchPeriod":"1H","eventSec":$e.0,
           |"playerId":$p,"teamId":$t,"tags":$tags}"""
          .stripMargin.replaceAll("\n", "")
      }
      matchJson +: events
    }
  }

  /** Streaming legs, each measured like the batch queries: one untimed
    * warm-up replay (JIT + codegen of the parse front-half, state-store
    * provider init) against a throwaway checkpoint, then the MIN of two
    * timed replays, each against a fresh checkpoint. Without the warm-up
    * the first leg run absorbed all one-time compilation and overstated
    * the FMGWS/TWS gap (docs/PERF.md §streaming). PROTOCOL NOTE: the
    * min-of-two was introduced in round 4 (r1–r3 reported a single timed
    * replay), so streaming values are not protocol-comparable across that
    * boundary; min-of-N reports best-case, chosen deliberately to strip
    * tail-of-bench scheduler/GC jitter from a structural comparison. */
  private[graft] def streamingLegs(spark: SparkSession)
      : Map[String, Double] = {
    import org.apache.spark.sql.streaming.Trigger
    val season = synthSeason(80, 800)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-stream")
    val inDir = tmp.resolve("in")
    java.nio.file.Files.createDirectory(inDir)
    java.nio.file.Files.write(inDir.resolve("season.jsonl"),
      season.mkString("\n").getBytes)
    def replay(name: String, pass: String,
        mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.Dataset[_]): Boolean =
      try {
        val q = mk(spark.readStream.text(inDir.toString))
          .writeStream.format("noop")
          .option("checkpointLocation",
            tmp.resolve(s"ckpt-$name-$pass").toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        true
      } catch { case _: Throwable => false }
    def leg(name: String)(
        mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.Dataset[_]): (String, Double) = {
      replay(name, "warm", mk)
      // min of two timed replays: one replay still carries multi-second
      // scheduler/GC jitter when the legs run at the tail of the full
      // query bench, which is exactly the noise that manufactured the
      // r3 "FMGWS 3.6x slower" finding (docs/PERF.md §streaming)
      val best = (1 to 2).map { i =>
        val t0 = System.nanoTime()
        val ok = replay(name, s"timed$i", mk)
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (best.exists(_ < 0)) -1.0 else best.min)
    }
    // NOTE the deliberate BENCH-vs-CORRECTNESS entry-count asymmetry
    // (bench = correctness + 2, whatever the current registry size —
    // VERDICT-r10: don't hard-code counts here, they staled twice):
    // stream_fmgws / stream_tws are the only two bench
    // entries with no CORRECTNESS row — they are throughput legs over
    // the same stateful kernel that the oracle-gated stream_fold query
    // bit-exactly verifies (FMGWS ≡ TWS ≡ batch is additionally pinned
    // in StreamingSpec), timing the handler-API overhead difference
    // rather than a distinct semantics.
    Map(
      leg("stream_fmgws")(l => streaming.FplStream.matchCloses(
        streaming.FplStream.toMessages(l))),
      leg("stream_tws")(l => streaming.FplStreamTWS.matchCloses(
        streaming.FplStream.toMessages(l))))
  }
}

/** Quick streaming-leg harness: prints the warm-measured FMGWS and TWS
  * replay times without running the full query bench. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (1 to sys.env.getOrElse("SPARK_GRAFT_STREAM_ROUNDS", "2").toInt)
      .foreach { r =>
        Bench.streamingLegs(spark).toSeq.sortBy(_._1).foreach {
          case (n, s) => println(f"round $r $n%-14s $s%.2f s")
        }
      }
    spark.stop()
  }
}
