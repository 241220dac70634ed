package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.fpl._
import graft.streaming.FplStream

/** The season benchmark: one workload per process.
  *
  *   perfbench.Main --workload <season_stream|serve_mix>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints progress to stderr and, as the last stdout line, one JSON
  * object {correct, attempted, failed, metrics}. `--trace 0` reports the
  * end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // half the cores: the JVM's compiler, GC and RocksDB threads keep
    // cores of their own, so a busy neighbour moves the figures less
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = graft.GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a, cores)
    try a.workload match {
      case "season_stream" => run.seasonStream()
      case "serve_mix" => run.serveMix()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    println(run.resultLine)
  }
}

object Run {
  /** Events per generated match. The reference season has about 1700;
    * README.md says why the benchmark's season is lighter. */
  val EventsPerMatch = 800
  /** The stream replays the first 10 gameweeks of the season, one
    * gameweek per micro-batch. */
  val StreamGameweeks = 10
  /** Replays a stream run measures, at least. */
  val StreamReplays = 1
  /** Cycles of ten requests a serve run measures, at least: 40 samples,
    * so that ten lie above the p75. */
  val ServeCycles = 4
  /** Set-ups timed per run; setup_s is their median. */
  val SetupReps = 3
  /** The serving tables are built from the first leg of the season (19
    * gameweeks: every pair of teams meets once). */
  val ServeGameweeks = 19
}

final class Run(spark: SparkSession, a: Main.Args, cores: Int) {
  import spark.implicits._

  private val engine = new EngineListener
  spark.sparkContext.addSparkListener(engine)
  private var spans = new Spans(false)
  private var attempted = 0L
  private var failed = 0L
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val artifact = mutable.LinkedHashMap.empty[String, String]

  private val started = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $s")
  private def put(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)
  private def now(): Long = System.nanoTime()
  private def sec(t0: Long): Double = (now() - t0) / 1e9

  // ---------------------------------------------------------------- common

  private def dir(name: String): File = new File(a.work, name)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** A fixed tiny Spark job, warmed, then the median of 5 timings. Timed
    * after the warm-up and after the measuring loop, it tells a disturbed
    * machine from a regression. */
  private def canary(): Double = median((1 to 12).map { _ =>
    val t0 = now()
    spark.range(0L, 2000000L, 1L, cores).selectExpr("sum(id % 7)").collect()
    (now() - t0) / 1e6
  }.drop(7))

  /** Times `reps` set-ups and keeps the last; setup_s is the median. */
  private def setup[T](reps: Int)(body: Int => T): T = {
    var last: Option[T] = None
    val times = (1 to reps).map { i =>
      val t0 = now()
      last = Some(body(i))
      sec(t0)
    }
    log(f"setup times ${times.map(t => f"$t%.2f").mkString(" ")}")
    if (!a.trace) put("setup_s", median(times), "s")
    last.get
  }

  private def generate(i: Int, gameweeks: Int): SeasonGen.Season = {
    val d = dir(s"season-$i")
    val s = SeasonGen.generate(a.seed, Run.EventsPerMatch, new File(d, "in"),
      gameweeks)
    SeasonGen.writeDims(s, new File(d, "dims"))
    s
  }
  private def inDir(s: SeasonGen.Season) = s.files.head.getParent
  private def dimsDir(s: SeasonGen.Season) =
    new File(s.files.head.getParentFile.getParentFile, "dims").getPath

  private def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (mismatches.size < 20) mismatches += s"$what: $detail"
    }
  }

  private def close(x: Double, y: Double): Boolean =
    math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))

  private def drainBus(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def engineMetrics(): Unit = {
    drainBus()
    engine.synchronized {
      put("spark.jobs", engine.jobs.toDouble, "count")
      put("spark.stages", engine.stages.toDouble, "count")
      put("spark.tasks", engine.tasks.toDouble, "count")
      put("spark.executor_run_ms", engine.runMs.toDouble, "ms")
      put("spark.executor_cpu_ms", engine.cpuNs / 1e6, "ms")
      put("spark.gc_ms", engine.gcMs.toDouble, "ms")
      put("spark.shuffle_read_bytes", engine.shuffleRead.toDouble, "bytes")
      put("spark.shuffle_write_bytes", engine.shuffleWrite.toDouble, "bytes")
      put("spark.spill_bytes", engine.spill.toDouble, "bytes")
      put("spark.task_skew", engine.skew, "ratio")
    }
  }

  /** Runs the measuring loop. `untraced` and `traced` each take a time
    * budget and a unit count, run whole units of work (a replay, a cycle
    * of requests) until both are spent, and return the mean time per
    * unit. An untraced run measures `--seconds` and at least `units`
    * units. A traced run measures one unit traced between two untraced
    * ones; their mean is the base of the tracing overhead. The engine
    * metrics cover the traced unit. */
  private def measureWindows(units: Int)(untraced: (Double, Int) => Double,
      traced: (Double, Int) => Double): Unit =
    if (!a.trace) untraced(a.seconds, units)
    else {
      val first = untraced(0, 1)
      drainBus(); engine.reset()
      spans = new Spans(true)
      val withSpans = traced(0, 1)
      engineMetrics()
      val kept = spans
      spans = new Spans(false)
      val second = untraced(0, 1)
      spans = kept
      put("trace.overhead_share", withSpans / ((first + second) / 2) - 1, "ratio")
    }

  // ------------------------------------------------------- season_stream

  private final case class Replay(wallS: Double,
      progress: Seq[StreamingQueryProgress], stateDir: File, traced: Boolean)

  /** One catch-up replay of the season through FplStream.runFull: all
    * gameweek files are present at start and the file source takes one
    * per micro-batch. With `traced`, the same composition runFull uses
    * (toMessages -> matchCloses -> consolidateBatch) with spans around
    * the fold and the consolidation of every micro-batch; the fold span
    * evaluates the batch once more on its own, which is part of the
    * reported tracing overhead. */
  private def replay(in: String, tag: String, traced: Boolean): Replay = {
    val root = dir(s"stream-$tag")
    val state = new File(root, "state"); val ckpt = new File(root, "ckpt")
    val lines = spark.readStream.option("maxFilesPerTrigger", 1L).text(in)
    val t0 = now()
    val writer =
      if (!traced) FplStream.runFull(lines, state.getPath, ckpt.getPath)
      else {
        val closesDir = s"${state.getPath}/closes"
        val pairsDir = s"${state.getPath}/pair_deltas"
        FplStream.matchCloses(FplStream.toMessages(lines)).writeStream
          .option("checkpointLocation", ckpt.getPath)
          .foreachBatch { (b: Dataset[FplStream.MatchClose], id: Long) =>
            val unit = s"batch-$id"
            spans("micro-batch", unit) {
              // the fold on its own: one extra evaluation of the batch
              spans.counted("FplStream.matchCloses", unit)((n: Long) => n)(b.count())
              spans("FplStream.consolidateBatch", unit) {
                FplStream.consolidateBatch(b.toDF, id, closesDir, pairsDir)
              }
            }
            ()
          }
          .outputMode("append")
      }
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = sec(t0)
    Replay(wall, q.recentProgress.filter(_.numInputRows > 0).toSeq, state,
      traced)
  }

  private def checkStream(r: Replay, model: Model): Long = {
    val closes = spark.read.parquet(s"${r.stateDir}/closes")
      .select($"playerId", $"matchId", $"rating", $"delta")
      .as[(Long, Long, Double, Double)].collect()
    val got = closes.map(c => (c._1, c._2) -> (c._3, c._4)).toMap
    check("close rows", got.size == closes.length, "duplicate close rows")
    for (e <- model.closed) {
      val g = got.get((e.playerId, e.matchId))
      check("close", g.exists(x => close(x._1, e.rating) && close(x._2, e.delta)),
        s"player ${e.playerId} match ${e.matchId}: got $g want (${e.rating}, ${e.delta})")
    }
    val expected = model.closed.map(e => (e.playerId, e.matchId)).toSet
    for (k <- got.keys if !expected.contains(k))
      check("close", ok = false, s"unexpected close $k")
    val chem = Chemistry.fromPairDeltas(
        spark.read.parquet(s"${r.stateDir}/pair_deltas"))
      .as[(Long, Long, Double)].collect()
    checkChemistry("stream chemistry", chem.map(c => (c._1, c._2) -> c._3).toMap,
      model.chemClosed)
    model.rated.size.toLong - closes.length
  }

  private def checkChemistry(what: String, got: Map[(Long, Long), Double],
      want: Map[(Long, Long), Double]): Unit = {
    for ((k, v) <- want)
      check(what, got.get(k).exists(close(_, v)), s"pair $k: got ${got.get(k)} want $v")
    for (k <- got.keys if !want.contains(k))
      check(what, ok = false, s"unexpected pair $k")
  }

  def seasonStream(): Unit = {
    val season = setup(Run.SetupReps)(generate(_, Run.StreamGameweeks))
    val model = new Model(season)
    log("model ready")
    val in = inDir(season)
    // warm-up, untimed and unchecked: one whole replay. The JVM gets
    // faster over several replays, most over the first (README.md,
    // Workloads)
    val w = replay(in, "warm", traced = false)
    log(f"warm-up replay: ${w.wallS}%.2f s")
    val before = canary()

    val replays = mutable.ArrayBuffer.empty[Replay]
    def loop(traced: Boolean)(budget: Double, units: Int): Double = {
      val t0 = now()
      val mine = mutable.ArrayBuffer.empty[Replay]
      do {
        val r = replay(in, s"r${replays.size}", traced)
        log(f"replay ${replays.size}: ${r.wallS}%.2f s, ${r.progress.size} batches")
        mine += r; replays += r
      } while (sec(t0) < budget || mine.size < units)
      mine.map(_.wallS).sum / mine.size
    }
    measureWindows(Run.StreamReplays)(loop(traced = false), loop(traced = true))
    val after = canary()

    log("checking")
    var unclosed = 0L
    for (r <- replays) unclosed = checkStream(r, model)
    val measured = replays.filterNot(_.traced)
    val commits = measured.flatMap(_.progress.map(
      _.durationMs.get("triggerExecution").toDouble)).toSeq
    artifact("samples_ms") = commits.mkString("[", ",", "]")
    if (!a.trace) {
      put("rate_per_s", season.events * measured.size / measured.map(_.wallS).sum, "1/s")
      put("latency_p50_ms", median(commits), "ms")
      put("latency_tail_ms", pct(commits, 0.75), "ms")
    } else {
      val prog = replays.find(_.traced).get.progress
      for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")) {
        val xs = prog.map(p => Option(p.durationMs.get(ph)).map(_.toDouble)
          .getOrElse(0.0))
        put(s"stream.${ph}_p50_ms", median(xs), "ms")
        put(s"stream.${ph}_sum_ms", xs.sum, "ms")
      }
      val ops = prog.flatMap(_.stateOperators.headOption)
      def custom(o: org.apache.spark.sql.streaming.StateOperatorProgress,
          pre: String) = o.customMetrics.asScala.collect {
        case (k, v) if k.startsWith(pre) => v.toDouble
      }.sum
      put("FplStream.state.rows_total", ops.last.numRowsTotal.toDouble, "count")
      put("FplStream.state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "count")
      put("FplStream.state.memory_bytes", ops.last.memoryUsedBytes.toDouble, "bytes")
      put("FplStream.state.commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms")
      put("FplStream.state.rocksdb_commit_ms",
        ops.map(o => custom(o, "rocksdbCommit")).sum, "ms")
      put("FplStream.matchCloses_ms", spans.sumMs("FplStream.matchCloses"), "ms")
      val cons = spans.byName("FplStream.consolidateBatch")
      put("FplStream.consolidateBatch_ms", cons.map(spans.durMs).sum, "ms")
      // the first batch closes nothing; compare the first that does
      val withCloses = cons.filter(c => spans.all.exists(s =>
        s.unit == c.unit && s.name == "FplStream.matchCloses" && s.rows > 0))
      put("FplStream.consolidateBatch_last_over_first",
        spans.durMs(withCloses.last) / spans.durMs(withCloses.head), "ratio")
      put("FplStream.closes", spans.rows("FplStream.matchCloses").toDouble, "count")
      put("FplStream.unclosed_player_matches", unclosed.toDouble, "count")
      artifact("progress") = prog.map(_.json).mkString("[", ",\n", "]")
    }
    log(s"unclosed player-matches at end of stream: $unclosed")
    finish(before, after)
  }

  // ------------------------------------------- serving tables, batch path

  /** Rebuilds the serving tables from the season files through the batch
    * path (parse, counter algebra, minutes, rating fold, chemistry,
    * profiles) and writes them as parquet under `out`. */
  private def rebuild(in: String, dims: String, out: File): Unit = {
    def step(name: String, df: DataFrame): Unit =
      if (spans.enabled) spans.counted(name, "rebuild")((n: Long) => n)(df.count())
    val parsed = Ingest.parse(spark.read.text(in)).cache()
    step("Ingest.parse", parsed)
    val matches = Ingest.matches(parsed)
    val fm = MetricsAlgebra.playerMatchMetrics(Ingest.events(parsed)).cache()
    step("MetricsAlgebra.playerMatchMetrics", fm)
    val pm = Flatten.playerMinutes(matches).cache()
    step("Flatten.playerMinutes", pm)
    val ratings = Folds.ratings(spark, fm, pm).cache()
    step("Folds.ratings", ratings)
    val chem = Chemistry.chemistryTable(
      ratings.select($"matchId", $"playerId", $"teamId", $"delta")).cache()
    step("Chemistry.chemistryTable", chem)
    val profiles = Folds.profiles(fm).cache()
    step("Folds.profiles", profiles)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(new File(out, name).getPath)
    spans("tables.write", "rebuild") {
      write(Ingest.players(spark, s"$dims/players.csv"), "players")
      write(Ingest.teams(spark, s"$dims/teams.csv"), "teams")
      write(Chemistry.symmetric(chem), "chemistry_sym")
      write(ratings.groupBy($"playerId")
        .agg(max_by($"rating", $"matchId").as("rating")), "ratings")
      write(profiles, "profiles")
      write(matches, "matches")
    }
    Seq(parsed, fm, pm, ratings, chem, profiles).foreach(_.unpersist())
  }

  private def table(out: File, name: String): DataFrame =
    spark.read.parquet(new File(out, name).getPath)

  private def checkTables(out: File, model: Model): Unit = {
    val season = model.season
    val ratings = table(out, "ratings").as[(Long, Double)].collect().toMap
    check("ratings rows", ratings.size == model.finalRating.size,
      s"${ratings.size} rows, want ${model.finalRating.size}")
    for ((p, r) <- model.finalRating)
      check("rating", ratings.get(p).exists(close(_, r)),
        s"player $p: got ${ratings.get(p)} want $r")
    val sym = table(out, "chemistry_sym").as[(Long, Long, Double)].collect()
    check("chemistry symmetric", sym.length == 2 * model.chemAll.size,
      s"${sym.length} rows, want ${2 * model.chemAll.size}")
    checkChemistry("batch chemistry",
      sym.filter(r => r._1 < r._2).map(r => (r._1, r._2) -> r._3).toMap,
      model.chemAll)
    val prof = table(out, "profiles").collect().map(r =>
      r.getAs[Long]("playerId") -> r).toMap
    check("profiles rows", prof.size == model.profiles.size,
      s"${prof.size} rows, want ${model.profiles.size}")
    for ((p, e) <- model.profiles) {
      val ok = prof.get(p).exists { r =>
        r.getAs[Long]("fouls") == e.fouls && r.getAs[Long]("goals") == e.goals &&
        r.getAs[Long]("own_goals") == e.ownGoals &&
        r.getAs[Long]("shots_on_target") == e.shotsOnTarget &&
        r.getAs[Long]("matches_played") == e.matches &&
        close(r.getAs[Double]("pass_accuracy"), e.passAccuracy)
      }
      check("profile", ok, s"player $p: got ${prof.get(p)} want $e")
    }
    val matches = table(out, "matches").select($"wyId", $"gameweek", $"label")
      .as[(Long, Int, String)].collect().map(m => m._1 -> m).toMap
    for (m <- season.matches)
      check("match", matches.get(m.id).contains((m.id, m.gameweek, m.label)),
        s"match ${m.id}: got ${matches.get(m.id)}")
    check("players rows", table(out, "players").count() == season.players.size,
      "players dim row count")
  }

  // ----------------------------------------------------------- serve_mix

  private final case class Req(i: Int, kind: String, json: String,
      expect: () => String)

  private final case class Tables(players: DataFrame, teams: DataFrame,
      chem: DataFrame, ratings: DataFrame, profiles: DataFrame,
      matches: DataFrame)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The fixed type order of the request mix, one cycle. */
  private val CycleKinds = Seq("win", "profile", "match", "win", "profile",
    "match", "win_dated", "profile", "match", "win")
  /** Requests per cycle. */
  private val Cycle = CycleKinds.size

  private def q(s: String) = mapper.writeValueAsString(s)

  /** The request mix: 30% win, 10% dated win, 30% profile, 30% match
    * info. Every 10th win request (the 5th, 15th, ...) has an invalid
    * squad, every 20th profile and match request names nothing that
    * exists. Types and those positions are fixed, so every run sends the
    * same mix; the seed picks teams, squads, players, matches and dates.
    * Each request carries its expected response, computed from the spec
    * formulas by [[Model]]. */
  private def requests(model: Model, cluster: Map[Long, Int]): Iterator[Req] = {
    val season = model.season
    val rnd = new scala.util.Random(a.seed * 31 + 7)
    val effective = model.effectiveRatings(cluster)
    def squad(teamId: Long, invalid: Boolean): Seq[String] = {
      val ps = season.players.filter(_.teamId == teamId)
      def take(role: String, n: Int) =
        rnd.shuffle(ps.filter(_.role == role)).take(n).map(_.name)
      val (df, md, fw) = Seq((4, 4, 2), (4, 3, 3), (3, 5, 2))(rnd.nextInt(3))
      val names = take("GK", 2).take(1) ++ take("DF", df) ++ take("MD", md) ++
        take("FW", fw)
      if (!invalid) names
      else if (rnd.nextBoolean()) names.init :+ take("GK", 2).last // 2 GK
      else names.init :+ s"Unknown Player ${rnd.nextInt(1000)}"
    }
    def side(key: String, team: String, t: Seq[String]) =
      s"\"$key\":{\"name\":${q(team)}," + t.zipWithIndex.map {
        case (p, i) => s"\"player${i + 1}\":${q(p)}" }.mkString(",") + "}"
    val invalidTeam = """[{"status":"Invalid Team"}]"""
    def chances(c: Option[(Double, Double)], n1: String, n2: String) =
      c.fold(invalidTeam) { case (c1, c2) =>
        s"""[{"team1":{"name":${q(n1)},"winning chance":$c1},""" +
        s""""team2":{"name":${q(n2)},"winning chance":$c2}}]"""
      }
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    Iterator.from(0).map { i =>
      val kind = CycleKinds(i % Cycle)
      val nth = seen(kind); seen(kind) = nth + 1
      kind match {
      case "win" | "win_dated" =>
        val Seq(t1, t2) = rnd.shuffle(season.teams).take(2)
        // 0: both squads valid, else the side whose squad is invalid
        val badSide = if (kind == "win" && nth % 10 == 4) 1 + rnd.nextInt(2) else 0
        val s1 = squad(t1.id, badSide == 1)
        val s2 = squad(t2.id, badSide == 2)
        val body = s"${side("team1", t1.name, s1)},${side("team2", t2.name, s2)}"
        if (kind == "win")
          Req(i, "win", s"""{"req_type":1,$body}""", () => chances(
            model.win(s1, s2, p => model.finalRating.getOrElse(p, 0.5)),
            t1.name, t2.name))
        else {
          val date = java.time.LocalDate.of(2018, 6, 1)
            .plusDays(rnd.nextInt(365).toLong).toString
          Req(i, "win_dated", s"""{"req_type":1,"date":"$date",$body}""", () => {
            val predict = model.ageModel(date)
            val at = java.time.LocalDate.parse(date)
            val byName = season.players.map(p => p.name -> p).toMap
            val retired = (s1 ++ s2).flatMap(byName.get)
              .exists(p => predict(model.ageAt(p.birthDate, at)) < 0.2)
            if (retired) invalidTeam
            else chances(model.win(s1, s2, p => effective.getOrElse(p, 0.5)),
              t1.name, t2.name)
          })
        }
      case "profile" =>
        val unknown = nth % 20 == 4
        val p = season.players(rnd.nextInt(season.players.size))
        val name = if (unknown) s"Unknown Player ${rnd.nextInt(1000)}" else p.name
        Req(i, "profile", s"""{"req_type":2,"name":${q(name)}}""", () =>
          if (unknown) "[]"
          else {
            val pr = model.profiles.getOrElse(p.id,
              model.Profile(0, 0, 0, 0.0, 0, 0))
            s"""[{"name":${q(p.name)},"birthArea":"England",""" +
            s""""birthDate":"${p.birthDate}","foot":"${p.foot}","role":"${p.role}",""" +
            s""""height":${p.height},"passportArea":"England","weight":${p.weightKg},""" +
            s""""fouls":${pr.fouls},"goals":${pr.goals},"own_goals":${pr.ownGoals},""" +
            s""""pass_accuracy":${pr.passAccuracy},"shots_on_target":${pr.shotsOnTarget}}]"""
          })
      case "match" =>
        val unknown = nth % 20 == 5
        val m = season.matches(rnd.nextInt(season.matches.size))
        val date = if (unknown) java.time.LocalDate.parse(m.date).plusDays(1).toString
          else m.date
        Req(i, "match", s"""{"req_type":3,"date":"$date","label":${q(m.label)}}""", () =>
          if (unknown) """[{"status":"Not Found"}]"""
          else {
            def names(f: SeasonGen.Side => Map[Long, Int], repeat: Boolean) =
              m.sides.flatMap { s =>
                f(s).toSeq.filter(_._2 > 0).flatMap { case (p, n) =>
                  Seq.fill(if (repeat) n else 1)(season.playerById(p).name)
                }
              }.sorted.map(q).mkString("[", ",", "]")
            val winner = season.teamById.get(m.winner).map(_.name).getOrElse("draw")
            s"""[{"date":"${m.date}","duration":"Regular","winner":${q(winner)},""" +
            s""""venue":${q(m.venue)},"gameweek":${m.gameweek},""" +
            s""""goals":${names(_.goals, true)},"own_goals":${names(_.ownGoals, true)},""" +
            s""""yellow_cards":${names(_.yellow, false)},"red_cards":${names(_.red, false)}}]"""
          })
      }
    }
  }

  /** Response and expectation agree: same JSON tree, numbers within a
    * relative 1e-9. */
  private def sameJson(x: com.fasterxml.jackson.databind.JsonNode,
      y: com.fasterxml.jackson.databind.JsonNode): Boolean =
    if (x.isNumber && y.isNumber) close(x.asDouble, y.asDouble)
    else if (x.isArray || x.isObject)
      x.size == y.size && (if (x.isArray)
        (0 until x.size).forall(i => sameJson(x.get(i), y.get(i)))
      else x.fieldNames.asScala.forall(f => y.has(f) && sameJson(x.get(f), y.get(f))))
    else x == y

  def serveMix(): Unit = {
    val season = generate(1, Run.ServeGameweeks)
    val in = inDir(season); val dims = dimsDir(season)
    // the serving tables, rebuilt from the season files through the batch
    // path (untimed); a traced run rebuilds them once more, traced layer
    // by layer, now that the JVM is warm
    val out = dir("tables")
    val t0 = now()
    rebuild(in, dims, out)
    log(f"serving tables built in ${sec(t0)}%.2f s")
    if (a.trace) {
      spans = new Spans(true)
      rebuild(in, dims, dir("tables-traced"))
      for (l <- Seq("Ingest.parse", "MetricsAlgebra.playerMatchMetrics",
          "Flatten.playerMinutes", "Folds.ratings", "Chemistry.chemistryTable",
          "Folds.profiles", "tables.write")) {
        put(s"${l}_ms", spans.sumMs(l), "ms")
        if (l != "tables.write") put(s"${l}_rows", spans.rows(l).toDouble, "count")
      }
      artifact("rebuild_spans") = spans.toJson
      spans = new Spans(false)
    }
    // set-up: what a serving process does at start, open the tables
    val t = setup(Run.SetupReps) { _ =>
      Tables(table(out, "players"), table(out, "teams"),
        table(out, "chemistry_sym"), table(out, "ratings"),
        table(out, "profiles"), table(out, "matches"))
    }
    val model = new Model(season)
    val cluster = MLCapabilities.clusterProfiles(t.profiles)
      .as[(Long, Int)].collect().toMap
    val reqs = requests(model, cluster)

    def serve(r: Req): (String, Double) = {
      spark.sparkContext.setJobGroup(s"req-${r.i}", r.kind)
      val t0 = now()
      val json = spans("request", s"req-${r.i}") {
        val (_, df) = spans(s"RequestApp.handle.${r.kind}", s"req-${r.i}") {
          RequestApp.handle(spark, r.json, t.players, t.teams, t.chem,
            t.ratings, t.profiles, t.matches)
        }
        spans(s"response.collect.${r.kind}", s"req-${r.i}") {
          df.toJSON.collect().mkString("[", ",", "]")
        }
      }
      val ms = (now() - t0) / 1e6
      spark.sparkContext.clearJobGroup()
      (json, ms)
    }
    // warm-up: one cycle of requests, untimed and unchecked
    val kinds = Seq("win", "win_dated", "profile", "match")
    reqs.take(Cycle).foreach(serve)
    val before = canary()

    val done = mutable.ArrayBuffer.empty[(Req, String, Double, Boolean)]
    def loop(traced: Boolean)(budget: Double, units: Int): Double = {
      val t0 = now()
      var n = 0
      do {
        for (r <- reqs.take(Cycle)) {
          val (json, ms) = serve(r)
          done += ((r, json, ms, traced)); n += 1
        }
      } while (sec(t0) < budget || n < units * Cycle)
      sec(t0) / n
    }
    measureWindows(Run.ServeCycles)(loop(false), loop(true))
    val after = canary()

    checkTables(out, model)
    if (a.trace) checkTables(dir("tables-traced"), model)
    for ((r, json, _, _) <- done) {
      val want = r.expect()
      check(r.kind, sameJson(mapper.readTree(json), mapper.readTree(want)),
        s"request ${r.json}: got $json want $want")
    }
    artifact("samples_ms") = done.map(d => f"""["${d._1.kind}",${d._3}%.3f]""")
      .mkString("[", ",", "]")
    val untraced = done.filterNot(_._4)
    val lat = untraced.map(_._3).toSeq
    if (!a.trace) {
      put("rate_per_s", untraced.size / (lat.sum / 1000), "1/s")
      // the median of each request type, weighted by the type's share of
      // the mix. The pooled median falls where the mix has few samples
      // (README.md, End-to-end metrics) and moved 22% between runs
      put("latency_p50_ms", kinds.map { k =>
        median(untraced.filter(_._1.kind == k).map(_._3).toSeq) *
          CycleKinds.count(_ == k) / Cycle
      }.sum, "ms")
      put("latency_tail_ms", pct(lat, 0.75), "ms")
    } else {
      val jobs = engine.synchronized(engine.jobsByGroup.toMap)
      val traced = done.filter(_._4)
      for (k <- kinds) {
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
        put(s"serve.${k}_p50_ms", med(untraced.filter(_._1.kind == k).map(_._3).toSeq), "ms")
        put(s"RequestApp.handle_ms.$k",
          med(spans.byName(s"RequestApp.handle.$k").map(spans.durMs)), "ms")
        put(s"response.collect_ms.$k",
          med(spans.byName(s"response.collect.$k").map(spans.durMs)), "ms")
        put(s"spark.jobs_per_req.$k", med(traced.filter(_._1.kind == k)
          .map(r => jobs.getOrElse(s"req-${r._1.i}", 0).toDouble).toSeq), "count")
      }
      layerProbes(t, season)
    }
    finish(before, after)
  }

  /** The serving layers RequestApp.handle calls, each timed on its own
    * over a few fixed valid squads: Serving.winPrediction with the
    * final ratings, and the two model steps of a dated request. */
  private def layerProbes(t: Tables, season: SeasonGen.Season): Unit = {
    val rnd = new scala.util.Random(a.seed)
    def squad(teamId: Long): Serving.TeamRequest = {
      val ps = season.players.filter(_.teamId == teamId)
      def take(role: String, n: Int) =
        rnd.shuffle(ps.filter(_.role == role)).take(n).map(_.name)
      Serving.TeamRequest(season.teamById(teamId).name,
        take("GK", 1) ++ take("DF", 4) ++ take("MD", 4) ++ take("FW", 2))
    }
    for (i <- 0 until 3) {
      val Seq(t1, t2) = rnd.shuffle(season.teams).take(2)
      val unit = s"probe-$i"
      spans("Serving.winPrediction", unit) {
        Serving.winPrediction(spark, t.players, t.chem, t.ratings,
          squad(t1.id), squad(t2.id))
      }
      spans("MLCapabilities.fallbackRatings", unit) {
        MLCapabilities.fallbackRatings(t.profiles, t.ratings).collect()
      }
      spans("MLCapabilities.ratingVsAge", unit) {
        val hist = t.ratings.join(t.players.select($"Id".as("playerId"),
            MLCapabilities.ageAt($"birthDate", to_date(lit("2018-12-01"))).as("age")),
            Seq("playerId")).select($"age", $"rating")
        MLCapabilities.ratingVsAge(hist)
      }
    }
    for (n <- Seq("Serving.winPrediction", "MLCapabilities.fallbackRatings",
        "MLCapabilities.ratingVsAge"))
      put(s"${n}_ms", median(spans.byName(n).map(spans.durMs)), "ms")
  }

  // ------------------------------------------------------------- results

  private def finish(before: Double, after: Double): Unit = {
    if (a.trace) {
      put("canary_before_ms", before, "ms")
      put("canary_after_ms", after, "ms")
      put("trace.spans", spans.all.size.toDouble, "count")
    }
    log("checked")
    artifact("canary_ms") = f"""{"before":$before%.3f,"after":$after%.3f}"""
    artifact("mismatches") = mismatches.map(m =>
      "\"" + m.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString("[", ",", "]")
    if (a.trace) artifact("spans") = spans.toJson
    val dest = new File(a.work.getParentFile.getParentFile, "artifacts")
    dest.mkdirs()
    val f = new File(dest, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    val body = (artifact.map { case (k, v) => s""""$k":$v""" } ++
      Seq(s""""result":$resultLine""")).mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    log(s"artifact: $f")
    if (mismatches.nonEmpty) mismatches.foreach(m => log(s"MISMATCH $m"))
  }

  def resultLine: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":${math.max(1L, attempted)},""" +
      s""""failed":$failed,"metrics":$ms}"""
  }
}
