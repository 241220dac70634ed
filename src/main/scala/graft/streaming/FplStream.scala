package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.StandingState
import graft.fpl.{Chemistry, Flatten, Ingest, MetricsAlgebra}

/** Structured-Streaming incrementalization of the football pipeline
  * (reference master.py's DStream + updateStateByKey chain,
  * master.py:330-378).
  *
  * Design (SURVEY §2.7/§7 phase 7): ONE input line stream (socket in
  * prod, file/MemoryStream in tests) → single `from_json` parse → the
  * event counter algebra (`MetricsAlgebra`) → typed per-player state via
  * `flatMapGroupsWithState` keyed by playerId. The batch paths run the
  * same per-player fold over a bounded frame ([[closesOf]]), so the
  * spec's per-match formulas have one definition ([[closeMatch]]).
  *
  * Match boundaries are data punctuation: the spec guarantees a match
  * record precedes its events (docs/Specs.pdf p.2), and each match
  * record fans out per-player minutes messages (keyed by playerId, so
  * they shuffle to the same state partition as that player's events).
  * When a player's first message of match N+1 arrives, match N
  * finalizes: per-match metrics, contribution, rating update
  * r' = factor·(c+r)/2 and profile chain run inside the state handler
  * and a MatchClose row is emitted. State per key is one fixed-size
  * counter block — O(players), not O(events), unlike the reference's
  * full-state re-scan per batch.
  */
object FplStream {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-player message: either a minutes/factor row (from a match
    * record, kind=0) or an event counter row (kind=1). */
  case class PlayerMsg(playerId: Long, matchId: Long, order: Long,
      kind: Int, factor: Double, teamId: Long, counters: Array[Long])

  case class PlayerState(matchId: Long, factor: Double, teamId: Long,
      counters: Array[Long], rating: Double,
      profFouls: Long, profGoals: Long, profOwnGoals: Long,
      profPassAcc: Double, profShots: Long, profMatches: Long)

  /** Emitted when a player's match closes. */
  case class MatchClose(playerId: Long, matchId: Long, teamId: Long,
      passAccuracy: Double, duelEffectiveness: Double,
      shotEffectiveness: Double, fouls: Long, ownGoals: Long,
      shotsOnTarget: Long, freeKickEffectiveness: Double, goals: Long,
      contribution: Double, rating: Double, delta: Double,
      profilePassAccuracy: Double, matchesPlayed: Long)

  val NumCounters: Int = MetricsAlgebra.counterNames.size

  /** Raw lines → typed per-player messages (the streaming front half;
    * identical plan for batch frames): one counter message per event and
    * one minutes message per squad member. */
  def toMessages(lines: DataFrame): Dataset[PlayerMsg] = {
    val parsed = Ingest.parse(lines)
    counterMessages(MetricsAlgebra.withCounters(Ingest.events(parsed)),
        col("id"))
      .unionByName(minuteMessages(
        Flatten.playerMinutes(Ingest.matches(parsed))))
  }

  /** Counter messages (kind 1) from rows carrying playerId, matchId,
    * teamId and the counter columns ([[MetricsAlgebra.counterNames]]). */
  def counterMessages(rows: DataFrame, order: Column): Dataset[PlayerMsg] = {
    import rows.sparkSession.implicits._
    rows.select(col("playerId"), col("matchId"), order.as("order"),
        lit(1).as("kind"), lit(0.0).as("factor"), col("teamId"),
        array(MetricsAlgebra.counterNames.map(c => col(c).cast("long")): _*)
          .as("counters"))
      .as[PlayerMsg]
  }

  /** [[Flatten.playerMinutes]] rows → one minutes message (kind 0) per
    * squad member, carrying the rating factor (spec §1c, docs/Specs.pdf
    * p.6): 1.05 for a never-substituted starter, minutes/90 otherwise. */
  def minuteMessages(playerMinutes: DataFrame): Dataset[PlayerMsg] = {
    import playerMinutes.sparkSession.implicits._
    playerMinutes.select(col("playerId"), col("matchId"), lit(0L).as("order"),
        lit(0).as("kind"),
        when(col("neverSubstituted"), lit(1.05))
          .otherwise(col("minutesPlayed").cast("double") / 90.0)
          .as("factor"),
        col("teamId"),
        array((0 until NumCounters).map(_ => lit(0L)): _*).as("counters"))
      .as[PlayerMsg]
  }

  val initialState: PlayerState =
    PlayerState(-1L, 1.05, -1L, new Array[Long](NumCounters), 0.5,
      0L, 0L, 0L, 0.0, 0L, 0L)

  /** The per-key state handler (flatMapGroupsWithState adapter over
    * [[foldMessages]]). */
  def handle(playerId: Long, msgs: Iterator[PlayerMsg],
      state: GroupState[PlayerState]): Iterator[MatchClose] = {
    val (st, out) =
      foldMessages(playerId, state.getOption.getOrElse(initialState), msgs)
    state.update(st)
    out.iterator
  }

  /** The spec's per-match step (docs/Specs.pdf pp.4-6), the one
    * definition of its formulas: counters → the four metric ratios (0
    * over a zero denominator) → contribution with its foul/own-goal
    * penalty → r' = factor·(c+r)/2 → the pass-accuracy chain and the
    * profile sums. Returns the close and the next state; None when no
    * match is open or its counters are all zero (no close, no rating). */
  def closeMatch(playerId: Long, st: PlayerState)
      : Option[(MatchClose, PlayerState)] =
    if (st.matchId < 0 || st.counters.forall(_ == 0)) None
    else {
      val c = st.counters
      def ratio(num: Double, den: Double): Double =
        if (den == 0) 0.0 else num / den
      val passAcc = ratio(c(0) + 2.0 * c(1), c(2) + 2.0 * c(3))
      val duelEff = ratio(c(4) + 0.5 * c(5), c(6).toDouble)
      val shotEff = ratio(c(8) + 0.5 * c(9), c(7).toDouble)
      val fkEff = ratio(c(14) + c(15).toDouble, c(13).toDouble)
      val base = (passAcc + duelEff + shotEff + c(10)) / 4
      val contrib = base - (0.005 * c(11) + 0.05 * c(12)) * base
      val nextRating = st.factor * ((contrib + st.rating) / 2)
      val profPassAcc =
        if (st.profMatches == 0) passAcc
        else (passAcc + st.profPassAcc) / 2
      Some((MatchClose(playerId, st.matchId, st.teamId, passAcc, duelEff,
          shotEff, c(11), c(12), c(10), fkEff, c(16), contrib, nextRating,
          nextRating - st.rating, profPassAcc, st.profMatches + 1),
        PlayerState(-1L, 1.05, -1L, new Array[Long](NumCounters),
          nextRating, st.profFouls + c(11), st.profGoals + c(16),
          st.profOwnGoals + c(12), profPassAcc, st.profShots + c(10),
          st.profMatches + 1)))
    }

  /** Pure per-key fold — ONE kernel shared by the
    * flatMapGroupsWithState and transformWithState paths and the batch
    * driver [[closesOf]] (and directly callable in tests). Messages are
    * replayed in (matchId, order) sequence; a matchId greater than the
    * open one closes it. */
  def foldMessages(playerId: Long, start: PlayerState,
      msgs: Iterator[PlayerMsg]): (PlayerState, Seq[MatchClose]) = {
    var st = start
    val out = scala.collection.mutable.ArrayBuffer.empty[MatchClose]

    def close(): Unit = closeMatch(playerId, st) match {
      case Some((c, next)) => out += c; st = next
      // nothing closed: the next match starts from the defaults too
      case None => st = st.copy(matchId = -1L, factor = 1.05, teamId = -1L)
    }

    msgs.toSeq.sortBy(m => (m.matchId, m.kind, m.order)).foreach { m =>
      // A message older than the open match is a straggler from an
      // already-closed match arriving in a later micro-batch; folding
      // it into the open match would silently corrupt its counters.
      // The spec's ordering guarantee makes this rare — drop it.
      if (st.matchId >= 0 && m.matchId < st.matchId) ()
      else {
        if (m.matchId > st.matchId && st.matchId >= 0) close()
        if (m.kind == 0) {
          st = st.copy(matchId = m.matchId, factor = m.factor,
            teamId = m.teamId)
        } else {
          val cs = st.counters.clone()
          var i = 0
          while (i < NumCounters) { cs(i) += m.counters(i); i += 1 }
          st = st.copy(matchId = math.max(st.matchId, m.matchId),
            counters = cs,
            // events carry teamId too — fallback when the match record
            // (and its minutes fan-out) was lost upstream
            teamId = if (st.teamId < 0) m.teamId else st.teamId)
        }
      }
    }
    (st, out.toSeq)
  }

  /** Streaming (or batch) messages → match-close stream. */
  def matchCloses(msgs: Dataset[PlayerMsg]): Dataset[MatchClose] = {
    import msgs.sparkSession.implicits._
    msgs.groupByKey(_.playerId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(handle)
  }

  /** One player's whole bounded input folded from [[initialState]] by
    * [[foldMessages]]; the match still open at the end of the input is
    * closed by the same step ([[closeMatch]]), as an end-of-data timer
    * would close it in the stream. */
  def foldAll(playerId: Long, msgs: Iterator[PlayerMsg]): Seq[MatchClose] = {
    val (st, out) = foldMessages(playerId, initialState, msgs)
    out ++ closeMatch(playerId, st).map(_._1)
  }

  /** Bounded (batch) messages → every match close, by [[foldAll]] per
    * player: the batch paths run the stream's kernel. */
  def closesOf(msgs: Dataset[PlayerMsg]): Dataset[MatchClose] = {
    import msgs.sparkSession.implicits._
    msgs.groupByKey(_.playerId).flatMapGroups((p, it) => foldAll(p, it))
  }

  /** Idempotent per-batch parquet write: the table is partitioned by
    * batchId and each batch dynamically OVERWRITES only its own
    * partition. foreachBatch is at-least-once — if the job dies after
    * the write but before the checkpoint commit, the replayed batch
    * (same batchId) replaces its partition instead of re-appending, so
    * downstream sums never double-count. */
  private def writeBatchPartition(df: DataFrame, batchId: Long,
      dir: String): Unit =
    df.withColumn("batchId", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batchId")
      .parquet(dir)

  /** One data file of a sink directory: path, length, modification time. */
  private type DataFile = (String, Long, Long)

  /** The COMMITTED data files under `dir`, sorted, listed through the
    * directory's Hadoop FileSystem (java.io.File would be wrong on
    * HDFS/object stores). A file counts when no name on its path below
    * `dir` starts with `_` or `.`: a crash mid-write leaves _temporary /
    * _SUCCESS / .spark-staging droppings and no parquet footer, and
    * reading them would throw on every replay — a permanent crash loop in
    * the exact at-least-once window the sink protects. */
  private def dataFiles(spark: SparkSession, dir: String): Seq[DataFile] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val root = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(p, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[DataFile]
      while (it.hasNext) {
        val f = it.next()
        val path = f.getPath.toUri.getPath
        if (!path.stripPrefix(root).split('/')
            .exists(n => n.startsWith("_") || n.startsWith(".")))
          out += ((path, f.getLen, f.getModificationTime))
      }
      out.sorted.toSeq
    }
  }

  /** Whether `dir` holds committed data ([[dataFiles]]). */
  private[graft] def dirHasData(spark: SparkSession, dir: String)
      : Boolean = dataFiles(spark, dir).nonEmpty

  /** A close as the chemistry pairing reads it, with the micro-batch
    * that wrote it. */
  final case class RosterClose(matchId: Long, playerId: Long, teamId: Long,
      delta: Double, batchId: Long)

  /** The pair deltas micro-batch `batchId` adds: [[Chemistry.pairsOf]]
    * over each match of its `fresh` closes together with the `prior`
    * closes of the same matches, fresh being the closes of `batchId`.
    * Prior rows of `batchId` itself (an earlier attempt of a replayed
    * batch) are left out, so a replay pairs exactly as the first attempt
    * did and every unordered pair of a match lands once. */
  def batchPairs(batchId: Long, fresh: Seq[RosterClose],
      prior: Seq[RosterClose]): Seq[Chemistry.PairDelta] = {
    val matches = fresh.map(_.matchId).toSet
    (fresh ++ prior.filter(c => c.batchId != batchId && matches(c.matchId)))
      .groupBy(_.matchId).toSeq.sortBy(_._1)
      .flatMap { case (m, cs) => Chemistry.pairsOf(m, cs.map(c =>
        Chemistry.Side(c.playerId, c.teamId, c.delta, c.batchId == batchId)))
      }
  }

  /** The closes a sink directory holds once micro-batch `batchId` wrote
    * `fresh`: its partition is replaced, as the sink's write replaces it. */
  def recorded(roster: Vector[RosterClose], batchId: Long,
      fresh: Seq[RosterClose]): Vector[RosterClose] =
    roster.filterNot(_.batchId == batchId) ++ fresh

  /** The closes of one closes directory, held on the driver: the prior
    * closes [[consolidateBatch]] pairs with. It mirrors what the sink has
    * written. It is loaded with one read when first used, and again when
    * the directory's [[dataFiles]] are no longer the ones it last saw (a
    * partition deleted, or written by another writer); the sink records a
    * batch's closes in it only after their write succeeded. Each load
    * logs one INFO line with its rows, ms and reason. */
  private final class ClosesRoster(dir: String) {
    private var files: Option[Seq[DataFile]] = None
    private var rows = Vector.empty[RosterClose]

    /** The closes, reloaded first unless they mirror `listing`. */
    def closes(spark: SparkSession, listing: Seq[DataFile])
        : Vector[RosterClose] = synchronized {
      if (!files.contains(listing)) {
        val reason = if (files.isEmpty) "first use" else "listing changed"
        val t0 = System.nanoTime
        rows =
          if (listing.isEmpty) Vector.empty
          else {
            import spark.implicits._
            spark.read.schema(Encoders.product[RosterClose].schema)
              .parquet(dir).as[RosterClose].collect().toVector
          }
        files = Some(listing)
        log.info(f"closes roster $dir: ${rows.size} rows in " +
          f"${(System.nanoTime - t0) / 1e6}%.0f ms ($reason)")
      }
      rows
    }

    /** Records micro-batch `batchId`'s closes after their write;
      * `listing` is the directory's data files after it. */
    def record(batchId: Long, fresh: Seq[RosterClose],
        listing: Seq[DataFile]): Unit = synchronized {
      rows = recorded(rows, batchId, fresh)
      files = Some(listing)
    }
  }

  /** Full streaming consolidation — the reference's separate post-stream
    * Python pass (metrics.py, SURVEY E2) collapsed into foreachBatch:
    * match-closes land in `<dir>/closes`, and per-match chemistry
    * pair-deltas upsert incrementally to `<dir>/pair_deltas`. A match's
    * players can close in different micro-batches, so each batch pairs
    * its new closes with (a) each other and (b) the earlier closes of the
    * same matches, held on the driver ([[ClosesRoster]]) — every
    * unordered pair lands exactly once ([[batchPairs]]). Each micro-batch
    * evaluates the stateful fold exactly once and runs at most three
    * Spark jobs (see [[consolidateBatch]]).
    *
    * Both sinks are batchId-partitioned with dynamic-partition
    * overwrite, so an at-least-once replay of a batch (crash between
    * the two writes, or after writing but before the checkpoint commit)
    * replaces that batch's partitions rather than re-appending — no
    * double-counted pair deltas. The pairing leaves out prior closes of
    * the current batchId, so a partially-written previous attempt can
    * never pair against itself.
    *
    * The final chemistry table is 0.5 + sum over pair_deltas
    * (`graft.fpl.Chemistry.fromPairDeltas`). */
  def runFull(lines: DataFrame, stateDir: String, checkpoint: String) = {
    val closes = matchCloses(toMessages(lines))
    val closesDir = s"$stateDir/closes"
    val pairsDir = s"$stateDir/pair_deltas"
    closes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[MatchClose], batchId: Long) =>
        consolidateBatch(batch.toDF, batchId, closesDir, pairsDir)
      }
      .outputMode("append")
  }

  /** One consolidation step of [[runFull]] — exposed so tests can replay
    * a batchId and assert the sink is idempotent under at-least-once
    * delivery.
    *
    * The batch's closes are bounded by the players it touches, so they
    * are collected once: that job is the one evaluation of the stateful
    * fold. The pair deltas are [[batchPairs]] over those rows and the
    * directory's [[ClosesRoster]], checked against the directory's
    * listing, so no job reads the earlier closes. Both sinks are written
    * from the local rows: a job each, three in all. */
  def consolidateBatch(batch: DataFrame, batchId: Long,
      closesDir: String, pairsDir: String): Unit = {
    val rows = batch.collect()
    if (rows.nonEmpty) {
      val spark = batch.sparkSession
      val Seq(m, p, t, d) = Seq("matchId", "playerId", "teamId", "delta")
        .map(batch.schema.fieldIndex)
      val fresh = rows.toSeq.map(r => RosterClose(r.getLong(m), r.getLong(p),
        r.getLong(t), r.getDouble(d), batchId))
      val roster = StandingState.held(StandingState.ClosesRosters,
        closesDir)(new ClosesRoster(closesDir))
      val pairs = batchPairs(batchId, fresh,
        roster.closes(spark, dataFiles(spark, closesDir)))
      // a batch can close players without completing any pair (e.g. a
      // single close) — writing an empty frame would leave a schema-less
      // parquet dir that breaks later reads
      if (pairs.nonEmpty)
        writeBatchPartition(spark.createDataFrame(pairs), batchId, pairsDir)
      writeBatchPartition(spark.createDataFrame(rows.toSeq.asJava,
        batch.schema), batchId, closesDir)
      roster.record(batchId, fresh, dataFiles(spark, closesDir))
    }
  }
}
