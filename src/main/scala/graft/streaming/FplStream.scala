package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.fpl.{Flatten, Ingest, MetricsAlgebra}

/** Structured-Streaming incrementalization of the football pipeline
  * (reference master.py's DStream + updateStateByKey chain,
  * master.py:330-378).
  *
  * Design (SURVEY §2.7/§7 phase 7): ONE input line stream (socket in
  * prod, file/MemoryStream in tests) → single `from_json` parse → the
  * SAME column algebra as batch (`MetricsAlgebra`) → typed per-player
  * state via `flatMapGroupsWithState` keyed by playerId.
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
    * identical plan for batch frames). */
  def toMessages(lines: DataFrame): Dataset[PlayerMsg] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val parsed = Ingest.parse(lines)
    val events = MetricsAlgebra.withCounters(Ingest.events(parsed))
      .select(col("playerId"), col("matchId"),
        col("id").as("order"), lit(1).as("kind"), lit(0.0).as("factor"),
        col("teamId"),
        array(MetricsAlgebra.counterNames.map(c => col(c).cast("long")): _*)
          .as("counters"))
    val minutes = Flatten.playerMinutes(Ingest.matches(parsed))
      .select(col("playerId"), col("matchId"), lit(0L).as("order"),
        lit(0).as("kind"),
        when(col("neverSubstituted"), lit(1.05))
          .otherwise(col("minutesPlayed").cast("double") / 90.0)
          .as("factor"),
        col("teamId"),
        array((0 until NumCounters).map(_ => lit(0L)): _*).as("counters"))
    events.unionByName(minutes).as[PlayerMsg]
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

  /** Pure per-key fold — ONE kernel shared by the
    * flatMapGroupsWithState and transformWithState paths (and directly
    * callable in tests). Messages are replayed in (matchId, order)
    * sequence; a matchId greater than the open one closes it. */
  def foldMessages(playerId: Long, start: PlayerState,
      msgs: Iterator[PlayerMsg]): (PlayerState, Seq[MatchClose]) = {
    var st = start
    val out = scala.collection.mutable.ArrayBuffer.empty[MatchClose]

    // Only event-producing players emit and update state (the batch
    // pipeline and the reference key everything off event-derived
    // metric rows; squad members without events get no rating row).
    def close(): Unit = if (st.matchId >= 0 && st.counters.exists(_ != 0)) {
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
      out += MatchClose(playerId, st.matchId, st.teamId, passAcc,
        duelEff, shotEff, c(11), c(12), c(10), fkEff, c(16), contrib,
        nextRating, nextRating - st.rating, profPassAcc,
        st.profMatches + 1)
      st = PlayerState(-1L, 1.05, -1L, new Array[Long](NumCounters),
        nextRating, st.profFouls + c(11), st.profGoals + c(16),
        st.profOwnGoals + c(12), profPassAcc, st.profShots + c(10),
        st.profMatches + 1)
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

  /** Location-agnostic probe for COMMITTED data (java.io.File would be
    * wrong on HDFS/object stores). A bare exists() is not enough: a
    * crash mid-first-write leaves the directory with only _temporary /
    * _SUCCESS droppings and no parquet footer, and reading it would
    * throw on every replay — a permanent crash loop in the exact
    * at-least-once window the sink protects. */
  private def dirHasData(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = !name.startsWith("_") && !name.startsWith(".")
      }
      found
    }
  }

  /** Runs `f` over `df` persisted, and unpersists it afterwards. A
    * foreachBatch frame is the stateful fold itself: every action on
    * it re-runs the fold, reloading and recommitting the state store,
    * so a sink that acts on it more than once must act on a persisted
    * copy. */
  private def withPersisted[A](df: DataFrame)(f: DataFrame => A): A = {
    val cached = df.persist()
    try f(cached) finally { cached.unpersist(); () }
  }

  /** The closes columns the chemistry pairing reads. */
  private val pairCols = Seq("matchId", "playerId", "teamId", "delta")

  /** Schema of prior closes as the closes sink writes them, narrowed to
    * [[pairCols]] plus the batchId partition column. Reading with it
    * skips the per-batch parquet footer inference job. */
  private val priorClosesSchema: StructType = StructType(
    Encoders.product[MatchClose].schema
      .filter(f => pairCols.contains(f.name)) :+
      StructField("batchId", LongType))

  /** End-to-end: raw line stream → match-close stream, writing parquet
    * tables via foreachBatch (K1-K3 replacement: batchId-partitioned
    * idempotent parquet instead of repr-text directories). The batch is
    * persisted once, so the emptiness check and the write share one
    * evaluation of the fold. */
  def run(lines: DataFrame, outDir: String, checkpoint: String) = {
    val closes = matchCloses(toMessages(lines))
    closes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[MatchClose], batchId: Long) =>
        // Empty batches write nothing: under dynamic overwrite an empty
        // frame has no partitions, leaving a schema-less directory that
        // breaks later reads. Replay is deterministic (same offsets +
        // versioned state), so a skipped batch stays skippable.
        withPersisted(batch.toDF) { b =>
          if (!b.isEmpty) writeBatchPartition(b, batchId, outDir)
        }
      }
      .outputMode("append")
  }

  /** Full streaming consolidation — the reference's separate post-stream
    * Python pass (metrics.py, SURVEY E2) collapsed into foreachBatch:
    * match-closes land in `<dir>/closes`, and per-match chemistry
    * pair-deltas upsert incrementally to `<dir>/pair_deltas`. A match's
    * players can close in different micro-batches, so each batch pairs
    * its new closes against (a) each other and (b) previously-closed
    * rows of the same matches — every unordered pair lands exactly once.
    * Each micro-batch evaluates the stateful fold exactly once (see
    * [[consolidateBatch]]).
    *
    * Both sinks are batchId-partitioned with dynamic-partition
    * overwrite, so an at-least-once replay of a batch (crash between
    * the two writes, or after writing but before the checkpoint commit)
    * replaces that batch's partitions rather than re-appending — no
    * double-counted pair deltas. The prior-closes read excludes the
    * current batchId so a partially-written previous attempt can never
    * pair against itself.
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
    * One evaluation of `batch`: it is persisted once, and the emptiness
    * check, the pairing and the closes write all read that copy; it is
    * unpersisted when the step ends. Prior closes are read with the
    * schema the closes sink writes ([[priorClosesSchema]]), so no job
    * infers it. The pair deltas come from ONE self-join over the new
    * closes (`fresh`) ∪ the prior closes of the same matches, keeping
    * the pairs with at least one fresh side; the small pair frame is
    * persisted so its emptiness check and its write share one join. */
  def consolidateBatch(batch: DataFrame, batchId: Long,
      closesDir: String, pairsDir: String): Unit = {
    val spark = batch.sparkSession
    withPersisted(batch) { closes =>
      if (!closes.isEmpty) {
        val fresh =
          closes.select(pairCols.map(col) :+ lit(true).as("fresh"): _*)
        val rows =
          if (dirHasData(spark, closesDir)) {
            val prior = spark.read.schema(priorClosesSchema)
              .parquet(closesDir)
              .filter(col("batchId") =!= batchId)
              .join(fresh.select(col("matchId")).distinct(),
                Seq("matchId"), "left_semi")
              .select(pairCols.map(col) :+ lit(false).as("fresh"): _*)
            fresh.unionByName(prior)
          } else fresh
        withPersisted(graft.fpl.Chemistry.pairDeltas(rows, col("fresh"))) {
          pairs =>
            // a batch can close players without completing any pair (e.g.
            // a single close) — writing an empty frame would leave a
            // schema-less parquet dir that breaks later reads (same guard
            // as run())
            if (!pairs.isEmpty) writeBatchPartition(pairs, batchId, pairsDir)
        }
        writeBatchPartition(closes, batchId, closesDir)
      }
    }
  }
}
