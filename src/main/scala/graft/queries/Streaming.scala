package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GQuery, Tables => T}
import graft.operators.{AnnIndex, Segments}
import graft.operators.IndexOps.{postingsOf, statsOf, trgmsOf}
import graft.operators.Segments.{Cells, CheckpointedRanged, DocRefresh,
  Postings, Trigrams, VecRefresh}
import graft.streaming.StreamOps

/** Driver hash gates for the §2.7 watermark operators — all four run
  * REAL streaming execution (round 7; r6 ran three of them as batch
  * plans over the same functions). Each query lands its input
  * projection as time-sliced parquet files, replays them through
  * readStream → `StreamOps.*` → parquet sink with AvailableNow +
  * RocksDB state and `maxFilesPerTrigger = 1`, and hashes the
  * materialized sink — so the oracle covers rows produced by
  * `IncrementalExecution` across MULTIPLE micro-batches: watermark
  * advancement between batches, state insertion AND eviction, append-
  * mode window finalization. (r7 first ran these as one-file single-
  * batch replays; with no eviction the interval join's state held both
  * full inputs and the sf1→sf10 decade ratio hit 26.7× — state growth,
  * not join work. Time-sliced replay is also the honest posture: no
  * production stream consumes its whole history in one batch.)
  *
  * Determinism under the hash gate:
  *  - Slices are CONTIGUOUS event-time ranges written oldest-first
  *    (one sequential write job per slice, so file modification times
  *    — the file source's processing order — agree with event time).
  *    The watermark after batch N is max(ts in batches ≤ N) − delay,
  *    which is strictly below every row of batch N+1 — so no row is
  *    EVER late-dropped, deterministically, and the emitted set stays
  *    the full aggregate/match set the oracle rebuilds. Eviction only
  *    drops state the watermark proves finished (that is its
  *    correctness contract), so evicted ≠ lost.
  *  - Aggregation gates (window/session) run in APPEND mode, which
  *    only emits a window once the watermark passes its end. A
  *    sentinel row ~400 days past max event time, appended as the
  *    LAST file, advances the watermark over every real window in the
  *    final batches (`shouldRunAnotherBatch` on watermark advance).
  *    The sentinel's OWN window can never be emitted — its end exceeds
  *    the final watermark by construction (end > sentinel_ts >
  *    watermark + delay) — and readback filters its key defensively.
  *  - The interval join emits inner matches eagerly; a left row's
  *    state survives until the watermark passes ts + bound, by which
  *    point every right row that could match it has arrived (right
  *    rows ≤ watermark + delay are in earlier-or-current slices) ⇒
  *    the complete match set, no sentinel needed. Both sides slice on
  *    the SAME global time boundaries so their watermarks advance
  *    together.
  *  - stream_dedup (r8) plants its keys so duplicates only recur
  *    within the watermark horizon: the dedup key carries an
  *    hour-bucket component while the watermark delay is 2 hours, so
  *    a key's occurrences span ≤ 1h and its state is provably alive
  *    (watermark ≤ arrival − 2h < first_occurrence) whenever a later
  *    duplicate arrives — full DISTINCT stays exact under multi-batch
  *    replay WITH eviction, and the gate carries the eviction
  *    evidence (numRowsRemoved > 0, peak state < total keys) as
  *    booleans the oracle pins TRUE.
  * What file replay cannot exercise — genuinely late data, recovery —
  * stays pinned in StreamingSpec/RecoverySpec, which drive multi-batch
  * MemoryStreams.
  *
  * Time: events.ts is parquet TIMESTAMP(MICROS), read as TIMESTAMP_NTZ
  * (the pre-r7 testdata was TIMESTAMP(NANOS) read as an epoch-nano long
  * under nanosAsLong). The session is UTC-pinned (GraftSession), so
  * `ets = ts.cast("timestamp")` reinterprets the same µs instant as the
  * TimestampType the watermark operators expect, and `unix_micros(ets)`
  * equals DuckDB's `epoch_us(ts)` exactly — no precision conversion
  * exists anywhere for it to wobble.
  */
object Streaming {

  private def withEts(s: SparkSession, d: String) =
    T.events(s, d).withColumn("ets", col("ts").cast("timestamp"))

  private def decSum(c: Column): Column =
    sum(c.cast("decimal(38,2)")).cast("double")

  /** Sentinel event time: ~400 days past the max of `tsCol` — far
    * beyond any real window/session end, so the post-batch watermark
    * (sentinel − delay) finalizes every real group. One-row driver
    * action by construction. */
  private def flushTs(df: DataFrame, tsCol: String): Column = {
    val maxUs = df.agg(max(unix_micros(col(tsCol)))).head().getLong(0)
    timestamp_micros(lit(maxUs + 400L * 86400 * 1000000))
  }

  /** Batch count for an `n`-row replay: one slice per `rowsPerSlice`
    * rows, floor 2 (the hash gate always exercises ≥2 micro-batches —
    * a watermark advance, append finalization across a batch boundary,
    * and eviction), cap 8. Each micro-batch costs a fixed ~1s of
    * RocksDB commit + planning, so slicing a 60k-row sf0.1 input 8
    * ways would tax the bench ~10s per gate for no added coverage,
    * while 6M rows at sf10 want all 8 slices to bound state.
    * Aggregation state is per-GROUP (keys/windows, far fewer than
    * rows) — 250k rows/slice holds; the stream-stream join keeps
    * per-ROW state on both sides until the watermark clears ts+bound,
    * so its gate slices 2.5× finer (measured at sf10: 700k join rows
    * at 3 slices ran 174 s, at 8 slices 138 s — peak state, not join
    * work, is the cost driver). */
  private[graft] def sliceCount(n: Long, rowsPerSlice: Long = 250000L): Int =
    math.min(math.max(((n + rowsPerSlice - 1) / rowsPerSlice).toInt, 2), 8)

  /** Write `df` as `k` parquet files holding CONTIGUOUS [lo, hi]
    * event-time ranges, oldest first — one sequential write job per
    * slice, so file modification times (the file source's processing
    * order) agree with event time. Slice membership is integer-exact:
    * slice = (us − lo)·k / span, floored — both engines never see it,
    * it only shapes batch geometry. Empty slices are fine (fewer
    * batches). Callers append any flush sentinel AFTER, so it is the
    * last file processed. */
  private[graft] def writeTimeSliced(df: DataFrame, tsCol: String, dir: String,
      k: Int, loHi: Option[(Long, Long)] = None): Unit = {
    val (lo, hi) = loHi.getOrElse {
      val r = df.agg(min(unix_micros(col(tsCol))),
        max(unix_micros(col(tsCol)))).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(hi - lo + 1, 1L)
    val sliced = df.withColumn("_slice", least(lit(k - 1),
      ((unix_micros(col(tsCol)) - lo) * k / span).cast("int")))
    for (b <- 0 until k)
      sliced.filter(col("_slice") === b).drop("_slice")
        .coalesce(1).write.mode("append").parquet(dir)
  }

  /** The number of NON-EMPTY slices a [[writeTimeSliced]] call with
    * the same (df, tsCol, k) produces — the same slice expression,
    * counted instead of written. The ingest gates' in-band evidence
    * pins distinct-batch-count == this value (VERDICT-r13: the old
    * `nb >= 2` floor was a data-size assumption that would read as an
    * ingest bug if the driver regenerated testdata smaller; equality
    * against the slice geometry is both data-size-proof and STRICTER
    * — a dropped or merged micro-batch breaks it exactly). Bounded
    * driver action: one distinct-count over ≤ 8 slice ids. */
  private[graft] def nonEmptySlices(df: DataFrame, tsCol: String, k: Int): Long = {
    val r = df.agg(min(unix_micros(col(tsCol))),
      max(unix_micros(col(tsCol)))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = math.max(hi - lo + 1, 1L)
    df.select(least(lit(k - 1),
        ((unix_micros(col(tsCol)) - lo) * k / span).cast("int"))
        .as("_slice"))
      .distinct().count()
  }

  /** Replay the time-sliced files under `in` through a foreachBatch
    * INGEST body, one file per micro-batch — the continuous-indexing
    * transport (VERDICT-r12 item 1): each micro-batch lands derived
    * segment data keyed by batchId, so a crash-replayed batch
    * overwrites its own output instead of double-applying (the
    * [[Extras.stream_ivm_refresh]] idempotent-sink discipline). The
    * body runs on the driver per batch; everything it launches is
    * ordinary batch execution over the micro-batch frame. */
  private[graft] def replayForeach(s: SparkSession, t: String, inDir: String)
      (body: (DataFrame, Long) => Unit): Unit = {
    val q = s.readStream.schema(s.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) => body(b.toDF(), id) }
      .option("checkpointLocation", s"$t/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streamed ingest: `delta` replays time-sliced on `idCol` (a doc or
    * vector is one stream row, so its rows never split across
    * micro-batches), and `write` lands each micro-batch under its batch
    * id. Returns the non-empty slice count: the micro-batches a lossless
    * replay delivers. */
  private def ingest(s: SparkSession, t: String, delta: DataFrame,
      idCol: String)(write: (DataFrame, Long) => Unit): Long = {
    val in = delta.withColumn("ets", timestamp_seconds(col(idCol)))
    val kSlices = sliceCount(in.count())
    val expected = nonEmptySlices(in, "ets", kSlices)
    writeTimeSliced(in, "ets", s"$t/in", kSlices)
    replayForeach(s, t, s"$t/in")((batch, id) => write(batch.drop("ets"), id))
    expected
  }

  /** Replay the time-sliced files under `in` through `mk`, one file
    * per micro-batch, and materialize the sink; returns the sink read
    * back. */
  private def replay(s: SparkSession, t: String, inDir: String)
      (mk: DataFrame => DataFrame): DataFrame = {
    val q = mk(s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir))
      .writeStream.format("parquet")
      .option("path", s"$t/out")
      .option("checkpointLocation", s"$t/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$t/out")
  }

  /** Event-time tumbling window aggregation through
    * `StreamOps.windowedAgg` under real streaming execution. The
    * 1-hour window is epoch-aligned on both engines, so the oracle
    * rebuilds the bucket with integer µs arithmetic. */
  val stream_window_agg = GQuery(
    "stream_window_agg",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-wagg") { t =>
      import s.implicits._
      val data = withEts(s, d).select($"ets", $"event_type", $"value")
      val inDir = s"$t/in"
      writeTimeSliced(data, "ets", inDir, sliceCount(data.count()))
      s.range(1).select(flushTs(data, "ets").as("ets"),
          lit("__flush__").as("event_type"), lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(inDir)
      replay(s, t, inDir) { in =>
        StreamOps.windowedAgg(in, "ets",
          watermark = "10 minutes", windowDur = "1 hour",
          groupCols = Seq("event_type"),
          aggs = Seq(count(lit(1)).as("n"), decSum($"value").as("total")))
      }
        .filter($"event_type" =!= "__flush__")
        .select(
          unix_micros($"window.start").as("w_start_us"),
          unix_micros($"window.end").as("w_end_us"),
          $"event_type", $"n", $"total")
        .orderBy($"w_start_us", $"event_type")
    },
    Some("""
      SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS w_start_us,
             epoch_us(ts) - epoch_us(ts) % 3600000000 + 3600000000
               AS w_end_us,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total
      FROM events
      GROUP BY 1, 2, 3 ORDER BY w_start_us, event_type"""))

  /** Session windows through `StreamOps.sessionAgg` under real
    * streaming execution (30-minute inactivity gap per user). Spark
    * merges when the next event's window start TOUCHES the previous
    * session's end (inclusive <=): an event exactly gap after its
    * predecessor still extends the session, gap+1µs splits — pinned in
    * StreamGateSpec, which caught the opposite (`>=`) encoding passing
    * sf0.01 purely because µs-resolution data never lands on the exact
    * boundary. Session end is last_ts + gap. The oracle's island
    * detection therefore flags `gap > 30min ⇒ new session` — same
    * boundary the batch `sessionize` (Extras) happens to use, but
    * pinned here to Spark's operator semantics rather than convention.
    * Both oracle windows (the LAG and the island numbering) order by
    * (epoch_us(ts), event_id) — the SAME floored-µs order: ordering
    * the LAG by raw-ns `ts` could disagree on same-µs ties and split
    * a session Spark merges. The flush sentinel rides user_id = -1
    * (no real key is negative). NB the SQL must stay comment-free:
    * the harness may collapse newlines, and a `--` would swallow the
    * rest of the query. */
  val stream_sessions = GQuery(
    "stream_sessions",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-sess") { t =>
      import s.implicits._
      val data = withEts(s, d).select($"ets", $"user_id", $"value")
      val inDir = s"$t/in"
      writeTimeSliced(data, "ets", inDir, sliceCount(data.count()))
      s.range(1).select(flushTs(data, "ets").as("ets"),
          lit(-1L).as("user_id"), lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(inDir)
      replay(s, t, inDir) { in =>
        StreamOps.sessionAgg(in, "ets",
          watermark = "10 minutes", gap = "30 minutes",
          keyCols = Seq("user_id"),
          aggs = Seq(count(lit(1)).as("n_events"),
            decSum($"value").as("total")))
      }
        .filter($"user_id" >= 0)
        .select($"user_id",
          unix_micros($"session_window.start").as("s_start_us"),
          unix_micros($"session_window.end").as("s_end_us"),
          $"n_events", $"total")
        .orderBy($"user_id", $"s_start_us")
    },
    Some("""
      WITH g AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS us,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 AS gap
        FROM events),
      s AS (
        SELECT user_id, value, us,
               SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                        THEN 1 ELSE 0 END) OVER
                 (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS sid
        FROM g)
      SELECT user_id, MIN(us) AS s_start_us,
             MAX(us) + 1800000000 AS s_end_us,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total
      FROM s GROUP BY user_id, sid ORDER BY user_id, s_start_us"""))

  /** Stream-stream interval join through `StreamOps.intervalJoin`
    * under real streaming execution: errors within 10 minutes AFTER a
    * signup of the same user, both sides watermarked, the right
    * event-time column auto-renamed by the operator (both sides arrive
    * named `ets`, exercising the collision path). Inclusive bounds
    * [l.ts, l.ts + bound] on both engines. Both sources are consumed
    * as 8 aligned time-ordered slices, one per micro-batch: emission
    * is eager and a left row's state survives until the watermark
    * passes ts + bound — after every matching right row has arrived —
    * so the match set is complete while state stays bounded by the
    * watermark horizon instead of holding both full inputs (the
    * single-batch replay's state grew with the input and cost 26.7×
    * at the sf1→sf10 decade). */
  val stream_interval_join = GQuery(
    "stream_interval_join",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-ij") { t =>
      import s.implicits._
      val e = withEts(s, d)
      val signups = e.filter($"event_type" === "signup")
        .select($"user_id", $"event_id".as("signup_id"), $"ets")
      val errors = e.filter($"event_type" === "error")
        .select($"user_id", $"event_id".as("error_id"), $"ets")
      // both sides slice on the SAME global boundaries so their
      // per-source watermarks advance together
      val mm = e.filter($"event_type".isin("signup", "error"))
        .agg(min(unix_micros($"ets")), max(unix_micros($"ets")),
          count(lit(1))).head()
      val bounds = Some((mm.getLong(0), mm.getLong(1)))
      val k = sliceCount(mm.getLong(2), rowsPerSlice = 100000L)
      writeTimeSliced(signups, "ets", s"$t/in_s", k, bounds)
      writeTimeSliced(errors, "ets", s"$t/in_e", k, bounds)
      def src(dir: String) =
        s.readStream.schema(s.read.parquet(dir).schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = StreamOps.intervalJoin(src(s"$t/in_s"), src(s"$t/in_e"),
          key = "user_id", leftTs = "ets", rightTs = "ets",
          watermark = "10 minutes", bound = "10 minutes")
        .writeStream.format("parquet")
        .option("path", s"$t/out")
        .option("checkpointLocation", s"$t/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$t/out")
        .select($"user_id", $"signup_id", $"error_id",
          unix_micros($"ets").as("signup_us"),
          unix_micros($"right_ets").as("error_us"))
        .orderBy($"signup_id", $"error_id")
    },
    Some("""
      WITH s AS (
        SELECT user_id, event_id AS signup_id, epoch_us(ts) AS signup_us
        FROM events WHERE event_type = 'signup'),
      e AS (
        SELECT user_id, event_id AS error_id, epoch_us(ts) AS error_us
        FROM events WHERE event_type = 'error')
      SELECT s.user_id, signup_id, error_id, signup_us, error_us
      FROM e JOIN s ON e.user_id = s.user_id
        AND e.error_us >= s.signup_us
        AND e.error_us <= s.signup_us + 600000000
      ORDER BY signup_id, error_id"""))

  /** Watermark-horizon exact dedup through the real
    * `StreamOps.dedupStream` under multi-batch replay WITH state
    * eviction — the last streaming gate to cover eviction (the
    * VERDICT-r7 ask). The construction that keeps full DISTINCT exact
    * while state evicts: the dedup key is (user_id, event_type,
    * hour-bucket) — every occurrence of a key lies inside one hour —
    * while the watermark delay is 2 hours. Slices are contiguous
    * time-ordered ranges, so when any later duplicate of a key
    * arrives, the watermark is ≤ its event time − 2h, which is
    * strictly below the key's first occurrence (≥ its event time
    * − 1h): the key's state is provably still live and the duplicate
    * is absorbed, deterministically. Meanwhile buckets older than the
    * horizon DO evict as the replay advances — `dropDuplicates
    * WithinWatermark` expires a key once the watermark passes its
    * event time + delay — and the gate carries the evidence in-band:
    * `state_evicted` (Σ numRowsRemoved over the run > 0) and
    * `state_bounded` (peak numRowsTotal < the total key count — state
    * never held the whole key set) are hashed against the oracle's
    * literal TRUE. Survivors are emitted on arrival (append), so no
    * flush sentinel is needed; the survivor's non-key columns are
    * never emitted (the output aggregates the key set), so
    * which physical row won each key cannot wobble the hash.
    * Genuinely LATE data (rows behind the watermark) stays pinned in
    * StreamingSpec — file replay cannot produce it deterministically. */
  val stream_dedup = GQuery(
    "stream_dedup",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-dedup") { t =>
      import s.implicits._
      val inDir = s"$t/in"
      val data = withEts(s, d)
        .select($"user_id", $"event_type",
          expr("unix_micros(ets) DIV 3600000000").as("h"), $"ets")
      writeTimeSliced(data, "ets", inDir, sliceCount(data.count()))
      // ADVICE-r9: eviction evidence comes from a
      // StreamingQueryListener (exact per-query totals over EVERY
      // progress event), not from summing recentProgress — the ring
      // buffer (default retention 100) silently undercounts long
      // replays, and the length<retention tripwire that fenced that
      // had a false-positive at exactly length == retention.
      val ev = StreamOps.EvictionEvidence.install(s)
      // ADVICE-r10: the whole query run sits in try/finally over
      // ev.close() so a throw from start()/awaitTermination() (before
      // await() can deregister) cannot leak the listener on the
      // shared session; close() is idempotent, so the success path's
      // await-internal removal makes the finally a no-op.
      val (removed, peak) = try {
        val q = StreamOps.dedupStream(
            s.readStream.schema(s.read.parquet(inDir).schema)
              .option("maxFilesPerTrigger", "1").parquet(inDir),
            "ets", watermark = "2 hours",
            keyCols = Seq("user_id", "event_type", "h"))
          .writeStream.format("parquet")
          .option("path", s"$t/out")
          .option("checkpointLocation", s"$t/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        ev.await(q.id)
      } finally ev.close()
      val out = s.read.parquet(s"$t/out")
      val nKeys = out.count()
      out.groupBy($"user_id")
        .agg(count(lit(1)).as("n_keys"),
          sum($"h").as("h_checksum"),
          countDistinct($"event_type").as("n_types"))
        .withColumn("state_evicted", lit(removed > 0))
        .withColumn("state_bounded", lit(peak < nKeys))
        .orderBy($"user_id")
    },
    Some("""
      WITH k AS (
        SELECT DISTINCT user_id, event_type,
               epoch_us(ts) // 3600000000 AS h
        FROM events)
      SELECT user_id, COUNT(*) AS n_keys,
             CAST(SUM(h) AS BIGINT) AS h_checksum,
             COUNT(DISTINCT event_type) AS n_types,
             TRUE AS state_evicted, TRUE AS state_bounded
      FROM k GROUP BY user_id ORDER BY user_id"""))

  /** Stream-static enrichment join under real streaming execution —
    * the MOST common production streaming topology (a fact stream
    * enriched against a broadcast dimension, then a watermarked
    * window aggregate), and the one §2.7 shape the other gates
    * don't cover. The static side (customer segments) is a plain
    * batch DataFrame joined into the stream per micro-batch — the
    * join itself is STATELESS (only the downstream window aggregate
    * keeps state), which is exactly why this topology scales: dim
    * updates aside, a 100 TB stream pays per-batch broadcast probe
    * cost, never join state. Ordering subtlety the gate encodes: the
    * watermark MUST be applied on the stream BEFORE the inner join —
    * the flush sentinel rides user_id = −1, matches no dimension row,
    * and is dropped by the join; applied after, the sentinel would
    * never reach the EventTimeWatermark node and the final windows
    * would never finalize in append mode (StreamGateSpec pins this
    * with a no-flush construction). The oracle rebuilds the
    * join+window aggregate in SQL with integer-µs buckets. */
  val stream_static_join = GQuery(
    "stream_static_join",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-ssj") { t =>
      import s.implicits._
      val data = withEts(s, d).select($"ets", $"user_id", $"value")
      val dim = T.customer(s, d)
        .select($"c_custkey", $"c_mktsegment".as("segment"))
      val inDir = s"$t/in"
      writeTimeSliced(data, "ets", inDir, sliceCount(data.count()))
      s.range(1).select(flushTs(data, "ets").as("ets"),
          lit(-1L).as("user_id"), lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(inDir)
      replay(s, t, inDir) { in =>
        in.withWatermark("ets", "10 minutes")
          .join(broadcast(dim), $"user_id" === $"c_custkey")
          .groupBy(window($"ets", "1 hour"), $"segment")
          .agg(count(lit(1)).as("n"), decSum($"value").as("total"))
      }
        .select(
          unix_micros($"window.start").as("w_start_us"),
          unix_micros($"window.end").as("w_end_us"),
          $"segment", $"n", $"total")
        .orderBy($"w_start_us", $"segment")
    },
    Some("""
      SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS w_start_us,
             epoch_us(ts) - epoch_us(ts) % 3600000000 + 3600000000
               AS w_end_us,
             c_mktsegment AS segment, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2, 3 ORDER BY w_start_us, segment"""))

  /** Streaming CDC apply under real IncrementalExecution — the sixth
    * streaming gate: the cdc_apply change log replays date-time-sliced
    * (one file per micro-batch, AvailableNow) through the
    * [[StreamOps.cdcApplyStream]] flatMapGroupsWithState LWW machine
    * (state = ONE record per key, key-cardinality-bounded), whose
    * append-mode state-update emissions are then log-compacted by the
    * SAME [[Pipeline.cdcCollapse]] kernel the batch query uses —
    * collapse is idempotent on a partially-collapsed log, which is
    * precisely why the streaming path can share the batch ORACLE
    * verbatim. Multi-batch state continuity is gated IN-BAND (the
    * stream_dedup eviction-evidence discipline): the update log must
    * strictly exceed the key count — some key updated its state
    * winner across ≥ 2 micro-batches — and the oracle pins that
    * evidence row to literal 1 (keys have orders spread across the
    * 6-year date range, and slicing is BY date with ≥ 2 slices, so a
    * single-batch replay that vacuously passes the snapshot hash
    * fails this row). */
  val stream_cdc_apply = GQuery(
    "stream_cdc_apply",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-cdc") { t =>
      import s.implicits._
      val log = Pipeline.cdcLog(s, d)
      val inDir = s"$t/in"
      writeTimeSliced(
        log.withColumn("ets",
          timestamp_seconds(expr("seq DIV 4294967296") * 86400L)),
        "ets", inDir, sliceCount(log.count()))
      val updates = replay(s, t, inDir) { in =>
        StreamOps.cdcApplyStream(in.drop("ets"))
      }
      val groups = Pipeline.cdcCollapse(updates)
      val ev = updates.agg(count(lit(1)).as("n_up"),
          countDistinct($"k").as("n_k"))
        .select(lit("__MULTI_BATCH_EVIDENCE__").as("grp"),
          ($"n_up" > $"n_k").cast("long").as("n_keys"),
          lit(0L).as("cents"))
      groups.unionByName(ev).orderBy($"grp")
    },
    Some("""
      WITH log AS (
        SELECT o_custkey AS k,
               epoch_us(o_orderdate) // 86400000000
                 * 4294967296 + o_orderkey AS seq,
               CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END
                 AS op,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                 AS cents,
               o_orderpriority AS pri
        FROM orders),
      last AS (
        SELECT k, op, cents, pri,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC)
                 AS rn
        FROM log),
      groups AS (
        SELECT CASE WHEN op = 'U' THEN pri ELSE '__DELETED__' END
                 AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM last WHERE rn = 1
        GROUP BY 1)
      SELECT grp, n_keys, cents FROM (
        SELECT grp, n_keys, cents FROM groups
        UNION ALL
        SELECT '__MULTI_BATCH_EVIDENCE__' AS grp,
               CAST(1 AS BIGINT) AS n_keys, CAST(0 AS BIGINT) AS cents)
      ORDER BY grp"""))

  /** Streaming term-dictionary maintenance — the SEVENTH gate, and
    * the index lifecycle's streaming leg: documents replay through
    * [[StreamOps.indexDictStream]] (real IncrementalExecution,
    * RocksDB state, multi-batch AvailableNow), the per-batch running
    * (df, total_tf) emissions log-compact to the final dictionary by
    * ONE max aggregate per term (both counters are monotone — the
    * cdcApplyStream compaction discipline with an even simpler
    * compactor), and the gate is the BATCH dictionary oracle: top-50
    * terms by df, the same profile index_persist_build gates, derived
    * in SQL from documents with no stream anywhere in it.
    *
    * df additivity requires every doc's tokens in one micro-batch
    * (the index_ivm_merge segment invariant in streaming form): the
    * replay slices on ets = f(doc_id), so a doc's token rows share a
    * slice BY CONSTRUCTION — and StreamGateSpec proves the invariant
    * is load-bearing by splitting one doc across two batches and
    * watching df double-count. Multi-batch evidence rides in-band
    * (more emissions than distinct terms ⇔ some term updated across
    * ≥2 batches), pinned TRUE by the oracle with df = −1 so it sorts
    * after every real term under the df-desc presentation order. */
  val stream_index_dict = GQuery(
    "stream_index_dict",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-dict") { t =>
      import s.implicits._
      val toks = T.documents(s, d)
        .select($"doc_id",
          explode(filter(split(lower($"text"), " "), x => x =!= ""))
            .as("term"))
        .withColumn("ets", timestamp_seconds($"doc_id"))
      val inDir = s"$t/in"
      writeTimeSliced(toks, "ets", inDir, sliceCount(toks.count()))
      val updates = replay(s, t, inDir) { in =>
        StreamOps.indexDictStream(in.drop("ets"))
      }
      val dict = updates.groupBy($"term")
        .agg(max($"df").as("df"), max($"total_tf").as("total_tf"))
        .orderBy($"df".desc, $"term")
        .limit(50)
      val ev = updates.agg(count(lit(1)).as("n_up"),
          countDistinct($"term").as("n_t"))
        .select(lit("__MULTI_BATCH_EVIDENCE__").as("term"),
          lit(-1L).as("df"),
          ($"n_up" > $"n_t").cast("long").as("total_tf"))
      dict.unionByName(ev).orderBy($"df".desc, $"term")
    },
    Some("""
      WITH pairs AS (
        SELECT term, doc_id, COUNT(*) AS tf FROM (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t <> '')) AS term
          FROM documents)
        GROUP BY term, doc_id),
      dict AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM pairs GROUP BY term),
      top AS (
        SELECT term, df, total_tf FROM dict
        ORDER BY df DESC, term LIMIT 50)
      SELECT term, df, total_tf FROM (
        SELECT term, df, total_tf FROM top
        UNION ALL
        SELECT '__MULTI_BATCH_EVIDENCE__' AS term,
               CAST(-1 AS BIGINT) AS df, CAST(1 AS BIGINT) AS total_tf)
      ORDER BY df DESC, term"""))

  /** The EIGHTH gate — the persisted ANN index's streaming leg
    * ([[StreamOps.annCellStream]]), completing the
    * build/probe/merge/stream symmetry the text index already has:
    * the vector stream (time-sliced by vec_id, multi-batch) is
    * assigned to coarse cells statelessly against the WARM index's
    * centroid metadata (loaded once at open(), the probe discipline),
    * a stateless per-partition combine collapses each micro-batch to
    * ≤ nlist rows, and the FMGWS machine keeps ONE (count, Σ‖v‖)
    * pair per cell — nlist-bounded state (16 keys) under a
    * corpus-sized stream, the tightest state bound in the suite.
    * Running per-cell totals compact by max(n) (monotone). The gate
    * pins TOTALITY (Σ per-cell counts == the corpus count — a
    * dropped or double-counted batch breaks it exactly), the state
    * bound, and multi-batch evidence in-band; the exact per-cell
    * distribution is quantizer-derived (Lloyd is not expressible in
    * SQL), so it is pinned IN-ENGINE against the persisted cells
    * segment in Round12Spec — the ml_kmeans_contract split between
    * SQL-checkable invariants and engine-checked model outputs. */
  val stream_ann_assign = GQuery(
    "stream_ann_assign",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-ann") { t =>
      import s.implicits._
      val cents = graft.operators.AnnIndex.centroidMetaOf(s, d)
      val vecs = T.embeddings(s, d).where($"embedding".isNotNull)
        .select($"vec_id", $"embedding")
        .withColumn("ets", timestamp_seconds($"vec_id"))
      val inDir = s"$t/in"
      writeTimeSliced(vecs, "ets", inDir, sliceCount(vecs.count()))
      val updates = replay(s, t, inDir) { in =>
        StreamOps.annCellStream(in.drop("ets"), cents)
      }
      val perCell = updates.groupBy($"cell").agg(max($"n").as("n"))
      val ev = updates.agg(count(lit(1)).as("n_up"),
          countDistinct($"cell").as("n_c"))
        .select(($"n_up" > $"n_c").as("multi_batch"))
      // ADVICE-r12: the old `n_cells === n_c` compared two counts
      // derived from the same updates rows — always true, zero gate
      // strength. The meaningful form compares the STREAMED cell set
      // against the persisted cells segment's distinct cells (the
      // Round12Spec in-engine pin, promoted into the oracle row): the
      // stream assigns the same corpus against the same frozen
      // centroids the batch build used, so the two sets must be EQUAL
      // — a drifting assignCell, a stale centroid load, or a dropped
      // micro-batch's worth of cells breaks one of the anti-joins.
      val segCells = graft.operators.AnnIndex.cells(s, d)
        .select($"cell").distinct()
      val extra = perCell.select($"cell")
        .join(segCells, Seq("cell"), "left_anti")
        .agg(count(lit(1)).as("n_extra"))
      val missing = segCells
        .join(perCell.select($"cell"), Seq("cell"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      perCell.agg(sum($"n").as("n_vectors"),
          count(lit(1)).as("n_cells"))
        .crossJoin(broadcast(ev))
        .crossJoin(broadcast(extra))
        .crossJoin(broadcast(missing))
        .select($"n_vectors",
          ($"n_cells" <= lit(graft.operators.AnnIndex.NList.toLong) &&
            $"n_extra" === 0L && $"n_missing" === 0L).as("bounded_ok"),
          $"multi_batch")
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS bounded_ok,
             TRUE AS multi_batch
      FROM embeddings WHERE embedding IS NOT NULL"""))

  /** The NINTH gate — streaming INGEST into a SERVABLE text segment
    * (VERDICT-r12 item 1, the continuous-indexing leg both lifecycles
    * owed): the prior streaming gates maintain derived state only
    * (stream_index_dict the dictionary, stream_ann_assign cell
    * occupancy); this one streams arriving documents INTO a delta
    * postings segment a probe then actually reads — the Lucene
    * soft-commit topology. The base segment (90% of docs) is built
    * once; the delta docs (10%) replay time-sliced by doc_id through
    * foreachBatch, each micro-batch tokenizing ITSELF into a
    * batchId-keyed postings+stats dir (mode=overwrite — a replayed
    * batch rewrites its own segment, the stream_ivm_refresh
    * idempotent-sink contract; a doc's rows can't split across
    * segments because one doc is one stream row). The probe then
    * serves base ∪ streamed-delta with [[Retrieval.bm25_probe_merged]]'s
    * kernel and full-rebuild oracle — pushed In(term) pruning BOTH
    * the base scan and every batch segment, df a window over the
    * union sliver, stats headers added across base + all batches.
    * Multi-batch evidence rides IN-BAND: the delta rows carry their
    * batch_id, and the evidence row pins distinct-batch-count ==
    * [[nonEmptySlices]] — the replay delivered every non-empty slice
    * as its own micro-batch, none dropped, none merged (VERDICT-r13:
    * equality against the slice geometry replaces the old data-size
    * `>= 2` floor; the ≥ 2 multi-batch property itself is asserted
    * in-engine in Round14Spec); the oracle pins the boolean to
    * literal 1 with a sentinel score that sorts after every real
    * hit. */
  val stream_index_ingest = GQuery(
    "stream_index_ingest",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-ingest") { t =>
      import s.implicits._
      val docs = T.spread(T.documents(s, d))
      // init: the ranged base segment, written once
      Postings.writePart(DocRefresh.base(docs), t, "base", CheckpointedRanged)
      // continuous ingest: delta docs arrive time-sliced by doc_id
      val expectedBatches = ingest(s, t,
          DocRefresh.delta(docs).select($"doc_id", $"text"), "doc_id") {
        (bd, id) =>
          Segments.writeBatch(postingsOf(bd), s"$t/delta_postings", id)
          statsOf(bd)
            .write.mode("overwrite").parquet(s"$t/delta_stats/b$id")
      }
      // probe: base UNION streamed delta, one answer
      val deltaPosts = s.read.parquet(s"$t/delta_postings/b*")
      val sliver = Segments.union(s.read.parquet(Postings.base(t)),
          deltaPosts.drop("batch_id"))
        .filter($"term".isin(Retrieval.QueryTerms: _*))
      val st = Segments.mergedStats(
        Segments.read(s, s"$t/base_stats", s"$t/delta_stats/b*"))
      val probe = Retrieval.bm25TopFromSliver(sliver, st)
      val ev = deltaPosts.agg(countDistinct($"batch_id").as("nb"))
        .select(lit(-1L).as("doc_id"),
          ($"nb" === lit(expectedBatches)).cast("long").as("n_terms"),
          lit(-999999.0).as("score"))
      probe.unionByName(ev).orderBy($"score".desc, $"doc_id")
    },
    Some(s"""
      WITH probe AS (${Retrieval.bm25JoinOracle})
      SELECT doc_id, n_terms, score FROM (
        SELECT doc_id, n_terms, score FROM probe
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(1 AS BIGINT) AS n_terms,
               -999999.0 AS score)
      ORDER BY score DESC, doc_id"""))

  /** The TENTH gate — streaming ingest into a SERVABLE ANN delta
    * segment, the vector mirror of [[stream_index_ingest]] (the FAISS
    * online-add topology): the base segment trains the quantizer and
    * encodes once; delta vectors replay time-sliced through
    * foreachBatch, each micro-batch map-side-encoded against the
    * FROZEN quantizer into a batchId-keyed cells dir (overwrite —
    * idempotent under replay), and the probe serves base ∪
    * streamed-delta through [[graft.operators.AnnIndex.ivfProbe]] at
    * full probe — the probed-cell isin pruning the base partitions
    * statically AND each batch segment's cell column. Row-for-row
    * equality with the exhaustive brute-force oracle certifies that
    * frozen-quantizer streaming ingest loses and duplicates nothing
    * across however many micro-batches the replay cut; batch_id
    * evidence rides in-band as in the text gate. */
  val stream_ann_ingest = GQuery(
    "stream_ann_ingest",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-annin") { t =>
      import s.implicits._
      val A = AnnIndex
      val vecs = T.embeddings(s, d).where($"embedding".isNotNull)
      // init: train on base only, encode base (paid once per epoch)
      val qz = Cells.trainBase(vecs)
      Cells.write(A.encode(qz, VecRefresh.base(vecs), "vec_id", "embedding"),
        Cells.base(t))
      // continuous ingest: delta vectors arrive time-sliced by vec_id
      val expectedBatches = ingest(s, t,
          VecRefresh.delta(vecs).select($"vec_id", $"embedding"), "vec_id") {
        (batch, id) => Segments.writeBatch(
          A.encode(qz, batch, "vec_id", "embedding"), s"$t/delta_cells", id)
      }
      val deltaCells = s.read.parquet(s"$t/delta_cells/b*")
      val probe = A.ivfFullProbe(T.embeddings(s, d).filter($"vec_id" < 10),
        5, qz.centroidMeta)(Segments.probed(Segments.union(
          s.read.parquet(Cells.base(t)),
          s.read.parquet(s"$t/delta_cells/b*").drop("batch_id"))))
      val ev = deltaCells.agg(countDistinct($"batch_id").as("nb"))
        .select(lit(-1L).as("query_id"),
          ($"nb" === lit(expectedBatches)).cast("long").as("neighbor_id"),
          lit(-1).as("rank"), lit(-1.0).as("cos"))
      probe.unionByName(ev).orderBy($"query_id", $"rank")
    },
    Some(s"""
      WITH probe AS (${Pipeline.bruteTop5Vec10Oracle})
      SELECT query_id, neighbor_id, rank, cos FROM (
        SELECT query_id, neighbor_id, rank, cos FROM probe
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS query_id,
               CAST(1 AS BIGINT) AS neighbor_id,
               CAST(-1 AS INT) AS rank, -1.0 AS cos)
      ORDER BY query_id, rank"""))

  /** The occupancy stats' CONSUMER (VERDICT-r12 item 5):
    * [[stream_ann_assign]] maintains per-cell (count, Σ‖v‖) "to
    * decide when cell skew warrants re-training" — but nothing
    * thresholded the skew into a decision. This gate does: the
    * retrain rule is max(n)·nlist > 4·total (exact integer
    * arithmetic — "the hottest cell holds over 4× its fair share"),
    * applied to the STREAMED per-cell counts and, independently, to
    * the persisted segment's per-cell counts (a batch groupBy over a
    * different code path entirely) — the two verdicts must agree.
    * Because the real verdict's VALUE is quantizer-derived (Lloyd is
    * not SQL-expressible), the thresholding logic itself is gated
    * through two PLANTED occupancies with known answers: a uniform
    * 16-cell occupancy must NOT trigger retrain, an
    * everything-in-one-cell occupancy MUST — the ml_kmeans_contract
    * split between SQL-checkable invariants and engine-derived
    * values, applied to a control decision. */
  val stream_ann_retrain = GQuery(
    "stream_ann_retrain",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-retrain") { t =>
      import s.implicits._
      val A = graft.operators.AnnIndex
      val cents = A.centroidMetaOf(s, d)
      val vecs = T.embeddings(s, d).where($"embedding".isNotNull)
        .select($"vec_id", $"embedding")
        .withColumn("ets", timestamp_seconds($"vec_id"))
      writeTimeSliced(vecs, "ets", s"$t/in", sliceCount(vecs.count()))
      val updates = replay(s, t, s"$t/in") { in =>
        StreamOps.annCellStream(in.drop("ets"), cents)
      }
      val streamCounts = updates.groupBy($"cell").agg(max($"n").as("n"))
      val segCounts = A.cells(s, d).groupBy($"cell")
        .agg(count(lit(1)).as("n"))
      def verdict(counts: DataFrame) =
        counts.agg((max($"n") * lit(A.NList.toLong) >
          sum($"n") * lit(4L)).as("v"))
      val uniform = s.range(A.NList.toLong)
        .select($"id".cast("int").as("cell"), lit(100L).as("n"))
      val skewed = s.range(A.NList.toLong)
        .select($"id".cast("int").as("cell"),
          when($"id" === 0L, 1600L).otherwise(1L).as("n"))
      streamCounts.agg(sum($"n").as("n_vectors"))
        .crossJoin(broadcast(verdict(streamCounts)
          .select($"v".as("v_stream"))))
        .crossJoin(broadcast(verdict(segCounts).select($"v".as("v_seg"))))
        .crossJoin(broadcast(verdict(uniform).select($"v".as("v_uni"))))
        .crossJoin(broadcast(verdict(skewed).select($"v".as("v_skew"))))
        .select($"n_vectors",
          ($"v_stream" === $"v_seg").as("verdict_consistent"),
          (!$"v_uni" && $"v_skew").as("threshold_ok"))
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
             TRUE AS verdict_consistent, TRUE AS threshold_ok
      FROM embeddings WHERE embedding IS NOT NULL"""))

  /** The TWELFTH gate — streamed ingest into a servable TRIGRAM delta
    * segment, completing the trigram lifecycle's stream leg (and with
    * it the full 3-lifecycle × 6-leg matrix: postings, cells, and
    * trigrams each now have build/probe/merge/delete/compact/stream):
    * the [[stream_index_ingest]] topology with the per-batch derive
    * swapped for the trigram generate — each micro-batch cuts ITS
    * docs' distinct trigrams into a batchId-keyed segment dir
    * (overwrite — idempotent under replay; a doc is one stream row,
    * so (g, doc_id) stays unique across segments), and the probe
    * serves base ∪ streamed-delta: pushed In(g) on every segment,
    * all-4-trigrams candidates, broadcast verify fetch. Naive-LIKE
    * oracle with the in-band evidence union. */
  val stream_trgm_ingest = GQuery(
    "stream_trgm_ingest",
    (s, d) => graft.GQuery.withTempTable(s, "graft-stream-trgm") { t =>
      import s.implicits._
      val docs = T.spread(T.documents(s, d))
      Trigrams.writePart(DocRefresh.base(docs), t, "base", CheckpointedRanged)
      val expectedBatches = ingest(s, t,
          DocRefresh.delta(docs).select($"doc_id", $"text"), "doc_id") {
        (batch, id) =>
          Segments.writeBatch(trgmsOf(batch), s"$t/delta_trgm", id)
      }
      val deltaTrgm = s.read.parquet(s"$t/delta_trgm/b*")
      val probe = Retrieval.trgmProbe(s, d,
        Segments.union(s.read.parquet(Trigrams.base(t)),
          deltaTrgm.drop("batch_id")),
        Retrieval.TrgmPattern)
      val ev = deltaTrgm.agg(countDistinct($"batch_id").as("nb"))
        .select(lit(-1L).as("doc_id"),
          ($"nb" === lit(expectedBatches)).cast("long").as("n_occurrences"))
      probe.unionByName(ev).orderBy($"doc_id")
    },
    Some(s"""
      WITH probe AS (${Retrieval.trgmOracle})
      SELECT doc_id, n_occurrences FROM (
        SELECT doc_id, n_occurrences FROM probe
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS doc_id,
               CAST(1 AS BIGINT) AS n_occurrences)
      ORDER BY doc_id"""))

  val all: Seq[GQuery] = Seq(
    stream_window_agg, stream_sessions, stream_interval_join,
    stream_dedup, stream_static_join, stream_cdc_apply,
    stream_index_dict, stream_ann_assign, stream_index_ingest,
    stream_ann_ingest, stream_ann_retrain, stream_trgm_ingest)
}
