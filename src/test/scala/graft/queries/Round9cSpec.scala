package graft.queries

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Property pins for the round-9 third wave, beyond the oracle gates:
  * the scan-local phrase matcher agrees with an independent
  * positional-join reimplementation, the CUSUM statistic locates a
  * PLANTED mean shift exactly, and the sketch-IVM identity
  * (persist-then-union == one-shot) holds. Semantics pins at
  * sf0.001 / synthetic inputs, not scale runs. */
class Round9cSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("phrase_query: scan-local HOF count agrees with a positional " +
      "explode+self-join recount") {
    import spark.implicits._
    val out = Registry.queryMap("phrase_query")(spark, sf).collect()
    assert(out.nonEmpty, "the fixed phrase must occur at sf0.001")
    assert(out.forall(_.getInt(1) > 0))
    // third implementation (the oracle is DuckDB's positional join;
    // this is the SAME algorithm but in Spark): explode positions,
    // self-join on pos+1
    val p = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", posexplode(
        filter(split(lower($"text"), " "), t => t =!= ""))
        .as(Seq("pos", "term")))
    val a = p.filter($"term" === "table")
      .select($"doc_id", $"pos".as("pa"))
    val b = p.filter($"term" === "hash")
      .select($"doc_id".as("doc_id2"), $"pos".as("pb"))
    val rejoined = a.join(b,
        a("doc_id") === b("doc_id2") && ($"pa" + 1) === $"pb")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got == rejoined,
      s"scan-local and join counts differ: ${got.size} vs ${rejoined.size}")
  }

  test("cusum_changepoint: locates a planted mean shift at the exact " +
      "regime boundary") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cusum-plant").toString
    try {
      // type "shifted": 10 events/day for days 0..9, 30/day for
      // 10..19 -> D_k = 20*S_k - k*400 peaks uniquely at k=10
      // (day 9, |D|=2000); type "flat": constant 10/day -> every
      // D_k = 0, tie-break picks the EARLIEST day (day 0).
      val rows = (0 until 20).flatMap { day =>
        val n = if (day < 10) 10 else 30
        (0 until n).map(i => ("shifted", day.toLong, i.toLong))
      } ++ (0 until 20).flatMap { day =>
        (0 until 10).map(i => ("flat", day.toLong, i.toLong))
      }
      rows.toDF("event_type", "day", "i")
        .select(
          monotonically_increasing_id().as("event_id"),
          timestamp_micros($"day" * 86400000000L + $"i" * 1000000L)
            .as("ts"),
          $"i".as("user_id"), $"event_type",
          lit(1.0).as("value"), lit("{}").as("props"))
        .write.parquet(s"$dir/events.parquet")
      val out = Registry.queryMap("cusum_changepoint")(spark, dir)
        .collect().map(r =>
          r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out("shifted") == (9L, 2000L),
        s"planted shift not at day 9: ${out("shifted")}")
      assert(out("flat") == (0L, 0L),
        s"flat series must tie-break to day 0: ${out("flat")}")
    } finally graft.StandingState.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("graph_ivm_edges: planted delta classes - pure duplicates " +
      "change nothing, new parts and new orders land exactly") {
    import spark.implicits._
    // ln value that lands a row in the delta (tag % 20 == 0), and a
    // base ln one off it
    def dln(ok: Long, p: Long): Long =
      java.lang.Math.floorMod(-(31L * ok + 17L * p), 20L)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-givm-plant").toString
    try {
      val rows = Seq(
        // order 100: parts 1,2,3 in base; part 2 DUPLICATED in the
        // delta -> the anti-join must suppress it entirely
        (100L, 1L, dln(100, 1) + 1), (100L, 2L, dln(100, 2) + 1),
        (100L, 3L, dln(100, 3) + 1), (100L, 2L, dln(100, 2)),
        // order 200: parts 5,6 in base; part 7 arrives only in the
        // delta -> two new cross edges
        (200L, 5L, dln(200, 5) + 1), (200L, 6L, dln(200, 6) + 1),
        (200L, 7L, dln(200, 7)),
        // order 300: a wholly-new order, both parts in the delta ->
        // one within-delta edge
        (300L, 8L, dln(300, 8)), (300L, 9L, dln(300, 9)))
      rows.toDF("l_orderkey", "l_partkey", "l_linenumber")
        .write.parquet(s"$dir/lineitem.parquet")
      val got = Registry.queryMap("graph_ivm_edges")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val expected = Seq(
        (1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
        (5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L),
        (8L, 9L, 1L))
      assert(got == expected,
        s"merged edges $got differ from planted expectation")
    } finally graft.StandingState.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("ndv_sketch_merge: merge-tree associativity holds, estimates " +
      "within contract, exact NDV pinned") {
    import spark.implicits._
    val out = Registry.queryMap("ndv_sketch_merge")(spark, sf).collect()
    assert(out.nonEmpty)
    val exact = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"event_type")
      .agg(count_distinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)))
      assert(r.getBoolean(2), "merged estimate outside 5%")
      assert(r.getBoolean(3), "direct estimate outside 5%")
      assert(r.getBoolean(4), "two-level union != flat union")
    }
  }
}
