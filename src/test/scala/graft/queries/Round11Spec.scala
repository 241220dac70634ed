package graft.queries

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Property pins for the round-11 persisted-index lifecycle and the
  * approx-decile production path, beyond the oracle gates:
  *
  *  - warm-probe ≡ in-plan twin, IN-ENGINE: the persisted-index
  *    probes must return row-for-row what their build-and-probe twins
  *    return (the same-oracle dual path, pinned without DuckDB in the
  *    loop so the suite catches a divergence even when the fixture
  *    changes);
  *  - the segment cache is refreshed after a StandingState reset
  *    (the ScaleSweep pricing hook actually re-derives);
  *  - index_ivm_merge's merge algebra holds over EVERY term, not just
  *    the gated top-50: merged dict == full-rebuild dict exactly;
  *  - quantile_bins_approx's GK contract is LOAD-BEARING at fixture
  *    scale: the approx cutpoints are NOT all exactly the ideal-rank
  *    values (so the ±ε rank window is doing work), while every
  *    contract boolean still holds;
  *  - EvictionEvidence.close() is idempotent and safe before/after
  *    await (the ADVICE-r10 listener-leak fix).
  */
class Round11Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bm25_probe_persisted returns row-for-row what bm25_join_topk " +
      "returns (warm index ≡ cold scan, in-engine)") {
    val a = Registry.queryMap("bm25_join_topk")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = Registry.queryMap("bm25_probe_persisted")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b, s"cold scan:\n$a\nwarm probe:\n$b")
  }

  test("trgm_probe_persisted returns row-for-row what " +
      "substr_search_trgm returns (warm index ≡ in-plan build)") {
    val a = Registry.queryMap("substr_search_trgm")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = Registry.queryMap("trgm_probe_persisted")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.nonEmpty, "pattern matched nothing - the pin is vacuous")
  }

  test("resetIndexCache forces a re-derivation: the segments land in " +
      "a fresh directory and the probe still answers identically") {
    import graft.operators.IndexOps
    val before = IndexOps.dict(spark, sf).inputFiles.toSet
    val rows = Registry.queryMap("index_persist_build")(spark, sf)
      .collect().map(_.toSeq).toSeq
    graft.StandingState.reset(graft.StandingState.Postings)
    val after = IndexOps.dict(spark, sf).inputFiles.toSet
    assert(before.intersect(after).isEmpty,
      "reset did not re-derive - same segment files re-read")
    val rows2 = Registry.queryMap("index_persist_build")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rows == rows2, "re-derived segment changed the answer")
  }

  test("index_ivm_merge: the segment-merge algebra holds over EVERY " +
      "term - merged dict equals the full-rebuild dict exactly") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def dict(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", explode(
          filter(split(lower($"text"), " "), t => t =!= "")).as("term"))
        .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
        .groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("total_tf"))
    val full = dict(docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val merged = dict(docs.filter($"doc_id" % 10L =!= 0L))
      .unionByName(dict(docs.filter($"doc_id" % 10L === 0L)))
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"total_tf").as("total_tf"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(merged == full,
      "df/total_tf are not additive across the doc partition")
    assert(full.nonEmpty)
  }

  test("quantile_bins_approx: every contract boolean recomputes TRUE " +
      "from a driver-side sorted-array recount of the returned " +
      "cutpoints' exact ranks (the GK guarantee, independently " +
      "verified)") {
    import spark.implicits._
    val out = Registry.queryMap("quantile_bins_approx")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 9)
    assert(out.forall(r => r.getBoolean(2) && r.getBoolean(3) &&
      r.getBoolean(4)), out.mkString("\n"))
    val cents = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(floor($"l_extendedprice" * 100d + 0.5d).cast("long")
        .as("cents"))
    val qs = cents.agg(percentile_approx($"cents",
        array((1 to 9).map(i => lit(i / 10.0)): _*), lit(100)))
      .head().getSeq[Long](0)
    val sorted = cents.as[Long].collect().sorted
    val n = sorted.length.toDouble
    val eps = 0.01
    def lt(v: Long) = sorted.count(_ < v).toDouble
    def le(v: Long) = sorted.count(_ <= v).toDouble
    for (k <- 1 to 9) {
      val q = k / 10.0
      assert(lt(qs(k - 1)) <= n * (q + eps) &&
        le(qs(k - 1)) >= n * (q - eps),
        s"cutpoint $k rank outside the GK window")
      if (k < 9)
        assert(lt(qs(k)) - le(qs(k - 1)) <= n * (0.1 + 2 * eps),
          s"open-interval occupancy $k over the 2-eps fence")
      else assert(n - le(qs(8)) <= n * (0.1 + eps),
        "tail occupancy over the eps fence")
    }
    assert(qs == qs.sorted, "cutpoints not monotone")
  }

  test("mm_dedup_phash_canonical carries the SAME information as the " +
      "exact pair enumeration: sum(pair_mass) == count(mm_dedup_phash " +
      "pairs), and every cross row's hamming matches a real pair") {
    val exact = Registry.queryMap("mm_dedup_phash")(spark, sf).collect()
    val canon = Registry.queryMap("mm_dedup_phash_canonical")(spark, sf)
      .collect()
    val mass = canon.map(_.getLong(3)).sum
    assert(mass == exact.length.toLong,
      s"pair mass $mass != exact pair count ${exact.length}")
    assert(canon.exists(r => r.getLong(0) == r.getLong(1)),
      "no self row - the fat-class (plant) path is unexercised")
    assert(canon.exists(r => r.getLong(0) != r.getLong(1)),
      "no cross row - the near-dup class-pair path is unexercised")
    // spot-check: every cross row's hamming appears among exact pairs
    // whose endpoints live in those two classes (classes share one
    // hash, so any member pair carries the class-pair hamming)
    val exactSet = exact.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val canonCross = canon.filter(r => r.getLong(0) != r.getLong(1))
    assert(canonCross.forall(r => exactSet.exists(p =>
      p._3 == r.getLong(2))), "a cross hamming matches no exact pair")
  }

  test("mm_dedup_audio_canonical reconciles against an exhaustive " +
      "O(n^2) driver recount of Hamming<=3 pairs over the chirp " +
      "fingerprints, and the planted twins land in fat classes") {
    import spark.implicits._
    val media = graft.operators.Multimodal.toWavChirp(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
    val plants = media.filter($"media_id" % 10 === 0L)
      .withColumn("media_id", -$"media_id" - 1L)
    val hashes = graft.operators.Multimodal
      .audioHash(media.unionByName(plants))
      .select($"media_id", $"b0", $"b1", $"b2", $"b3")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))))
    def ham(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3) +
        java.lang.Long.bitCount(a._4 ^ b._4)
    var exactPairs = 0L
    for (i <- hashes.indices; j <- (i + 1) until hashes.length)
      if (ham(hashes(i)._2, hashes(j)._2) <= 3) exactPairs += 1
    val out = Registry.queryMap("mm_dedup_audio_canonical")(spark, sf)
      .collect()
    val mass = out.map(_.getLong(3)).sum
    assert(mass == exactPairs,
      s"pair mass $mass != exhaustive recount $exactPairs")
    // every planted twin is byte-identical to its original, so its
    // class has n >= 2 and (being negative) owns the canonical id
    val selfCanons = out.filter(r => r.getLong(0) == r.getLong(1))
      .map(_.getLong(0)).toSet
    assert(selfCanons.exists(_ < 0L),
      "no fat class carries a planted (negative) canonical")
    assert(out.exists(r => r.getLong(0) != r.getLong(1) &&
      r.getLong(2) >= 1L && r.getLong(2) <= 3L),
      "no organic cross-class near-dup surfaced")
  }

  test("EvictionEvidence.close() is idempotent and safe when await " +
      "is never reached (the listener-leak fix)") {
    val ev = graft.streaming.StreamOps.EvictionEvidence.install(spark)
    ev.close()
    ev.close() // double close must be a no-op
    // a second instance: close BEFORE any query ran, then again via
    // a failed-await path analogue
    val ev2 = graft.streaming.StreamOps.EvictionEvidence.install(spark)
    try throw new RuntimeException("simulated start() failure")
    catch { case _: RuntimeException => () }
    finally ev2.close()
    ev2.close()
    succeed
  }
}
