package graft.queries

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Property pins for the round-9 fourth wave, beyond the oracle gates:
  * BPE merge rounds reproduce a HAND-COMPUTED merge table on a planted
  * dictionary (pinning greedy-replace overlap semantics, re-merge of
  * already-merged symbols, and the count-tie lhs tie-break),
  * asof_nearest's direction/tie choices are pinned on planted boundary
  * cases, and the PMI and AND-query outputs agree with independent
  * driver-side recounts. Semantics pins at sf0.001 / synthetic inputs,
  * not scale runs. */
class Round9dSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def withPlant(prefix: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir)
    finally graft.StandingState.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bpe_train: reproduces a hand-computed merge table, including " +
      "overlap counting, re-merges, and the count-tie tie-break") {
    import spark.implicits._
    withPlant("graft-bpe-plant") { dir =>
      // word histogram: aaa*30 xyxy*10 xzw*6 pqr*4 pq*3 qr*3
      // (172 initial symbols). Hand-run of 5 greedy merge rounds:
      //  r1 (a,a):   pre-merge pair count 60 (overlaps COUNTED), but
      //              greedy replace rewrites only 30 -> 142 symbols
      //  r2 (aa,a):  30 -> 112       (re-merge of a merged symbol)
      //  r3 (x,y):   20 -> 92
      //  r4 (xy,xy): 10 -> 82        (merged-pair self-merge)
      //  r5 (p,q):   7, TIED with (q,r) at 7 -> lhs 'p' < 'q' wins
      //              -> 75
      val words = Seq("aaa" -> 30, "xyxy" -> 10, "xzw" -> 6,
        "pqr" -> 4, "pq" -> 3, "qr" -> 3)
      val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }
        .mkString(" ")
      Seq((0L, text, "en", "src0", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val got = Registry.queryMap("bpe_train")(spark, dir)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
        .toSeq
      val want = Seq(
        (1, "a", "a", 60L, 142L),
        (2, "aa", "a", 30L, 112L),
        (3, "x", "y", 20L, 92L),
        (4, "xy", "xy", 10L, 82L),
        (5, "p", "q", 7L, 75L))
      assert(got == want, s"merge table mismatch:\n$got\nvs\n$want")
    }
  }

  test("bpe_encode: planted dictionary encodes to the hand-computed " +
      "per-doc token counts (and matches symbols_after at step 5)") {
    import spark.implicits._
    withPlant("graft-bpee-plant") { dir =>
      // same dictionary as the bpe_train plant; after the 5 merges
      // the words tokenize as: aaa->1, xyxy->1, xzw->3, pqr->2,
      // pq->1, qr->2 => n_bpe = 30+10+18+8+3+6 = 75 (= the pinned
      // step-5 symbols_after, as it must), n_ws = 56.
      val words = Seq("aaa" -> 30, "xyxy" -> 10, "xzw" -> 6,
        "pqr" -> 4, "pq" -> 3, "qr" -> 3)
      val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }
        .mkString(" ")
      Seq((0L, text, "en", "src0", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val got = Registry.queryMap("bpe_encode")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((0L, 56L, 75L)),
        s"encode mismatch: ${got.toSeq}")
    }
  }

  test("source_overlap: planted sources pin shingle-set Jaccard, " +
      "within-source dedup, and zero-overlap matrix completion") {
    import spark.implicits._
    withPlant("graft-srcov-plant") { dir =>
      // srcA: {a b c, b c d} (duplicated doc must NOT double-count),
      // srcB: {b c d, c d e} -> shared 1, union 3 -> 333333 micro.
      // srcC: {z z z} -> zero overlap with both (rows still present).
      val docs = Seq(
        (0L, "a b c d", "srcA"), (1L, "a b c d", "srcA"),
        (2L, "b c d e", "srcB"), (3L, "z z z z z", "srcC"))
      docs.toDF("doc_id", "text", "source")
        .select($"doc_id", $"text", lit("en").as("lang"), $"source",
          length($"text").cast("long").as("n_chars"))
        .write.parquet(s"$dir/documents.parquet")
      val got = Registry.queryMap("source_overlap")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      val want = Seq(
        ("srcA", "srcB", 2L, 2L, 1L, 333333L),
        ("srcA", "srcC", 2L, 1L, 0L, 0L),
        ("srcB", "srcC", 2L, 1L, 0L, 0L))
      assert(got.toSeq == want, s"overlap mismatch: ${got.toSeq}")
    }
  }

  test("asof_nearest: planted boundary cases pin direction choice, " +
      "the distance tie to backward, and no-click drop") {
    import spark.implicits._
    withPlant("graft-asofn-plant") { dir =>
      // user 1: clicks at 100s and 200s (event_ids 1001, 1002);
      // purchases probing every boundary. user 2: purchase, no
      // clicks -> dropped.
      val evs = Seq(
        (1001L, 100L, 1L, "click"),
        (1002L, 200L, 1L, "click"),
        (1L, 50L, 1L, "purchase"), //  before all  -> f, 1001, 50
        (2L, 149L, 1L, "purchase"), // nearer 100  -> b, 1001, 49
        (3L, 150L, 1L, "purchase"), // exact tie   -> b, 1001, 50
        (4L, 151L, 1L, "purchase"), // nearer 200  -> f, 1002, 49
        (5L, 200L, 1L, "purchase"), // at a click  -> b, 1002, 0
        (6L, 300L, 1L, "purchase"), // after all   -> b, 1002, 100
        (7L, 123L, 2L, "purchase")) // no clicks   -> dropped
      evs.toDF("event_id", "sec", "user_id", "event_type")
        .select($"event_id", timestamp_micros($"sec" * 1000000L).as("ts"),
          $"user_id", $"event_type", lit(1.0).as("value"),
          lit("{}").as("props"))
        .write.parquet(s"$dir/events.parquet")
      val got = Registry.queryMap("asof_nearest")(spark, dir)
        .collect()
        .map(r => r.getLong(1) ->
          (r.getLong(2), r.getString(3), r.getLong(4)))
        .toMap
      val want = Map(
        1L -> (1001L, "f", 50000000L),
        2L -> (1001L, "b", 49000000L),
        3L -> (1001L, "b", 50000000L),
        4L -> (1002L, "f", 49000000L),
        5L -> (1002L, "b", 0L),
        6L -> (1002L, "b", 100000000L))
      assert(got == want, s"asof_nearest mismatch:\n$got\nvs\n$want")
    }
  }

  test("collocations_pmi: lift_micro equals an independent driver-side " +
      "recompute from raw counts, ordered and support-filtered") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(split($"text", " ").as("t")).collect()
      .map(_.getSeq[String](0))
    val uni = toks.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = uni.values.sum
    val bi = toks.flatMap(t => t.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 5)
    val expect = bi.toSeq.map { case ((a, b), cxy) =>
      val lift = (BigInt(cxy) * n * 1000000L) / (BigInt(uni(a)) * uni(b))
      (a, b, cxy, uni(a), uni(b), lift.toLong)
    }.sortBy { case (a, b, _, _, _, l) => (-l, a, b) }.take(15)
    val got = Registry.queryMap("collocations_pmi")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expect, s"PMI mismatch:\n$got\nvs\n$expect")
  }

  test("split_leakage: a PLANTED cross-split exact duplicate fires the " +
      "detector; within-side duplicates and val docs do not") {
    import spark.implicits._
    // the engine's split rule, recomputed independently: md5 of
    // "graft-r3:<id>", first 8 hex chars as a long, mod 100;
    // [0,5)=val, [5,10)=test, [10,100)=train
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"graft-r3:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    val ids = (0L until 200L)
    val testIds = ids.filter(i => bucket(i) >= 5 && bucket(i) < 10)
    val trainIds = ids.filter(i => bucket(i) >= 10)
    val valIds = ids.filter(i => bucket(i) < 5)
    assert(testIds.size >= 2 && trainIds.size >= 3 && valIds.nonEmpty)
    withPlant("graft-leak-plant") { dir =>
      val leak = "x y z w v" // planted: one test + one train copy
      val docs =
        Seq((testIds(0), leak), (trainIds(0), leak),
          // within-train dup pair: must NOT count as leakage
          (trainIds(1), "p q r s t"), (trainIds(2), "p q r s t"),
          // val doc with the leaked text: excluded from the audit
          (valIds(0), leak),
          (testIds(1), "a b c d e"))
      docs.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("src0").as("source"),
          length($"text").cast("long").as("n_chars"))
        .write.parquet(s"$dir/documents.parquet")
      val r = Registry.queryMap("split_leakage")(spark, dir).collect()(0)
      assert(r.getLong(0) == 3 && r.getLong(1) == 2, // train/test docs
        s"side counts: $r")
      assert(r.getLong(2) == 1, s"exact_leak_groups: $r")
      assert(r.getLong(3) == 1, s"exact_leaked_test_docs: $r")
      // shingles: test side {x y z, y z w, z w v, a b c, b c d, c d e}
      // = 6, train {x y z, y z w, z w v, p q r, q r s, r s t} = 6,
      // overlap 3 -> novelty (6-3)*1e6 // 6 = 500000
      assert(r.getLong(5) == 6 && r.getLong(6) == 3 &&
        r.getLong(7) == 500000L, s"shingle stats: $r")
    }
  }

  test("outliers_mad: hand-computed medians, MAD, and the single " +
      "planted outlier on a known distribution") {
    import spark.implicits._
    withPlant("graft-mad-plant") { dir =>
      // micro-values [10,12,14,16,18,20,22,1000]: median 17, abs devs
      // sorted [1,1,3,3,5,5,7,983] -> MAD 4, 3*MAD = 12 -> exactly
      // one outlier (983), max_abs_dev 983
      val vms = Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L, 1000L)
      vms.zipWithIndex.map { case (vm, i) =>
        (i.toLong, i.toLong, "t", vm / 1e6)
      }.toDF("event_id", "sec", "event_type", "value")
        .select($"event_id", timestamp_micros($"sec" * 1000000L).as("ts"),
          $"event_id".as("user_id"), $"event_type", $"value",
          lit("{}").as("props"))
        .write.parquet(s"$dir/events.parquet")
      val r = Registry.queryMap("outliers_mad")(spark, dir).collect()(0)
      assert(r.getString(0) == "t" && r.getLong(1) == 8, r.toString)
      assert(r.getDouble(2) == 17.0 && r.getDouble(3) == 4.0, r.toString)
      assert(r.getLong(4) == 1, s"outlier count: $r")
      assert(r.getDouble(5) == 983.0, r.toString)
    }
  }

  test("embed_truncate: label averages equal an independent driver-side " +
      "recompute of the closed-form prefix-energy cosine") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"label", $"embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    def e(v: Seq[Float], k: Int): Double =
      v.take(k).foldLeft(0d)((acc, x) => acc + x.toDouble * x.toDouble)
    val byLabel = vecs.filter { case (_, v) => e(v, 64) > 0 }
      .groupBy(_._1).view.mapValues { vs =>
        def avg(k: Int) = {
          val s = vs.map { case (_, v) =>
            BigDecimal(math.sqrt(e(v, k) / e(v, 64)))
              .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          }.sum
          BigDecimal(s.toDouble / vs.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        (vs.size.toLong, avg(8), avg(16), avg(32))
      }.toMap
    val got = Registry.queryMap("embed_truncate")(spark, sf)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got == byLabel, s"truncation curve mismatch:\n$got\nvs\n$byLabel")
    // prefix energy is monotone in k, so each row's cosine — and
    // therefore every average — must be non-decreasing in k
    got.values.foreach { case (_, c8, c16, c32) =>
      assert(c8 <= c16 + 1e-9 && c16 <= c32 + 1e-9, (c8, c16, c32))
    }
  }

  test("conjunctive_query: exactly the docs whose token set contains " +
      "all three terms, with exact per-term frequencies") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split(lower($"text"), " ").as("t")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).filter(_.nonEmpty))
    val expect = docs.flatMap { case (id, t) =>
      val (ta, ha, du) = (t.count(_ == "table").toLong,
        t.count(_ == "hash").toLong, t.count(_ == "dup").toLong)
      if (ta > 0 && ha > 0 && du > 0) Some(id -> (ta, ha, du)) else None
    }.toMap
    val got = Registry.queryMap("conjunctive_query")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expect,
      s"AND-query mismatch: ${got.size} vs ${expect.size} docs")
  }
}
