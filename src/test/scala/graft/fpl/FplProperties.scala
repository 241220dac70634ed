package graft.fpl

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.streaming.FplStream
import graft.streaming.FplStream.RosterClose

/** Property-based invariants (SURVEY §5.2): metric bounds, chemistry
  * sign/symmetry rules, fold identities, split-invariance. Spark-backed
  * properties run a reduced case count; pure-math ones run the full
  * default. */
object FplProperties extends Properties("fpl") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = graft.TestSpark.spark

  // -- generators -----------------------------------------------------
  private val tagPool = Seq(101, 102, 302, 1801, 1802)
  /** Valid events only: a duel carries exactly one outcome tag
    * (701 lost | 702 neutral | 703 won) — wyscout never emits two; a
    * duel tagged both won and neutral would yield effectiveness 1.5 in
    * the reference's formula too. */
  private val genEvent: Gen[(Int, Seq[Int])] = for {
    eventId <- Gen.oneOf(1, 2, 3, 7, 8, 10)
    tags <- Gen.someOf(tagPool)
    outcome <- Gen.oneOf(701, 702, 703)
  } yield (eventId, if (eventId == 1) tags.toSeq :+ outcome else tags.toSeq)

  private val genEvents: Gen[List[(Int, Seq[Int])]] =
    Gen.nonEmptyListOf(genEvent).map(_.take(30))

  // -- metric bounds (docs/Specs.pdf: "bound between 0 and 1") --------
  property("pass/duel accuracy ∈ [0,1] for arbitrary event mixes") =
    forAll(genEvents) { evs =>
      import spark.implicits._
      val lines = evs.zipWithIndex.map { case ((eid, tags), i) =>
        val tagStr = tags.map(t => s"""{"id":$t}""").mkString(",")
        s"""{"id":$i,"eventId":$eid,"subEventId":0,"matchId":1,
           |"playerId":7,"teamId":1,"tags":[$tagStr]}"""
          .stripMargin.replaceAll("\n", "")
      }
      val rows = MetricsAlgebra.playerMatchMetrics(
        Ingest.events(Ingest.parse(lines.toDF("value")))).collect()
      rows.forall { r =>
        val pa = r.getAs[Double]("pass_accuracy")
        val de = r.getAs[Double]("duel_effectiveness")
        val se = r.getAs[Double]("shot_effectiveness")
        pa >= 0 && pa <= 1 && de >= 0 && de <= 1 && se >= 0 && se <= 1
      }
    }

  // -- chemistry sign rule & magnitude --------------------------------
  private val genDelta = Gen.choose(-0.5, 0.5).suchThat(d => d != 0.0)
  property("chemistry: |Δ1+Δ2|/2 magnitude, sign = (sameTeam == sameDir)") =
    forAll(genDelta, genDelta, Gen.oneOf(true, false)) {
      (d1, d2, sameTeam) =>
        import spark.implicits._
        val t2 = if (sameTeam) 100L else 200L
        val deltas = Seq((1L, 10L, 100L, d1), (1L, 20L, t2, d2))
          .toDF("matchId", "playerId", "teamId", "delta")
        val pd = Chemistry.pairDeltas(deltas)
          .select("pairDelta").as[Double].head()
        val mag = math.abs((d1 + d2) / 2)
        val sameDir = (d1 > 0 && d2 > 0) || (d1 < 0 && d2 < 0)
        val expected = if (sameTeam == sameDir) mag else -mag
        math.abs(pd - expected) < 1e-12
    }

  // -- stream chemistry under micro-batch splits (pure) ---------------
  /** Closes of up to three matches (distinct players per match), each
    * assigned to one of four micro-batches. */
  private val genSplitCloses: Gen[List[RosterClose]] =
    Gen.listOfN(3, Gen.zip(Gen.choose(1L, 4L),
        Gen.containerOf[Set, Long](Gen.choose(1L, 12L))))
      .flatMap { ms =>
        val slots = ms.toMap.toList.flatMap { case (m, ps) => ps.map(m -> _) }
        Gen.sequence[List[RosterClose], RosterClose](slots.map {
          case (m, p) => for {
            team <- Gen.oneOf(100L, 200L)
            delta <- Gen.choose(-0.5, 0.5)
            batch <- Gen.choose(0L, 3L)
          } yield RosterClose(m, p, team, delta, batch)
        })
      }

  property("stream pairs: per-batch pairs under any split and a replayed " +
      "batch == pairsOf over all closes, each pair once") =
    Prop.forAllNoShrink(genSplitCloses, Gen.choose(0, 3)) { (closes, r) =>
      val batches = closes.groupBy(_.batchId)
      val ids = batches.keys.toSeq.sorted
      val replayed = if (ids.isEmpty) -1L else ids(r % ids.size)
      // each batch pairs with what the earlier ones wrote; the replayed
      // batch runs twice in a row, its second run replacing its
      // partition as the sink's overwrite does
      var roster = Vector.empty[RosterClose]
      val written = scala.collection.mutable.Map
        .empty[Long, Seq[Chemistry.PairDelta]]
      for (b <- ids; _ <- 1 to (if (b == replayed) 2 else 1)) {
        written(b) = FplStream.batchPairs(b, batches(b), roster)
        roster = FplStream.recorded(roster, b, batches(b))
      }
      val all = closes.groupBy(_.matchId).toSeq.flatMap { case (m, cs) =>
        Chemistry.pairsOf(m, cs.map(c =>
          Chemistry.Side(c.playerId, c.teamId, c.delta, fresh = true)))
      }
      def key(p: Chemistry.PairDelta) = (p.matchId, p.p1, p.p2)
      written.values.flatten.toSeq.sortBy(key) == all.sortBy(key)
    }

  // -- fold identities (pure math, full case count) -------------------
  property("avg-of-avgs fold: closed form == sequential fold, bounded") =
    Prop.forAllNoShrink(Gen.nonEmptyListOf(Gen.choose(0.0, 1.0))) { xs =>
      val seq = xs.tail.foldLeft(xs.head)((acc, x) => (x + acc) / 2)
      val n = xs.length
      val closed = xs.zipWithIndex.map { case (x, i) =>
        val rn = i + 1
        x * (if (rn == 1) math.pow(0.5, n - 1)
             else math.pow(0.5, n - rn + 1))
      }.sum
      math.abs(seq - closed) < 1e-9 &&
        seq >= xs.min - 1e-12 && seq <= xs.max + 1e-12
    }

  property("rating fold: r ∈ [0, 1.05·max(c,r₀)] for c ∈ [0,1], factor ≤ 1.05") =
    Prop.forAllNoShrink(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0.0, 1.0), Gen.oneOf(0.0, 1.0 / 3, 2.0 / 3, 1.0, 1.05)))) {
      cs =>
        var r = 0.5
        cs.foreach { case (c, f) => r = f * ((c + r) / 2) }
        r >= 0.0 && r <= 1.05
    }

  // -- split invariance (counter sums associative across micro-batches)
  property("counter sums are split-invariant (batch ≡ any chunking)") =
    Prop.forAllNoShrink(Gen.listOfN(12, Gen.choose(0, 3)),
      Gen.choose(1, 6)) { (counts, chunks) =>
      val total = counts.sum
      val chunked = counts.grouped(math.max(1, counts.size / chunks))
        .map(_.sum).sum
      total == chunked
    }

  // -- win chance complement ------------------------------------------
  property("win chances always sum to 100") =
    Prop.forAllNoShrink(Gen.choose(-2.0, 2.0), Gen.choose(-2.0, 2.0)) {
      (s1, s2) =>
        val c1 = (0.5 + s1 - (s1 + s2) / 2) * 100
        val c2 = 100 - c1
        math.abs((c1 + c2) - 100.0) < 1e-9
    }
}
