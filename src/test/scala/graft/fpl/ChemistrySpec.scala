package graft.fpl

import graft.SparkSpec

/** Pinned to the worked examples in docs/Specs.pdf p.6 (via SURVEY §5.1):
  *  - opposite sides, Δ+0.02 / Δ+0.06  ⇒ −0.04
  *  - same team,      Δ+0.07 / Δ−0.03  ⇒ −0.02
  *  - opposite sides, Δ+0.07 / Δ−0.03  ⇒ +0.02
  */
class ChemistrySpec extends SparkSpec {
  import spark.implicits._

  private def pairDelta(t1: Long, d1: Double, t2: Long, d2: Double): Double = {
    val deltas = Seq((1L, 10L, t1, d1), (1L, 20L, t2, d2))
      .toDF("matchId", "playerId", "teamId", "delta")
    Chemistry.pairDeltas(deltas).select("pairDelta").as[Double].head()
  }

  test("golden: opposite sides, both positive ⇒ −mag") {
    assert(approx(pairDelta(100, 0.02, 200, 0.06), -0.04))
  }
  test("golden: same team, opposite directions ⇒ −mag") {
    assert(approx(pairDelta(100, 0.07, 100, -0.03), -0.02))
  }
  test("golden: opposite sides, opposite directions ⇒ +mag") {
    assert(approx(pairDelta(100, 0.07, 200, -0.03), 0.02))
  }
  test("same team, same direction ⇒ +mag") {
    assert(approx(pairDelta(100, 0.02, 100, 0.06), 0.04))
  }

  test("each unordered pair counted once per match (spec Q3)") {
    val deltas = Seq((1L, 10L, 100L, 0.02), (1L, 20L, 100L, 0.06),
      (1L, 30L, 200L, 0.04))
      .toDF("matchId", "playerId", "teamId", "delta")
    val pairs = Chemistry.pairDeltas(deltas).collect()
    assert(pairs.length == 3) // C(3,2), not 6 directed
  }

  test("chemistry is unbounded like the reference (0.5 + 1.8 = 2.3)") {
    val pairs = Seq((1L, 10L, 20L, 0.9), (2L, 10L, 20L, 0.9))
      .toDF("matchId", "p1", "p2", "pairDelta")
    val raw = Chemistry.fromPairDeltas(pairs)
      .select("chemistry").as[Double].head()
    assert(approx(raw, 2.3))   // 0.5 + 1.8, unbounded like the reference
  }

  test("chemistry accumulates from 0.5 across matches, symmetric view") {
    val deltas = Seq(
      (1L, 10L, 100L, 0.02), (1L, 20L, 100L, 0.06),   // match 1: +0.04
      (2L, 10L, 100L, 0.07), (2L, 20L, 100L, -0.03))  // match 2: −0.02
      .toDF("matchId", "playerId", "teamId", "delta")
    val chem = Chemistry.chemistryTable(deltas)
    val v = chem.select("chemistry").as[Double].head()
    assert(approx(v, 0.5 + 0.04 - 0.02))
    val sym = Chemistry.symmetric(chem).collect()
    assert(sym.length == 2)
  }
}
