package perfbench

import SeasonGen._

/** Recomputation of the spec formulas (docs/Specs.pdf pp.4-8) over a
  * generated season, in plain Scala without Spark. The benchmark checks
  * every program output against it; it shares no code with the program.
  */
final class Model(val season: Season) {

  final case class Rated(playerId: Long, matchId: Long, teamId: Long,
      rating: Double, delta: Double)

  private def ratio(num: Double, den: Double) = if (den == 0) 0.0 else num / den

  /** (passAccuracy, contribution) of one counter block. */
  private def metrics(c: Array[Long]): (Double, Double) = {
    val passAcc = ratio(c(AccNormalPass) + 2.0 * c(AccKeyPass),
      c(NormalPass) + 2.0 * c(KeyPass))
    val duel = ratio(c(DuelWon) + 0.5 * c(DuelNeutral), c(Duels).toDouble)
    val shot = ratio(c(ShotGoal) + 0.5 * c(ShotNoGoal), c(Shots).toDouble)
    val base = (passAcc + duel + shot + c(OnTarget)) / 4
    (passAcc, base - (0.005 * c(Fouls) + 0.05 * c(OwnGoals)) * base)
  }

  private val sideOf: Map[(Long, Long), Side] =
    (for (m <- season.matches; s <- m.sides; p <- s.lineup ++ s.bench)
      yield (m.id, p) -> s).toMap

  /** Rating trajectory: r0 = 0.5, r' = factor * (contribution + r) / 2,
    * per player in match order; factor 1.05 for never-substituted
    * starters, else minutes / 90. */
  val rated: IndexedSeq[Rated] = {
    val byPlayer = season.counters.toIndexedSeq.groupBy(_._1._2)
    byPlayer.toIndexedSeq.sortBy(_._1).flatMap { case (pid, rows) =>
      var r = 0.5
      rows.sortBy(_._1._1).map { case ((mid, _), c) =>
        val side = sideOf((mid, pid))
        val (mins, never) = side.minutes(pid)
        val factor = if (never) 1.05 else mins / 90.0
        val next = factor * ((metrics(c)._2 + r) / 2)
        val out = Rated(pid, mid, side.teamId, next, next - r)
        r = next
        out
      }
    }
  }

  /** The stream closes a player's match when a later match naming that
    * player arrives (in the squad or in an event); a rated match with no
    * later squad appearance stays open at the end of the stream. */
  val closed: IndexedSeq[Rated] = {
    val lastSquad = sideOf.keys.groupBy(_._2).map { case (p, ks) =>
      p -> ks.map(_._1).max }
    rated.filter(r => lastSquad(r.playerId) > r.matchId)
  }

  val finalRating: Map[Long, Double] = rated.groupBy(_.playerId)
    .map { case (p, rs) => p -> rs.maxBy(_.matchId).rating }

  /** Chemistry: 0.5 + sum over shared matches of the signed pair delta,
    * per unordered pair (p1 < p2). */
  def chemistry(rows: Seq[Rated]): Map[(Long, Long), Double] = {
    val acc = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    for ((_, ms) <- rows.groupBy(_.matchId)) {
      val v = ms.toIndexedSeq
      for (i <- v.indices; j <- v.indices if v(i).playerId < v(j).playerId) {
        val (a, b) = (v(i), v(j))
        val sameTeam = a.teamId == b.teamId
        val sameDir = (a.delta > 0 && b.delta > 0) || (a.delta < 0 && b.delta < 0)
        val mag = math.abs((a.delta + b.delta) / 2)
        val k = (a.playerId, b.playerId)
        acc(k) = acc.getOrElse(k, 0.5) + (if (sameTeam == sameDir) mag else -mag)
      }
    }
    acc.toMap
  }

  lazy val chemAll: Map[(Long, Long), Double] = chemistry(rated)
  lazy val chemClosed: Map[(Long, Long), Double] = chemistry(closed)

  final case class Profile(fouls: Long, goals: Long, ownGoals: Long,
      passAccuracy: Double, shotsOnTarget: Long, matches: Long)

  /** Cumulative profile; pass accuracy is the chain r1 = x1,
    * rn = (xn + r(n-1)) / 2 in match order. */
  val profiles: Map[Long, Profile] =
    season.counters.toIndexedSeq.groupBy(_._1._2).map { case (pid, rows) =>
      val sorted = rows.sortBy(_._1._1).map(_._2)
      val pa = sorted.map(c => metrics(c)._1)
      pid -> Profile(sorted.map(_(Fouls)).sum, sorted.map(_(Goals)).sum,
        sorted.map(_(OwnGoals)).sum, pa.tail.foldLeft(pa.head)((r, x) => (x + r) / 2),
        sorted.map(_(OnTarget)).sum, sorted.size.toLong)
    }

  private def chem(a: Long, b: Long): Double =
    chemAll.getOrElse((math.min(a, b), math.max(a, b)), 0.5)

  /** Win prediction over validated squads: strength(p) = mean chemistry
    * with the 10 team-mates x rating(p); chance(A) = (0.5 + sA -
    * (sA + sB) / 2) * 100. None when a squad breaks the role rules. */
  def win(t1: Seq[String], t2: Seq[String], rating: Long => Double)
      : Option[(Double, Double)] = {
    val byName = season.players.map(p => p.name -> p).toMap
    val squads = Seq(t1, t2).map(_.flatMap(byName.get))
    def valid(s: Seq[Player]) = s.size == 11 &&
      s.count(_.role == "GK") == 1 && s.count(_.role == "DF") >= 3 &&
      s.count(_.role == "MD") >= 2 && s.count(_.role == "FW") >= 1
    if (!squads.forall(valid)) None
    else {
      val Seq(s1, s2) = squads.map { s =>
        s.map { p =>
          val mates = s.filter(_.id != p.id)
          mates.map(m => chem(p.id, m.id)).sum / mates.size *
            rating(p.id)
        }.sum / s.size
      }
      val c1 = (0.5 + s1 - (s1 + s2) / 2) * 100
      Some((c1, 100 - c1))
    }
  }

  /** Cold-start fallback: players with fewer than 5 matches take the
    * mean final rating of the players with at least 5 matches in their
    * profile cluster (0.5 if there are none). */
  def effectiveRatings(cluster: Map[Long, Int]): Map[Long, Double] = {
    val means = profiles.toSeq.filter(_._2.matches >= 5)
      .groupBy(p => cluster(p._1))
      .map { case (c, ps) => c -> ps.map(p => finalRating(p._1)).sum / ps.size }
    profiles.map { case (p, pr) =>
      p -> (if (pr.matches < 5) means.getOrElse(cluster(p), 0.5)
        else finalRating(p))
    }
  }

  /** Least-squares fit of rating ~ b0 + b1 age + b2 age^2 over every
    * rated player, ages taken at `date`. */
  def ageModel(date: String): Double => Double = {
    val at = java.time.LocalDate.parse(date)
    val pts = finalRating.toSeq.map { case (p, r) =>
      (ageAt(season.playerById(p).birthDate, at), r)
    }
    val xs = pts.map { case (a, _) => Array(1.0, a, a * a) }
    val m = Array.tabulate(3, 3)((i, j) => xs.map(x => x(i) * x(j)).sum)
    val v = Array.tabulate(3)(i => xs.zip(pts).map { case (x, (_, r)) => x(i) * r }.sum)
    val b = solve3(m, v)
    a => b(0) + b(1) * a + b(2) * a * a
  }

  def ageAt(birth: String, at: java.time.LocalDate): Double =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(birth), at).toDouble / 365.25

  private def solve3(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val a = m.map(_.clone()); val b = v.clone()
    for (c <- 0 until 3) {
      val piv = (c until 3).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(piv); a(piv) = t
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      for (r <- c + 1 until 3) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until 3) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](3)
    for (r <- 2 to 0 by -1)
      x(r) = (b(r) - (r + 1 until 3).map(k => a(r)(k) * x(k)).sum) / a(r)(r)
    x
  }
}
