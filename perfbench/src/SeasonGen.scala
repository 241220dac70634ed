package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import scala.collection.mutable

/** Seeded synthetic EPL season in the Wyscout shape the program ingests.
  *
  * 20 teams with 32-man squads (3 GK, 10 DF, 11 MD, 8 FW) plus 10
  * unattached players, 650 named players in all, each with a role and a
  * birth date. A double round robin gives 380 matches in 38 gameweeks of
  * 10; every team plays once per gameweek, and match ids grow with the
  * gameweek (the stream closes a player's match when a larger match id
  * arrives for that player). Per match: an 11-man lineup and 7-man bench
  * per side, 0-3 substitutions, and `eventsPerMatch` (+-10%) events spread
  * over the players on the pitch with a skewed per-player weight.
  * Formation goal / own-goal / card counters and the score are derived
  * from the events, so they agree with them.
  *
  * Only event types the metric algebra counts are emitted (pass, duel,
  * foul, free kick, shot, and own-goal touches), so every player who has
  * an event in a match has a non-zero counter block for it.
  *
  * The expected per-(match, player) counters are accumulated while the
  * lines are written, in [[Season.counters]], for the reference model.
  */
object SeasonGen {

  val Teams = 20
  val SquadSize = 32
  val Unattached = 10
  val MatchesPerGameweek = Teams / 2

  // counter slots, in MetricsAlgebra.counterNames order
  val AccNormalPass = 0; val AccKeyPass = 1; val NormalPass = 2
  val KeyPass = 3; val DuelWon = 4; val DuelNeutral = 5; val Duels = 6
  val Shots = 7; val ShotGoal = 8; val ShotNoGoal = 9; val OnTarget = 10
  val Fouls = 11; val OwnGoals = 12; val FreeKicks = 13
  val EffFreeKicks = 14; val PenScored = 15; val Goals = 16
  val NumCounters = 17

  final case class Team(id: Long, name: String)
  final case class Player(id: Long, name: String, role: String,
      birthDate: String, teamId: Long, involvement: Double) {
    // fixed background columns of the players dim
    def height: Long = 165 + id * 7 % 30
    def weightKg: Long = 60 + id * 11 % 30
    def foot: String = if (id % 4 == 0) "left" else "right"
  }
  final case class Sub(in: Long, out: Long, minute: Int)
  final case class Side(teamId: Long, lineup: IndexedSeq[Long],
      bench: IndexedSeq[Long], subs: IndexedSeq[Sub],
      goals: Map[Long, Int], ownGoals: Map[Long, Int],
      yellow: Map[Long, Int], red: Map[Long, Int], score: Int) {
    /** (minutesPlayed, neverSubstituted) per squad member. */
    def minutes(p: Long): (Int, Boolean) =
      if (lineup.contains(p))
        subs.find(_.out == p) match {
          case Some(s) => (s.minute, false)
          case None => (90, true)
        }
      else subs.find(_.in == p) match {
        case Some(s) => (90 - s.minute, false)
        case None => (0, false)
      }
  }
  final case class MatchRec(id: Long, gameweek: Int, dateutc: String,
      label: String, venue: String, home: Side, away: Side, winner: Long) {
    def sides: Seq[Side] = Seq(home, away)
    def date: String = dateutc.split(" ")(0)
  }

  final class Season(val teams: IndexedSeq[Team],
      val players: IndexedSeq[Player], val matches: IndexedSeq[MatchRec],
      val counters: mutable.LinkedHashMap[(Long, Long), Array[Long]],
      val files: IndexedSeq[File], val events: Long) {
    val playerById: Map[Long, Player] = players.map(p => p.id -> p).toMap
    val teamById: Map[Long, Team] = teams.map(t => t.id -> t).toMap
  }

  private val firstNames = Seq("Aaron", "Ben", "Callum", "Dara", "Elias",
    "Femi", "Gabriel", "Hugo", "Idris", "Jonas", "Kieran", "Luca", "Mateo",
    "Niall", "Oskar", "Pablo", "Quinn", "Rafael", "Samir", "Tomas", "Umar",
    "Victor", "Wes", "Xavi", "Yannick", "Zane", "Adam", "Bruno", "Cesar",
    "Dominik", "Emre", "Filip", "Goran", "Henrik", "Ivan", "Jamal", "Kofi",
    "Leon", "Milan", "Nico")
  private val lastNames = Seq("Abbott", "Baxter", "Carvalho", "Dekker",
    "Eriksen", "Fofana", "Gallagher", "Hartmann", "Iwobi", "Jansen",
    "Kowalski", "Lindqvist", "Moreau", "Nowak", "Okafor", "Petrov",
    "Quaresma", "Rossi", "Silva", "Tanaka", "Umarov", "Varga", "Walsh",
    "Xhaka", "Yilmaz", "Zielinski", "Andersen", "Bianchi", "Costa",
    "Diallo", "Evans", "Ferreira", "Garcia", "Horvat", "Ibrahim", "Jovic",
    "Keane", "Larsen", "Mensah", "Novak", "Ortega", "Pires", "Ruiz",
    "Santos", "Traore", "Urban", "Vidal", "Weber", "Young", "Zapata")
  private val clubs = Seq("Ashford Rovers", "Bramley Town", "Castlegate",
    "Dunmore City", "Eastwick United", "Fairhaven", "Glenbrook Athletic",
    "Harlow Park", "Ironbridge", "Juniper Vale", "Kingsmead", "Lowther",
    "Marston Albion", "Northcote", "Oakridge", "Penwood Wanderers",
    "Queensbury", "Redcliffe", "Stanmoor", "Thornbury")

  /** Generates the first `gameweeks` gameweeks of the season and writes
    * one JSON-lines file per gameweek (`gw01.jsonl` …, match record
    * before its events) into `dir`, with increasing modification times
    * so a file source reads them in gameweek order. */
  def generate(seed: Long, eventsPerMatch: Int, dir: File,
      gameweeks: Int): Season = {
    require(gameweeks <= 2 * (Teams - 1), "a season has 38 gameweeks")
    val rnd = new scala.util.Random(seed)
    val teams = (0 until Teams).map(t => Team(1600L + t, clubs(t)))
    val names = rnd.shuffle(for (f <- firstNames; l <- lastNames)
      yield s"$f $l").take(Teams * SquadSize + Unattached).toIndexedSeq
    val roles = IndexedSeq.fill(3)("GK") ++ IndexedSeq.fill(10)("DF") ++
      IndexedSeq.fill(11)("MD") ++ IndexedSeq.fill(8)("FW")
    val players = names.zipWithIndex.map { case (name, i) =>
      val team = if (i < Teams * SquadSize) teams(i / SquadSize).id else -1L
      val role = if (i < Teams * SquadSize) roles(i % SquadSize)
        else Seq("DF", "MD", "FW")(i % 3)
      val birth = java.time.LocalDate.of(1983, 1, 1)
        .plusDays(rnd.nextInt(18 * 365).toLong)
      // heavy-tailed involvement: a few players see many more events
      val w = math.exp(rnd.nextGaussian() * 0.6)
      Player(10000L + i, name, role, birth.toString, team, w)
    }
    val squads = players.filter(_.teamId >= 0).groupBy(_.teamId)
    val counters = mutable.LinkedHashMap.empty[(Long, Long), Array[Long]]

    // circle-method double round robin
    val rounds = {
      val ids = teams.map(_.id)
      val first = (0 until Teams - 1).map { r =>
        val rot = ids.head +: (ids.tail.drop(r) ++ ids.tail.take(r))
        (0 until Teams / 2).map { k =>
          val (a, b) = (rot(k), rot(Teams - 1 - k))
          if ((r + k) % 2 == 0) (a, b) else (b, a)
        }
      }
      (first ++ first.map(_.map(_.swap))).take(gameweeks)
    }
    dir.mkdirs()
    val seasonStart = java.time.LocalDate.of(2017, 8, 12)
    val kickoffs = Seq("11:30:00", "14:00:00", "16:30:00", "19:00:00")
    var totalEvents = 0L
    val files = IndexedSeq.newBuilder[File]
    val matches = IndexedSeq.newBuilder[MatchRec]
    for ((round, g) <- rounds.zipWithIndex) {
      val f = new File(dir, f"gw${g + 1}%02d.jsonl")
      val out = new BufferedWriter(new FileWriter(f), 1 << 20)
      for (((homeId, awayId), k) <- round.zipWithIndex) {
        val matchId = 2500000L + g * MatchesPerGameweek + k + 1
        val date = seasonStart.plusDays(7L * g + k % 3)
        val dateutc = s"$date ${kickoffs(k % kickoffs.size)}"
        val lineups = Seq(homeId, awayId).map(t => pickSquad(rnd, squads(t)))
        val nEvents = eventsPerMatch - eventsPerMatch / 10 +
          rnd.nextInt(eventsPerMatch / 5 + 1)
        val evs = genEvents(rnd, matchId,
          Seq(homeId, awayId).zip(lineups).map { case (t, (l, _, s)) => (t, l, s) },
          players, nEvents)
        totalEvents += evs.size
        def count(t: Long, tag: Int): Map[Long, Int] = evs
          .filter(e => e.teamId == t && e.tags.contains(tag))
          .groupBy(_.playerId).map { case (p, es) => p -> es.size }
        def own(t: Long) = count(t, 101).values.sum
        def against(t: Long) = count(t, 102).values.sum
        val built = Seq(homeId -> awayId, awayId -> homeId).zip(lineups).map {
          case ((t, opp), (lineup, bench, subs)) =>
            Side(t, lineup, bench, subs, count(t, 101), count(t, 102),
              count(t, 1702), count(t, 1701), own(t) + against(opp))
        }
        val (hs, as) = (built(0).score, built(1).score)
        val winner = if (hs > as) homeId else if (as > hs) awayId else 0L
        val home = teams.find(_.id == homeId).get
        val away = teams.find(_.id == awayId).get
        val rec = MatchRec(matchId, g + 1, dateutc,
          s"${home.name} - ${away.name}, $hs - $as",
          s"${home.name} Ground", built(0), built(1), winner)
        matches += rec
        out.write(matchJson(rec)); out.newLine()
        for (e <- evs) {
          out.write(e.json); out.newLine()
          val c = counters.getOrElseUpdate((matchId, e.playerId),
            new Array[Long](NumCounters))
          e.addTo(c)
        }
      }
      out.close()
      f.setLastModified(1500000000000L + g * 10000L)
      files += f
    }
    new Season(teams, players, matches.result(), counters,
      files.result(), totalEvents)
  }

  /** lineup (1 GK + 10 outfield by a random formation), bench (1 GK + 6)
    * and 0-3 substitutions, starters picked by involvement weight. */
  private def pickSquad(rnd: scala.util.Random, squad: Seq[Player])
      : (IndexedSeq[Long], IndexedSeq[Long], IndexedSeq[Sub]) = {
    def byRole(r: String) = squad.filter(_.role == r)
    def pick(pool: Seq[Player], n: Int): Seq[Player] = {
      // weighted sampling without replacement (Efraimidis-Spirakis keys)
      pool.map(p => (math.pow(rnd.nextDouble(), 1.0 / p.involvement), p))
        .sortBy(-_._1).take(n).map(_._2)
    }
    val (df, md, fw) = Seq((4, 4, 2), (4, 3, 3), (3, 5, 2), (5, 3, 2))(
      rnd.nextInt(4))
    val gks = pick(byRole("GK"), 2)
    val lineup = gks.take(1) ++ pick(byRole("DF"), df) ++
      pick(byRole("MD"), md) ++ pick(byRole("FW"), fw)
    val rest = squad.filterNot(p => lineup.contains(p) || p.role == "GK")
    val bench = gks.drop(1) ++ pick(rest, 6)
    val nSubs = Seq(0, 1, 2, 2, 3, 3, 3)(rnd.nextInt(7))
    val outs = rnd.shuffle(lineup.tail).take(nSubs)
    val ins = rnd.shuffle(bench.tail).take(nSubs)
    val subs = outs.zip(ins).map { case (o, i) =>
      // minute 90 now and then: subbed out at 90 is not "never substituted"
      Sub(i.id, o.id, if (rnd.nextInt(25) == 0) 90 else 46 + rnd.nextInt(44))
    }
    (lineup.map(_.id).toIndexedSeq, bench.map(_.id).toIndexedSeq,
      subs.toIndexedSeq)
  }

  final case class Ev(id: Long, eventId: Int, subEventId: Int,
      matchId: Long, playerId: Long, teamId: Long, tags: Seq[Int],
      sec: Double) {
    def json: String =
      s"""{"id":$id,"eventId":$eventId,"subEventId":$subEventId,""" +
      s""""matchId":$matchId,"matchPeriod":"${if (sec < 2700) "1H" else "2H"}",""" +
      f""""eventSec":$sec%.3f,"playerId":$playerId,"teamId":$teamId,""" +
      s""""tags":${tags.map(t => s"""{"id":$t}""").mkString("[", ",", "]")},""" +
      s""""positions":[{"x":${(id * 7 % 100).toInt},"y":${(id * 13 % 100).toInt}}]}"""

    /** The spec's counter rules (docs/Specs.pdf pp.4-5), written out
      * independently of the program's column algebra. */
    def addTo(c: Array[Long]): Unit = {
      val acc = tags.contains(1801); val goal = tags.contains(101)
      val key = tags.contains(302)
      eventId match {
        case 8 =>
          if (key) { c(KeyPass) += 1; if (acc) c(AccKeyPass) += 1 }
          else { c(NormalPass) += 1; if (acc) c(AccNormalPass) += 1 }
        case 1 =>
          c(Duels) += 1
          if (tags.contains(703)) c(DuelWon) += 1
          if (tags.contains(702)) c(DuelNeutral) += 1
        case 10 =>
          c(Shots) += 1
          if (acc) {
            c(OnTarget) += 1
            if (goal) c(ShotGoal) += 1 else c(ShotNoGoal) += 1
          }
        case 2 => c(Fouls) += 1
        case 3 =>
          c(FreeKicks) += 1
          if (acc) c(EffFreeKicks) += 1
          if (subEventId == 35 && goal) c(PenScored) += 1
        case _ =>
      }
      if (tags.contains(102)) c(OwnGoals) += 1
      if (goal) c(Goals) += 1
    }
  }

  private def genEvents(rnd: scala.util.Random, matchId: Long,
      sides: Seq[(Long, IndexedSeq[Long], IndexedSeq[Sub])],
      players: IndexedSeq[Player], n: Int): IndexedSeq[Ev] = {
    val byId = (id: Long) => players((id - 10000L).toInt)
    // on-pitch interval [from, to) in seconds per squad member
    val intervals = sides.map { case (_, lineup, subs) =>
      val starters = lineup.map { p =>
        (p, 0.0, subs.find(_.out == p).map(_.minute * 60.0).getOrElse(5400.0))
      }
      val subsIn = subs.map(s => (s.in, s.minute * 60.0, 5400.0))
      (starters ++ subsIn).filter { case (_, a, b) => b > a }
    }
    val secs = Array.fill(n)(rnd.nextDouble() * 5400.0).sorted
    secs.toIndexedSeq.zipWithIndex.map { case (sec, i) =>
      val side = rnd.nextInt(2)
      val onPitch = intervals(side).filter { case (_, a, b) =>
        sec >= a && sec < b }
      val total = onPitch.map(p => byId(p._1).involvement).sum
      var x = rnd.nextDouble() * total
      val pid = onPitch.find { p => x -= byId(p._1).involvement; x < 0 }
        .getOrElse(onPitch.last)._1
      val pl = byId(pid)
      val u = rnd.nextDouble()
      val (eventId, sub, tags) =
        if (pl.role == "GK" && u < 0.85) passEvent(rnd)
        else if (u < 0.60) passEvent(rnd)
        else if (u < 0.92) {
          val r = rnd.nextDouble()
          (1, 12, Seq(if (r < 0.4) 703 else if (r < 0.6) 702 else 701))
        } else if (u < 0.94) {
          val r = rnd.nextDouble()
          (2, 20, if (r < 0.12) Seq(1702) else if (r < 0.125) Seq(1701)
            else Seq())
        } else if (u < 0.97) {
          if (rnd.nextInt(150) == 0)
            (3, 35, if (rnd.nextDouble() < 0.78) Seq(101, 1801) else Seq(1802))
          else (3, 31, if (rnd.nextBoolean()) Seq(1801) else Seq(1802))
        } else if (u < 0.9996) {
          val onTarget = rnd.nextDouble() < 0.35
          (10, 100,
            if (!onTarget) Seq(1802)
            else if (rnd.nextDouble() < 0.3) Seq(101, 1801) else Seq(1801))
        } else (7, 72, Seq(102))
      Ev(matchId * 10000L + i + 1, eventId, sub, matchId, pid, sides(side)._1, tags,
        sec)
    }
  }

  private def passEvent(rnd: scala.util.Random): (Int, Int, Seq[Int]) = {
    val key = rnd.nextDouble() < 0.03
    val acc = rnd.nextDouble() < 0.82
    (8, 85, (if (key) Seq(302) else Seq()) ++ Seq(if (acc) 1801 else 1802))
  }

  private def member(p: Long, m: Side): String = {
    def n(x: Map[Long, Int]) = x.getOrElse(p, 0)
    s"""{"playerId":$p,"goals":"${n(m.goals)}","ownGoals":"${n(m.ownGoals)}",""" +
    s""""yellowCards":"${n(m.yellow)}","redCards":"${n(m.red)}"}"""
  }

  private def matchJson(m: MatchRec): String = {
    def side(s: Side, name: String) =
      s""""${s.teamId}":{"hasFormation":1,"score":${s.score},"scoreET":0,""" +
      s""""scoreHT":0,"scoreP":0,"side":"$name","teamId":${s.teamId},""" +
      s""""coachId":${s.teamId + 90000},"formation":{""" +
      s""""lineup":${s.lineup.map(member(_, s)).mkString("[", ",", "]")},""" +
      s""""bench":${s.bench.map(member(_, s)).mkString("[", ",", "]")},""" +
      s""""substitutions":${s.subs.map(x => s"""{"playerIn":${x.in},""" +
        s""""playerOut":${x.out},"minute":${x.minute}}""").mkString("[", ",", "]")}}}"""
    s"""{"wyId":${m.id},"competitionId":364,"date":"${m.date}",""" +
    s""""dateutc":"${m.dateutc}","duration":"Regular","gameweek":${m.gameweek},""" +
    s""""label":"${m.label}","roundId":4405654,"seasonId":181150,""" +
    s""""status":"Played","venue":"${m.venue}","winner":${m.winner},""" +
    s""""teamsData":{${side(m.home, "home")},${side(m.away, "away")}}}"""
  }

  /** players.csv / teams.csv in the reference's dim layout. */
  def writeDims(s: Season, dir: File): (File, File) = {
    dir.mkdirs()
    val pf = new File(dir, "players.csv")
    val pw = new BufferedWriter(new FileWriter(pf))
    pw.write("name,birthArea,birthDate,foot,role,height,passportArea,weight,Id\n")
    for (p <- s.players)
      pw.write(s"${p.name},England,${p.birthDate},${p.foot},${p.role}," +
        s"${p.height},England,${p.weightKg},${p.id}\n")
    pw.close()
    val tf = new File(dir, "teams.csv")
    val tw = new BufferedWriter(new FileWriter(tf))
    tw.write("name,Id\n")
    for (t <- s.teams) tw.write(s"${t.name},${t.id}\n")
    tw.close()
    (pf, tf)
  }
}
