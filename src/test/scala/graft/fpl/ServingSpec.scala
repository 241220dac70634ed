package graft.fpl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class ServingSpec extends SparkSpec {
  import spark.implicits._

  // 22 players forming two valid squads: 1 GK, 4 DF, 4 MD, 2 FW each
  private def mkPlayers(teamOffset: Int): Seq[(String, String, Long)] = {
    val roles = Seq("GK") ++ Seq.fill(4)("DF") ++ Seq.fill(4)("MD") ++
      Seq.fill(2)("FW")
    roles.zipWithIndex.map { case (r, i) =>
      (s"P${teamOffset + i}", r, (teamOffset + i).toLong)
    }
  }
  private val squadA = mkPlayers(100)
  private val squadB = mkPlayers(200)

  lazy val playersDim = (squadA ++ squadB)
    .map { case (n, r, id) => (n, "X", "1990-01-01", "right", r, 180, "X", 75, id) }
    .toDF("name", "birthArea", "birthDate", "foot", "role", "height",
      "passportArea", "weight", "Id")

  private val req1 = Serving.TeamRequest("Alpha", squadA.map(_._1))
  private val req2 = Serving.TeamRequest("Beta", squadB.map(_._1))

  test("win prediction: neutral inputs → 50/50, chances sum to 100") {
    // no chemistry/rating tables → defaults 0.5 everywhere, equal strength
    val emptyChem = Seq.empty[(Long, Long, Double)]
      .toDF("p1", "p2", "chemistry")
    val emptyRat = Seq.empty[(Long, Double)].toDF("playerId", "rating")
    val Some(res) = Serving.winPrediction(spark, playersDim, emptyChem,
      emptyRat, req1, req2)
    assert(approx(res(0).winningChance, 50.0))
    assert(approx(res.map(_.winningChance).sum, 100.0))
  }

  test("win prediction: stronger team gets >50") {
    val chem = squadA.flatMap(a => squadA.filter(_ != a)
        .map(b => (a._3, b._3, 0.9))) ++
      squadB.flatMap(a => squadB.filter(_ != a).map(b => (a._3, b._3, 0.3)))
    val rat = (squadA.map(p => (p._3, 0.9)) ++ squadB.map(p => (p._3, 0.3)))
      .toDF("playerId", "rating")
    val Some(res) = Serving.winPrediction(spark, playersDim,
      chem.toDF("p1", "p2", "chemistry"), rat, req1, req2)
    assert(res(0).winningChance > 50.0)
    assert(approx(res.map(_.winningChance).sum, 100.0))
    // exact spec math: sA = mean(0.9·0.9), sB = mean(0.3·0.3)
    val sA = 0.9 * 0.9; val sB = 0.3 * 0.3
    assert(approx(res(0).winningChance, (0.5 + sA - (sA + sB) / 2) * 100))
  }

  test("win prediction: role validation rejects (spec Q5: GK=1 DF≥3 MD≥2 FW≥1)") {
    // swap the GK of team A for an extra DF → invalid
    val badSquad = req1.copy(players = req1.players.tail :+ squadB(1)._1)
    val emptyChem = Seq.empty[(Long, Long, Double)]
      .toDF("p1", "p2", "chemistry")
    val emptyRat = Seq.empty[(Long, Double)].toDF("playerId", "rating")
    assert(Serving.winPrediction(spark, playersDim, emptyChem, emptyRat,
      badSquad, req2).isEmpty)
  }

  /** The spec formula as one Catalyst join/aggregate plan, the
    * reference for [[Serving.winPrediction]]: request ⋈ dim on name,
    * role counts per team, each player's mean chemistry over the team
    * self-join (0.5 for a missing pair) times its rating (0.5 if
    * unrated), averaged per team. */
  private def specPlan(spark: SparkSession, players: DataFrame,
      chemistrySym: DataFrame, ratings: DataFrame,
      team1: Serving.TeamRequest, team2: Serving.TeamRequest)
      : Option[Seq[Serving.TeamChance]] = {
    import spark.implicits._
    val req = (team1.players.map((team1.name, _)) ++
      team2.players.map((team2.name, _))).toDF("team", "name")
    val squad = req.join(players, Seq("name"), "inner")
      .select($"team", $"name", $"Id".as("playerId"), $"role")
    val roleCounts = squad.groupBy($"team").agg(
      sum(when($"role" === "GK", 1).otherwise(0)).as("gk"),
      sum(when($"role" === "DF", 1).otherwise(0)).as("df"),
      sum(when($"role" === "MD", 1).otherwise(0)).as("md"),
      sum(when($"role" === "FW", 1).otherwise(0)).as("fw"),
      count(lit(1)).as("n")).collect()
    val valid = roleCounts.length == 2 && roleCounts.forall { r =>
      r.getAs[Long]("gk") == 1 && r.getAs[Long]("df") >= 3 &&
      r.getAs[Long]("md") >= 2 && r.getAs[Long]("fw") >= 1 &&
      r.getAs[Long]("n") == 11
    }
    if (!valid) None
    else {
      val a = squad.select($"team", $"playerId")
      val b = squad.select($"team".as("team2"), $"playerId".as("mate"))
      val strength = a
        .join(b, $"team" === $"team2" && $"playerId" =!= $"mate")
        .join(chemistrySym, $"playerId" === $"p1" && $"mate" === $"p2",
          "left_outer")
        .na.fill(0.5, Seq("chemistry"))
        .groupBy($"team", $"playerId")
        .agg(avg($"chemistry").as("meanChem"))
        .join(ratings, Seq("playerId"), "left_outer")
        .na.fill(0.5, Seq("rating"))
        .groupBy($"team")
        .agg(avg($"meanChem" * $"rating").as("strength"))
        .collect().map(r =>
          r.getAs[String]("team") -> r.getAs[Double]("strength")).toMap
      val s1 = strength.getOrElse(team1.name, 0.0)
      val s2 = strength.getOrElse(team2.name, 0.0)
      val c1 = (0.5 + s1 - (s1 + s2) / 2) * 100
      Some(Seq(Serving.TeamChance(team1.name, c1),
        Serving.TeamChance(team2.name, 100 - c1)))
    }
  }

  test("win prediction equals the join/aggregate spec plan over generated dims") {
    val rnd = new scala.util.Random(20181)
    // ids 0-5 GK, 6-17 DF, 18-29 MD, 30-35 FW
    def role(id: Long) =
      if (id < 6) "GK" else if (id < 18) "DF" else if (id < 30) "MD" else "FW"
    val base = (0L until 36L).map(i => (s"N$i", role(i), i))
    def pick(lo: Int, hi: Int, n: Int) =
      rnd.shuffle((lo until hi).toList).take(n).map(i => s"N$i")
    def squad() = pick(0, 6, 1) ++ pick(6, 18, 4) ++ pick(18, 30, 4) ++
      pick(30, 36, 2)
    val outcomes = (0 until 18).map { c =>
      var dim = base
      var (n1, n2) = ("Alpha", "Beta")
      var (s1, s2) = (squad(), squad())
      c % 6 match {
        case 0 => // valid squads, possibly sharing players
        case 1 => // a DF/MD name with a second dim row (the same id
                  // once), 11 entries again when a FW name is unknown
          val dup = s1(1 + rnd.nextInt(8))
          val id = if (c == 1) dup.drop(1).toLong else 100L + c
          dim = dim :+ ((dup, role(dup.drop(1).toLong), id))
          if (c != 7) s1 = s1.updated(9, "Ghost")
        case 2 => s2 = s2.updated(rnd.nextInt(11), "Ghost") // unknown name
        case 3 => n2 = n1                                   // one team name
        case 4 => s2 = s2.indices.toList.map(i => s"Ghost$i") // no known players
        case 5 => s1 = s1.updated(5, "N0").updated(0, "N1") // two GKs
      }
      val ids = dim.map(_._3).distinct
      val chem = for (a <- ids; b <- ids if a < b && rnd.nextDouble() < 0.6;
        v = if (rnd.nextDouble() < 0.05) None else Some(rnd.nextDouble());
        pair <- Seq((a, b, v), (b, a, v))) yield pair
      val rat = ids.filter(_ => rnd.nextDouble() < 0.7)
        .map(i => (i, rnd.nextDouble()))
      val players = dim.toDF("name", "role", "Id")
      val chemDf = chem.toDF("p1", "p2", "chemistry")
      val ratDf = rat.toDF("playerId", "rating")
      val t1 = Serving.TeamRequest(n1, s1)
      val t2 = Serving.TeamRequest(n2, s2)
      val got = Serving.winPrediction(spark, players, chemDf, ratDf, t1, t2)
      val want = specPlan(spark, players, chemDf, ratDf, t1, t2)
      assert(got.map(_.map(_.team)) == want.map(_.map(_.team)), s"case $c")
      for ((g, w) <- got.toSeq.flatten.zip(want.toSeq.flatten))
        assert(approx(g.winningChance, w.winningChance),
          s"case $c: $g vs $w")
      c % 6 -> want.isDefined
    }
    // every case kind ran; the valid ones include duplicate dim names
    assert(outcomes.filter(_._2).map(_._1).toSet == Set(0, 1))
    assert(outcomes.filterNot(_._2).map(_._1).toSet == Set(1, 2, 3, 4, 5))
  }

  test("player profile join (r_type 2)") {
    val profiles = Seq((100L, 3L, 2L, 1L, 0.77, 5L, 2L))
      .toDF("playerId", "fouls", "goals", "own_goals", "pass_accuracy",
        "shots_on_target", "matches_played")
    val out = Serving.playerProfile(playersDim, profiles, "P100")
      .collect().head
    assert(out.getAs[String]("role") == "GK")
    assert(out.getAs[Long]("fouls") == 3L)
    assert(approx(out.getAs[Double]("pass_accuracy"), 0.77))
    // unknown player → no row; known player without profile → zeros
    val out2 = Serving.playerProfile(playersDim, profiles, "P101")
      .collect().head
    assert(out2.getAs[Long]("fouls") == 0L)
  }

  test("match info (r_type 3): winner name, real cards, scorers") {
    val parsed = Ingest.parse(Fixture.allLines.toDF("value"))
    val matches = Ingest.matches(parsed)
    val players = Ingest.players(spark, writeTmp("players.csv", Fixture.playersCsv))
    val teams = Ingest.teams(spark, writeTmp("teams.csv", Fixture.teamsCsv))
    val out = Serving.matchInfo(matches, players, teams,
      "2018-05-20", "Alpha FC - Beta FC, 2 - 1").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("winner") == "Alpha FC")
    assert(r.getAs[String]("venue") == "Stadio Alpha")
    def arr(c: String): Seq[String] = r.getSeq[String](r.fieldIndex(c)).toList
    assert(arr("goals").sorted == Seq("Cara", "Lou"))
    assert(arr("own_goals") == Seq("Kim"))
    assert(arr("yellow_cards") == Seq("Bob"))
    assert(arr("red_cards") == Seq("Lou"))
    // unknown match → empty
    assert(Serving.matchInfo(matches, players, teams,
      "2018-05-21", "nope").isEmpty)
  }

  /** The profile plan a request ran before the served snapshot, the
    * reference for a profile answer: the name's dim rows ⋈ profiles,
    * zeros for a player with no profile row. */
  private def profilePlan(players: DataFrame, profiles: DataFrame,
      name: String): DataFrame =
    players.filter($"name" === name)
      .join(profiles, $"Id" === $"playerId", "left_outer")
      .select($"name", $"birthArea", $"birthDate", $"foot", $"role",
        $"height", $"passportArea", $"weight",
        coalesce($"fouls", lit(0L)).as("fouls"),
        coalesce($"goals", lit(0L)).as("goals"),
        coalesce($"own_goals", lit(0L)).as("own_goals"),
        coalesce($"pass_accuracy", lit(0.0)).as("pass_accuracy"),
        coalesce($"shots_on_target", lit(0L)).as("shots_on_target"))

  /** The match-info plan a request ran before the served snapshot, the
    * reference for a match answer: one row per match of the date and
    * label with a known squad player, its scorers repeated per goal, its
    * booked players once, all sorted. */
  private def matchPlan(matches: DataFrame, players: DataFrame,
      teams: DataFrame, date: String, label: String): DataFrame = {
    val m = matches.filter(substring_index($"dateutc", " ", 1) === date &&
      $"label" === label)
    val squad = Flatten.matchSquadStats(m)
      .join(players.select($"Id", $"name"), $"playerId" === $"Id")
    def booked(c: String) = sort_array(collect_list(when(col(c) > 0, $"name")))
    squad.groupBy($"matchId").agg(
        sort_array(flatten(collect_list(array_repeat($"name", $"goals"))))
          .as("goals"),
        sort_array(flatten(collect_list(array_repeat($"name", $"ownGoals"))))
          .as("own_goals"),
        booked("yellowCards").as("yellow_cards"),
        booked("redCards").as("red_cards"))
      .join(m.join(teams.select($"Id".as("winner"), $"name".as("winnerName")),
        Seq("winner"), "left_outer"), $"matchId" === $"wyId")
      .select(substring_index($"dateutc", " ", 1).as("date"), $"duration",
        coalesce($"winnerName", lit("draw")).as("winner"), $"venue",
        $"gameweek", $"goals", $"own_goals", $"yellow_cards", $"red_cards")
  }

  private def json(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  test("the served snapshot answers every request type as the per-request " +
      "plans") {
    val none = spark.emptyDataFrame
    val builds = ServedSnapshot.builds

    // win: one table set with duplicate dim names (N7 with its own Id
    // again, N20 with another Id), a row with a null Id (NoId, which
    // counts for the roles but matches no chemistry or rating row),
    // duplicate chemistry and rating rows, null values and missing pairs
    // and ratings
    val rnd = new scala.util.Random(9311)
    def role(id: Long) =
      if (id < 6) "GK" else if (id < 18) "DF" else if (id < 30) "MD" else "FW"
    val dim = (0L until 36L).map(i => (s"N$i", role(i), Option(i))) ++
      Seq(("N7", "DF", Some(7L)), ("N20", "MD", Some(120L)),
        ("NoId", "DF", None))
    val ids = dim.flatMap(_._3).distinct
    val chemRows = for (a <- ids; b <- ids if a < b && rnd.nextDouble() < 0.6;
      v = if (rnd.nextDouble() < 0.05) None else Some(rnd.nextDouble());
      pair <- Seq((a, b, v), (b, a, v))) yield pair
    val ratingRows = ids.filter(_ => rnd.nextDouble() < 0.7)
      .map(i => (i, Option(rnd.nextDouble())))
    val players = dim.toDF("name", "role", "Id")
    val chem = (chemRows :+ ((0L, 8L, Some(0.25)))).toDF("p1", "p2", "chemistry")
    val ratings = (ratingRows ++ Seq((8L, Some(0.9)), (9L, None)))
      .toDF("playerId", "rating")
    // the win tables alone: a win reads no profile or match part
    val wins = ServedSnapshot.of(spark, players, none, chem, ratings, none,
      none)
    def n(is: Int*) = is.map(i => s"N$i")
    val s1 = n(0, 8, 9, 10, 11, 18, 19, 21, 22, 30, 31)
    val s2 = n(1, 12, 13, 14, 15, 23, 24, 25, 26, 32, 33)
    val cases = Seq(
      "valid" -> (s1, s2),
      "duplicate, same id" -> (s1.updated(1, "N7").updated(10, "Ghost"), s2),
      "duplicate, another id" -> (s1.updated(5, "N20").updated(10, "Ghost"), s2),
      "null id" -> (s1.updated(4, "NoId"), s2),
      "unknown name" -> (s1, s2.updated(3, "Ghost")),
      "no known players" -> (s1, s2.indices.map(i => s"Ghost$i")),
      "two GKs" -> (s1.updated(1, "N2"), s2))
    val valid = for ((what, (p1, p2)) <- cases) yield {
      val (t1, t2) = (Serving.TeamRequest("Alpha", p1),
        Serving.TeamRequest("Beta", p2))
      val got = wins.win(t1, t2)
      val want = specPlan(spark, players, chem, ratings, t1, t2)
      assert(got.map(_.map(_.team)) == want.map(_.map(_.team)), what)
      for ((g, w) <- got.toSeq.flatten.zip(want.toSeq.flatten))
        assert(approx(g.winningChance, w.winningChance), s"$what: $g vs $w")
      what -> want.isDefined
    }
    assert(valid.filter(_._2).map(_._1) ==
      Seq("valid", "duplicate, same id", "duplicate, another id", "null id"))
    val sameName = (Serving.TeamRequest("Alpha", s1),
      Serving.TeamRequest("Alpha", s2))
    assert(wins.win(sameName._1, sameName._2).isEmpty &&
      specPlan(spark, players, chem, ratings, sameName._1, sameName._2).isEmpty)

    // profile and match info: the fixture dims with a second "Bob" (its
    // own Id, no profile), and a second match of the fixture's date and
    // label
    val dims = Ingest.players(spark, writeTmp("players.csv",
      Fixture.playersCsv + "\nBob,Y,1995-01-01,left,FW,170,Y,65,99"))
    val teams = Ingest.teams(spark, writeTmp("teams.csv", Fixture.teamsCsv))
    val matches = Ingest.matches(Ingest.parse(Seq(Fixture.matchJson,
      Fixture.matchJson.replace("\"wyId\":1001", "\"wyId\":1003")
        .replace("\"winner\":100", "\"winner\":200")
        .replace("Stadio Alpha", "Stadio Beta"),
      Fixture.minute90MatchJson).toDF("value")))
    val profiles = Seq((1L, 3L, 0L, 0L, 0.77, 2L, 4L),
        (2L, 1L, 1L, 0L, 0.5, 1L, 4L))
      .toDF("playerId", "fouls", "goals", "own_goals", "pass_accuracy",
        "shots_on_target", "matches_played")
    val served = ServedSnapshot.of(spark, dims, teams, chem, ratings,
      profiles, matches)
    for (name <- Seq("Alice", "Dan", "Bob", "Zed")) {
      val want = json(profilePlan(dims, profiles, name))
      assert(json(served.profile(name)) == want, name)
      assert(want.size == (name match { case "Bob" => 2 case "Zed" => 0
        case _ => 1 }), name)
    }
    for ((date, label, rows) <- Seq(
        ("2018-05-20", "Alpha FC - Beta FC, 2 - 1", 2),
        ("2018-05-21", "Gamma FC - Delta FC, 0 - 0", 0), // no known player
        ("2018-05-21", "Alpha FC - Beta FC, 2 - 1", 0))) {
      val want = json(matchPlan(matches, dims, teams, date, label))
      assert(served.matchInfo(date, label).map(json).getOrElse(Nil) == want,
        s"$date $label")
      assert(want.size == rows, s"$date $label")
    }
    assert(ServedSnapshot.of(spark, players, none, chem, ratings, none,
      none) eq wins, "an unchanged table set was collected again")
    assert(ServedSnapshot.builds - builds == 2)
  }

  private def writeTmp(name: String, content: String): String = {
    val p = java.nio.file.Files.createTempDirectory("graft").resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}
