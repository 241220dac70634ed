package graft.fpl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Request serving (reference ui.py, E3). The reference answers a win
  * prediction with two `filter().first()` jobs per player, about 44
  * Spark jobs (ui.py:40-42). Here every request reads only the keys it
  * names, and each read is a bounded key lookup:
  *
  *  - win prediction: one `name IN (22 names)` scan of the players dim,
  *    role validation on those ≤22 rows on the driver, and only for a
  *    valid squad one `p1 IN ids AND p2 IN ids` read of the chemistry
  *    table (≤462 rows) and one `playerId IN ids` read of the ratings
  *    (≤22 rows). Both `In` filters push into the Parquet scan. The
  *    spec formula then runs on the driver over those rows: 3 jobs, 1
  *    for an invalid squad.
  *  - dated win prediction: the same lookups, the squad's ages scored
  *    with the fitted age model, and the cluster-fallback ratings read
  *    for the squad ids only. The k-means and regression fits are the
  *    rest of its jobs.
  *  - profile and match info: one plan each over the persisted tables.
  */
object Serving {

  /** One side of a win-prediction request. */
  case class TeamRequest(name: String, players: Seq[String])

  case class TeamChance(team: String, winningChance: Double)

  /** One squad entry: a requested name matched to one dim row. A name
    * with two dim rows gives two entries, an unknown name none, as the
    * inner join of request and dim does. `age` is set when the lookup
    * was given a date. */
  private case class Member(team: String, name: String, id: Long,
      role: String, age: Option[Double])

  /** The dim rows of the requested names, from one `name IN (...)` scan,
    * matched to the request's slots team by team; with a `date`, each
    * row carries the player's age at that date. */
  private def lookupSquad(players: DataFrame, team1: TeamRequest,
      team2: TeamRequest, date: Option[String] = None): Seq[Member] = {
    val names = (team1.players ++ team2.players).distinct
    val age = date.fold(lit(null).cast("double"))(d =>
      MLCapabilities.ageAt(col("birthDate"), to_date(lit(d))))
    val rows = players.filter(col("name").isin(names: _*))
      .select(col("name"), col("Id").cast("long"), col("role"), age)
      .collect().groupBy(_.getString(0))
    for (t <- Seq(team1, team2); n <- t.players;
         r <- rows.getOrElse(n, Array.empty[Row]))
      yield Member(t.name, n, r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
  }

  /** Exactly two team groups, each of 11 entries that pass the spec's
    * role rules (p.8: GK = 1, DF ≥ 3, MD ≥ 2, FW ≥ 1). Equal team names
    * make one group, a side with no known player none, so both are
    * invalid. */
  private def validSquad(squad: Seq[Member]): Boolean = {
    val teams = squad.groupBy(_.team)
    teams.size == 2 && teams.values.forall { ms =>
      def n(role: String) = ms.count(_.role == role)
      n("GK") == 1 && n("DF") >= 3 && n("MD") >= 2 && n("FW") >= 1 &&
        ms.size == 11
    }
  }

  /** The spec chances of a valid squad. Reads the chemistry of the
    * squad's pairs and the ratings of its players, then evaluates
    *   strength(p) = mean(chemistry(p, mate) over entries mate ≠ p)
    *                 · rating(p)
    *   strength(team) = mean over the team's distinct players
    * with the join/aggregate multiplicities: a key with several rows
    * contributes each row, a missing key or null value counts 0.5 (the
    * initial chemistry and rating). */
  private def chances(squad: Seq[Member], chemistrySym: DataFrame,
      ratings: DataFrame, team1: TeamRequest,
      team2: TeamRequest): Seq[TeamChance] = {
    val ids = squad.map(_.id).distinct
    def orInit(r: Row, i: Int) = if (r.isNullAt(i)) 0.5 else r.getDouble(i)
    val chem = chemistrySym
      .filter(col("p1").isin(ids: _*) && col("p2").isin(ids: _*))
      .select(col("p1").cast("long"), col("p2").cast("long"),
        col("chemistry").cast("double"))
      .collect().groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.toSeq.map(orInit(_, 2)) }
    val rating = ratings.filter(col("playerId").isin(ids: _*))
      .select(col("playerId").cast("long"), col("rating").cast("double"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.toSeq.map(orInit(_, 1)) }
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def strength(team: String): Double = {
      val ms = squad.filter(_.team == team)
      val terms = ms.map(_.id).distinct.flatMap { p =>
        val mates = ms.filter(_.id != p)
        if (mates.isEmpty) Nil
        else {
          val meanChem = mean(mates.flatMap(m =>
            chem.getOrElse((p, m.id), Seq(0.5))))
          rating.getOrElse(p, Seq(0.5)).map(meanChem * _)
        }
      }
      if (terms.isEmpty) 0.0 else mean(terms)
    }
    val s1 = strength(team1.name)
    val s2 = strength(team2.name)
    val c1 = (0.5 + s1 - (s1 + s2) / 2) * 100
    Seq(TeamChance(team1.name, c1), TeamChance(team2.name, 100 - c1))
  }

  /** r_type 1 — win prediction (ui.py:27-76; docs/Specs.pdf pp.7-8).
    *
    * strength(p) = mean(chemistry(p, 10 teammates)) · rating(p)
    * strength(team) = mean over 11 players
    * chance(A) = (0.5 + sA − (sA+sB)/2) · 100
    *
    * Returns None if either squad fails role validation ("Invalid
    * Team"). Reads only the requested players, their pairs and their
    * ratings (see the object doc). */
  def winPrediction(
      spark: SparkSession,
      players: DataFrame,           // name, role, Id
      chemistrySym: DataFrame,      // p1, p2, chemistry (symmetric)
      ratings: DataFrame,           // playerId, rating
      team1: TeamRequest, team2: TeamRequest): Option[Seq[TeamChance]] = {
    val squad = lookupSquad(players, team1, team2)
    if (!validSquad(squad)) None
    else Some(chances(squad, chemistrySym, ratings, team1, team2))
  }

  /** Full spec flow for win prediction (docs/Specs.pdf pp.7-8, SURVEY
    * §2.8): the quadratic rating-vs-age model predicts each squad
    * entry's rating at the request date; any entry predicted below 0.2
    * is "retired" and the request is rejected with the retired names.
    * Otherwise the squad is validated, and effective ratings come from
    * the cluster fallback for sparse players (< minMatches), read for
    * the squad ids only. */
  def winPredictionFull(
      spark: SparkSession,
      players: DataFrame,           // name, role, Id, birthDate
      chemistrySym: DataFrame,
      ratings: DataFrame,           // playerId, rating (last snapshot)
      profiles: DataFrame,          // Folds.profiles output
      ratingHistory: DataFrame,     // playerId, rating + age training rows
      team1: TeamRequest, team2: TeamRequest, date: String,
      minMatches: Long = 5L)
      : Either[Map[String, Seq[String]], Seq[TeamChance]] = {
    import spark.implicits._
    val scorer = MLCapabilities.ratingVsAge(ratingHistory)
    val squad = lookupSquad(players, team1, team2, Some(date))
    val ages = squad.map(m => (m.name, m.id, m.age))
      .toDF("name", "playerId", "age")
    val retired = scorer(ages).filter($"retired")
      .select($"name").as[String].collect().toSeq
    if (retired.nonEmpty) Left(Map("retired" -> retired))
    else if (!validSquad(squad))
      Left(Map("invalid" -> Seq("Invalid Team")))
    else {
      val effective = MLCapabilities.fallbackRatings(profiles, ratings,
        minMatches)
        .filter($"playerId".isin(squad.map(_.id).distinct: _*))
        .select($"playerId", $"effective_rating".as("rating"))
      Right(chances(squad, chemistrySym, effective, team1, team2))
    }
  }

  /** r_type 2 — player profile (ui.py:77-107): background from the dim ⋈
    * cumulative profile metrics. */
  def playerProfile(players: DataFrame, profiles: DataFrame,
      name: String): DataFrame =
    players.filter(col("name") === name)
      .join(profiles, players("Id") === profiles("playerId"), "left_outer")
      .select(players("name"), col("birthArea"), col("birthDate"),
        col("foot"), col("role"), col("height"), col("passportArea"),
        col("weight"),
        coalesce(col("fouls"), lit(0L)).as("fouls"),
        coalesce(col("goals"), lit(0L)).as("goals"),
        coalesce(col("own_goals"), lit(0L)).as("own_goals"),
        coalesce(col("pass_accuracy"), lit(0.0)).as("pass_accuracy"),
        coalesce(col("shots_on_target"), lit(0L)).as("shots_on_target"))

  /** r_type 3 — match info (ui.py:109-191): date+label lookup, squad
    * flatten with REAL card counts (spec Q4), names via broadcast dims. */
  def matchInfo(matches: DataFrame, players: DataFrame, teams: DataFrame,
      date: String, label: String): DataFrame = {
    val m = matches.filter(
      split(col("dateutc"), " ").getItem(0) === date &&
        col("label") === label)
    val stats = Flatten.matchSquadStats(m)
      .join(broadcast(players.select(col("Id"), col("name"))),
        col("playerId") === col("Id"), "inner")
      .drop("Id")
    val winners = m.select(col("wyId").as("matchId"), col("winner"),
      col("duration"), col("venue"), col("gameweek"), col("dateutc"))
      .join(broadcast(teams.select(col("Id"), col("name").as("winnerName"))),
        col("winner") === col("Id"), "left_outer")
      .drop("Id")
    stats.groupBy(col("matchId")).agg(
        flatten(collect_list(when(col("goals") > 0,
          array_repeat(col("name"), col("goals"))).otherwise(array()
            .cast("array<string>")))).as("goals"),
        flatten(collect_list(when(col("ownGoals") > 0,
          array_repeat(col("name"), col("ownGoals"))).otherwise(array()
            .cast("array<string>")))).as("own_goals"),
        collect_list(when(col("yellowCards") > 0, col("name"))).as("yellow_cards"),
        collect_list(when(col("redCards") > 0, col("name"))).as("red_cards"))
      .join(winners, Seq("matchId"), "inner")
      .select(
        split(col("dateutc"), " ").getItem(0).as("date"),
        col("duration"),
        coalesce(col("winnerName"), lit("draw")).as("winner"),
        col("venue"), col("gameweek"),
        sort_array(col("goals")).as("goals"),
        sort_array(col("own_goals")).as("own_goals"),
        sort_array(col("yellow_cards")).as("yellow_cards"),
        sort_array(col("red_cards")).as("red_cards"))
  }
}
