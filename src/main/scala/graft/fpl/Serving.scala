package graft.fpl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, DateTimeParseException,
  ResolverStyle}

/** Request serving (reference ui.py, E3). The reference answers a win
  * prediction with two `filter().first()` jobs per player, about 44
  * Spark jobs (ui.py:40-42). Here each request type has one definition
  * of the rows it reads, applied either to the rows of the request's
  * keys (the functions below, bounded key lookups) or to every row once
  * per served snapshot ([[ServedSnapshot]], which [[RequestApp]]
  * answers from):
  *
  *  - win prediction: the players-dim rows of the requested names, role
  *    validation on those ≤22 rows on the driver, and only for a valid
  *    squad the chemistry of the squad's pairs (≤462 rows) and its
  *    ratings (≤22 rows); the spec formula then runs on the driver. Here
  *    the reads are one `name IN (22 names)` scan of the dim and
  *    `p1 IN ids AND p2 IN ids` / `playerId IN ids` reads, each pushed
  *    into the Parquet scan: 3 jobs, 1 for an invalid squad.
  *  - dated win prediction: the same dim rows, the squad's rows of the
  *    fitted models ([[ServedModels]]: retired flags and
  *    cluster-fallback ratings) and, for a squad with no retired player
  *    that passes validation, the chemistry: 3 jobs, 2 for a rejected
  *    squad.
  *  - profile and match info: one plan each, every row keyed by name or
  *    by (date, label), filtered to the request's key.
  *
  * The per-request functions ([[winPrediction]], [[winPredictionFull]],
  * [[playerProfile]], [[matchInfo]]) have no production caller:
  * [[RequestApp]] answers from the snapshot. They are the reference
  * plans that the tests and perfbench's traced `Serving.winPrediction`
  * span compare the snapshot path against.
  */
object Serving {

  /** One side of a win-prediction request. */
  case class TeamRequest(name: String, players: Seq[String])

  case class TeamChance(team: String, winningChance: Double)

  /** A request's `date`, which must be a `yyyy-MM-dd` date. */
  def requestDate(date: String): LocalDate =
    try LocalDate.parse(date, DateFormat)
    catch { case e: DateTimeParseException =>
      throw new IllegalArgumentException(
        s"request field 'date' is not a yyyy-MM-dd date: $date", e)
    }

  private val DateFormat = DateTimeFormatter.ofPattern("uuuu-MM-dd")
    .withResolverStyle(ResolverStyle.STRICT)

  /** One players-dim row as a win request reads it; `id` is unset for a
    * null `Id`, `birthDate` (as a string) set when the dim has the
    * column and the row a value. */
  private[fpl] case class DimRow(id: Option[Long], role: String,
      birthDate: Option[String])

  /** One squad entry: a requested name matched to one dim row. A name
    * with two dim rows gives two entries, an unknown name none, as the
    * inner join of request and dim does. */
  private case class Member(team: String, name: String, row: DimRow) {
    def id: Option[Long] = row.id
  }

  /** The fitted model rows of a dated win ([[ServedModels]]): the
    * retired `(playerId, birthDate)` pairs, and the fallback ratings,
    * one value per row. */
  private[fpl] case class ModelRows(retired: Set[(Long, Option[String])],
      fallback: Map[Long, Seq[Double]])

  /** The rows of `players` (name, Id, role, birthDate if present) by
    * name. */
  private[fpl] def dimByName(players: DataFrame): Map[String, Seq[DimRow]] = {
    val birthDate =
      if (players.columns.contains("birthDate")) col("birthDate").cast("string")
      else lit(null).cast("string")
    players.select(col("name"), col("Id").cast("long"), col("role"), birthDate)
      .collect().toSeq.groupBy(_.getString(0)).map { case (n, rs) =>
        n -> rs.map(r => DimRow(
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2),
          Option(r.getString(3))))
      }
  }

  /** The rows of `ratings` (playerId, rating) by player, one value per
    * row. */
  private[fpl] def ratingsById(ratings: DataFrame): Map[Long, Seq[Double]] =
    byId(ratings.filter(col("playerId").isNotNull)
      .select(col("playerId").cast("long"), col("rating").cast("double"))
      .collect().toSeq, 1)

  /** The rows of `chemistrySym` (p1, p2, chemistry) by pair, one value
    * per row. */
  private[fpl] def chemistryByPair(chemistrySym: DataFrame)
      : Map[(Long, Long), Seq[Double]] =
    chemistrySym.filter(col("p1").isNotNull && col("p2").isNotNull)
      .select(col("p1").cast("long"), col("p2").cast("long"),
        col("chemistry").cast("double"))
      .collect().toSeq.groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.map(orInit(_, 2)) }

  /** The rows of a [[ServedModels]] frame. */
  private[fpl] def modelRows(models: DataFrame): ModelRows = {
    val (flags, fallback) = models.filter(col("playerId").isNotNull)
      .select(col("playerId"), col("birthDate"), col("retired"),
        col("effective_rating"))
      .collect().toSeq.partition(!_.isNullAt(2))
    ModelRows(flags.filter(_.getBoolean(2))
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet,
      byId(fallback, 3))
  }

  /** The requested names' entries, matched to the dim team by team. */
  private def lookupSquad(dim: Map[String, Seq[DimRow]], team1: TeamRequest,
      team2: TeamRequest): Seq[Member] =
    for (t <- Seq(team1, team2); n <- t.players;
         r <- dim.getOrElse(n, Nil)) yield Member(t.name, n, r)

  /** Exactly two team groups, each of 11 entries that pass the spec's
    * role rules (p.8: GK = 1, DF ≥ 3, MD ≥ 2, FW ≥ 1). Equal team names
    * make one group, a side with no known player none, so both are
    * invalid. */
  private def validSquad(squad: Seq[Member]): Boolean = {
    val teams = squad.groupBy(_.team)
    teams.size == 2 && teams.values.forall { ms =>
      def n(role: String) = ms.count(_.row.role == role)
      n("GK") == 1 && n("DF") >= 3 && n("MD") >= 2 && n("FW") >= 1 &&
        ms.size == 11
    }
  }

  /** A null value counts 0.5, the initial chemistry and rating. */
  private def orInit(r: Row, i: Int) =
    if (r.isNullAt(i)) 0.5 else r.getDouble(i)

  /** Rows grouped by their long id in column 0, one value (column `i`)
    * per row. */
  private def byId(rows: Seq[Row], i: Int): Map[Long, Seq[Double]] =
    rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(orInit(_, i)) }

  /** The spec chances of a valid squad, given the chemistry of its pairs
    * and the ratings of its players (one value per row), evaluated as
    *   strength(p) = mean(chemistry(p, mate) over entries mate ≠ p)
    *                 · rating(p)
    *   strength(team) = mean over the team's distinct players
    * with the join/aggregate multiplicities: a key with several rows
    * contributes each row, a missing key or null value counts 0.5 (the
    * initial chemistry and rating). An entry with no id counts for the
    * roles only: no join key matches a null, so it is no player and no
    * mate. */
  private def chances(squad: Seq[Member], chem: Map[(Long, Long), Seq[Double]],
      rating: Map[Long, Seq[Double]], team1: TeamRequest,
      team2: TeamRequest): Seq[TeamChance] = {
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def strength(team: String): Double = {
      val ids = squad.filter(_.team == team).flatMap(_.id)
      val terms = ids.distinct.flatMap { p =>
        val mates = ids.filter(_ != p)
        if (mates.isEmpty) Nil
        else {
          val meanChem = mean(mates.flatMap(m =>
            chem.getOrElse((p, m), Seq(0.5))))
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

  /** A win answered from driver rows: `dim` holds the requested names'
    * rows; `chem` and `rating` give the rows of a valid squad's ids. */
  private[fpl] def win(dim: Map[String, Seq[DimRow]],
      chem: Seq[Long] => Map[(Long, Long), Seq[Double]],
      rating: Seq[Long] => Map[Long, Seq[Double]], team1: TeamRequest,
      team2: TeamRequest): Option[Seq[TeamChance]] = {
    val squad = lookupSquad(dim, team1, team2)
    if (!validSquad(squad)) None
    else {
      val ids = squad.flatMap(_.id).distinct
      Some(chances(squad, chem(ids), rating(ids), team1, team2))
    }
  }

  /** A dated win answered from driver rows: as [[win]], with the
    * squad's model rows (`models` of its ids) for the retired flags and
    * effective ratings. A squad entry whose birth date is unknown is not
    * flagged. */
  private[fpl] def datedWin(dim: Map[String, Seq[DimRow]],
      models: Seq[Long] => ModelRows,
      chem: Seq[Long] => Map[(Long, Long), Seq[Double]],
      team1: TeamRequest, team2: TeamRequest)
      : Either[Map[String, Seq[String]], Seq[TeamChance]] = {
    val squad = lookupSquad(dim, team1, team2)
    val ids = squad.flatMap(_.id).distinct
    val m = models(ids)
    val retired = squad.filter(e =>
        e.id.exists(i => m.retired((i, e.row.birthDate))))
      .map(_.name)
    if (retired.nonEmpty) Left(Map("retired" -> retired))
    else if (!validSquad(squad))
      Left(Map("invalid" -> Seq("Invalid Team")))
    else Right(chances(squad, chem(ids), m.fallback, team1, team2))
  }

  /** The rows of the requested names, from one `name IN (...)` scan. */
  private def dimOf(players: DataFrame, team1: TeamRequest,
      team2: TeamRequest): Map[String, Seq[DimRow]] =
    dimByName(players.filter(
      col("name").isin((team1.players ++ team2.players).distinct: _*)))

  /** The chemistry rows of the pairs of `ids`. */
  private def chemOf(chemistrySym: DataFrame)(ids: Seq[Long]) =
    chemistryByPair(chemistrySym.filter(
      col("p1").isin(ids: _*) && col("p2").isin(ids: _*)))

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
      team1: TeamRequest, team2: TeamRequest): Option[Seq[TeamChance]] =
    win(dimOf(players, team1, team2), chemOf(chemistrySym),
      ids => ratingsById(ratings.filter(col("playerId").isin(ids: _*))),
      team1, team2)

  /** Full spec flow for win prediction (docs/Specs.pdf pp.7-8, SURVEY
    * §2.8): the quadratic rating-vs-age model, fitted on
    * `ratingHistory`, predicts each squad entry's rating at the request
    * date; any entry predicted below 0.2 is "retired" and the request
    * is rejected with the retired names. Otherwise the squad is
    * validated, and effective ratings come from the cluster fallback
    * for sparse players (< minMatches). Fits both models, then answers
    * from the `name IN` scan, one `playerId IN` read of the fitted
    * outputs for the squad's retired flags and effective ratings and,
    * for a valid squad with no retired entry, the chemistry of its
    * pairs. A squad entry whose birth date is unknown is not flagged. */
  def winPredictionFull(
      spark: SparkSession,
      players: DataFrame,           // name, role, Id, birthDate
      chemistrySym: DataFrame,
      ratings: DataFrame,           // playerId, rating (last snapshot)
      profiles: DataFrame,          // ServingTables.profiles output
      ratingHistory: DataFrame,     // playerId, rating + age training rows
      team1: TeamRequest, team2: TeamRequest, date: String,
      minMatches: Long = 5L)
      : Either[Map[String, Seq[String]], Seq[TeamChance]] = {
    val models = ServedModels.fit(players, ratings, profiles, ratingHistory,
      requestDate(date), minMatches)
    datedWin(dimOf(players, team1, team2),
      ids => modelRows(models.filter(col("playerId").isin(ids: _*))),
      chemOf(chemistrySym), team1, team2)
  }

  /** r_type 2 — player profile (ui.py:77-107): background from the dim ⋈
    * cumulative profile metrics. */
  def playerProfile(players: DataFrame, profiles: DataFrame,
      name: String): DataFrame =
    profileRows(players.filter(col("name") === name), profiles)

  /** The profile answer of every row of `players`, keyed by `name`. */
  private[fpl] def profileRows(players: DataFrame,
      profiles: DataFrame): DataFrame =
    players.join(profiles, players("Id") === profiles("playerId"), "left_outer")
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
      date: String, label: String): DataFrame =
    matchRows(matches.filter(
        split(col("dateutc"), " ").getItem(0) === date &&
          col("label") === label), players, teams)
      .drop("label")

  /** The match-info answer of every row of `matches` plus its `label`,
    * keyed by (date, label). */
  private[fpl] def matchRows(matches: DataFrame, players: DataFrame,
      teams: DataFrame): DataFrame = {
    val stats = Flatten.matchSquadStats(matches)
      .join(broadcast(players.select(col("Id"), col("name"))),
        col("playerId") === col("Id"), "inner")
      .drop("Id")
    val winners = matches.select(col("wyId").as("matchId"), col("winner"),
      col("duration"), col("venue"), col("gameweek"), col("dateutc"),
      col("label"))
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
        col("label"),
        col("duration"),
        coalesce(col("winnerName"), lit("draw")).as("winner"),
        col("venue"), col("gameweek"),
        sort_array(col("goals")).as("goals"),
        sort_array(col("own_goals")).as("own_goals"),
        sort_array(col("yellow_cards")).as("yellow_cards"),
        sort_array(col("red_cards")).as("red_cards"))
  }
}
