package graft.fpl

import graft.StandingState
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The served tables of one serving process, collected to the driver
  * once, so that a request reads driver maps and starts no Spark job
  * before its response.
  *
  * Each part is collected on the first request that reads it (nothing
  * runs when the tables are opened or the snapshot is made):
  *  - each players-dim row by `name` (Id, role, birth date): win and
  *    dated win;
  *  - the ratings by `playerId`: win;
  *  - the chemistry values by `(p1, p2)`: win and dated win;
  *  - the profile answer rows by `name` ([[Serving.profileRows]]);
  *  - the match-info answer rows by `(date, label)`
  *    ([[Serving.matchRows]]);
  *  - the dated win's model rows, fitted on the players, ratings and
  *    profiles at [[ServedModels.ReferenceDate]] ([[ServedModels.fit]]).
  * Each answer is the one the per-request functions of [[Serving]] give
  * for the same tables: both read through the same definitions, here
  * over every row instead of the request's keys. A part reads whole
  * tables, so it pays off over the many requests a serving process
  * answers from one table set, not for a process that answers one.
  *
  * The snapshot is the one memo of a served table set: its fitted
  * models are held with it and go when it goes, so a set that differs
  * from a held one in any table fits its own. Memory is O(chemistry
  * pairs): ~79k rows for the season benchmark's tables, at most 650·649
  * for a full season's 650 players. The memo holds the
  * [[StandingState.HeldPerKind]] most recently used table sets (kind
  * [[StandingState.ServedSnapshots]]), and
  * `StandingState.reset(ServedSnapshots)` drops every snapshot.
  */
final class ServedSnapshot private (spark: SparkSession, players: DataFrame,
    teams: DataFrame, chemistrySym: DataFrame, ratings: DataFrame,
    profiles: DataFrame, matches: DataFrame) {
  import ServedSnapshot.{Answers, part, rows}

  private lazy val dim = part("players")(Serving.dimByName(players))(rows)
  private lazy val rating = part("ratings")(Serving.ratingsById(ratings))(rows)
  private lazy val chem =
    part("chemistry")(Serving.chemistryByPair(chemistrySym))(rows)
  private lazy val profileAnswers = part("profiles")(
    new Answers(Serving.profileRows(players, profiles), Seq("name")))(_.size)
  private lazy val matchAnswers = part("matches")(new Answers(
    Serving.matchRows(matches, players, teams), Seq("date", "label"),
    hidden = Seq("label")))(_.size)
  private[fpl] lazy val models = part("models")(Serving.modelRows(
    ServedModels.fit(players, ratings, profiles, ServedModels.ratingHistory(
      players, ratings, ServedModels.ReferenceDate),
      ServedModels.ReferenceDate)))(m => m.retired.size + rows(m.fallback))

  /** r_type 1 — [[Serving.winPrediction]] over the snapshot. */
  def win(team1: Serving.TeamRequest, team2: Serving.TeamRequest)
      : Option[Seq[Serving.TeamChance]] =
    Serving.win(dim, _ => chem, _ => rating, team1, team2)

  /** r_type 1 with a date — [[Serving.winPredictionFull]] over the
    * snapshot and its fitted models. */
  def datedWin(team1: Serving.TeamRequest, team2: Serving.TeamRequest)
      : Either[Map[String, Seq[String]], Seq[Serving.TeamChance]] =
    Serving.datedWin(dim, _ => models, _ => chem, team1, team2)

  /** r_type 2 — [[Serving.playerProfile]] as a local frame. */
  def profile(name: String): DataFrame =
    profileAnswers.frame(spark, profileAnswers(name))

  /** r_type 3 — [[Serving.matchInfo]] as a local frame, None if no row
    * answers. */
  def matchInfo(date: String, label: String): Option[DataFrame] =
    Some(matchAnswers(date, label)).filter(_.nonEmpty)
      .map(matchAnswers.frame(spark, _))
}

object ServedSnapshot {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val built = new AtomicLong

  /** Snapshots made in this JVM: one per table set, unless evicted. */
  def builds: Long = built.get

  /** The snapshot of these served tables, made on the first call for
    * them (their identity is [[tablesKey]]) and reused by every later
    * call. Its parts are collected as requests read them. */
  def of(spark: SparkSession, players: DataFrame, teams: DataFrame,
      chemistrySym: DataFrame, ratings: DataFrame, profiles: DataFrame,
      matches: DataFrame): ServedSnapshot =
    StandingState.held(StandingState.ServedSnapshots, tablesKey(
        players, teams, chemistrySym, ratings, profiles, matches)) {
      val s = new ServedSnapshot(spark, players, teams, chemistrySym,
        ratings, profiles, matches)
      built.incrementAndGet()
      s
    }

  /** What identifies a set of served frames: each frame's input files
    * (Spark names every written file afresh, so a rewrite and reopen
    * changes them) and its plan's semantic hash, which tells apart
    * frames with no files (an in-memory relation hashes its rows). */
  private def tablesKey(frames: DataFrame*): String =
    frames.map(f => f.inputFiles.sorted.mkString(",") + "#" + f.semanticHash())
      .mkString("\n")

  /** One part, collected now; logs one line with its rows and ms. */
  private def part[T](name: String)(collect: => T)(size: T => Int): T = {
    val t0 = System.nanoTime
    val v = collect
    log.info(f"served snapshot part $name: ${size(v)} rows in " +
      f"${(System.nanoTime - t0) / 1e6}%.0f ms")
    v
  }

  private def rows(m: Map[_, Seq[_]]): Int = m.valuesIterator.map(_.size).sum

  /** Answer rows on the driver, grouped by the values of the `key`
    * columns; `hidden` columns key the rows but are not answered. */
  private final class Answers(df: DataFrame, key: Seq[String],
      hidden: Seq[String] = Nil) {
    private val kept = df.columns.indices.filterNot(i => hidden.contains(df.columns(i)))
    val schema: StructType = StructType(kept.map(df.schema.fields(_)))
    private val rows: Map[Seq[Any], Seq[Row]] = {
      val k = key.map(df.columns.indexOf(_))
      df.collect().toSeq.groupBy(r => k.map(r.get))
        .map { case (v, rs) => v -> rs.map(r => Row.fromSeq(kept.map(r.get))) }
    }
    def size: Int = rows.valuesIterator.map(_.size).sum
    def apply(key: Any*): Seq[Row] = rows.getOrElse(key, Nil)
    def frame(spark: SparkSession, rs: Seq[Row]): DataFrame =
      spark.createDataFrame(rs.asJava, schema)
  }
}
