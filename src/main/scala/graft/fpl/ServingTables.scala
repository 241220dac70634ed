package graft.fpl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.streaming.FplStream

/** The six serving tables `RequestApp` reads, derived from the match
  * closes of the stream's kernel run over a bounded season
  * (`FplStream.closesOf`, which also closes each player's last match):
  *  - `players`, `teams`: the dims as loaded;
  *  - `matches`: the match records of the lines;
  *  - `ratings` (playerId, rating): each player's last rating by matchId;
  *  - `profiles`: see [[profiles]];
  *  - `chemistry_sym`: [[Chemistry.chemistryTable]] over the closes, in
  *    both pair orders.
  *
  *   sbt "runMain graft.fpl.ServingTables <lines> <players.csv> <teams.csv> <outDir>"
  */
object ServingTables {

  /** Profiles (A3) from closes: playerId, the sums of fouls, goals,
    * own_goals and shots_on_target, and the last close's
    * pass_accuracy chain value and matches_played. */
  def profiles(closes: DataFrame): DataFrame =
    closes.groupBy(col("playerId")).agg(
      sum(col("fouls")).as("fouls"),
      sum(col("goals")).as("goals"),
      sum(col("ownGoals")).as("own_goals"),
      max_by(col("profilePassAccuracy"), col("matchId")).as("pass_accuracy"),
      sum(col("shotsOnTarget")).as("shots_on_target"),
      max_by(col("matchesPlayed"), col("matchId")).as("matches_played"))

  /** Derives the tables from the season's raw JSON lines and the dims,
    * and writes each as parquet under `outDir/<name>`. The closes are
    * persisted while the three tables that read them are written. */
  def write(lines: DataFrame, players: DataFrame, teams: DataFrame,
      outDir: String): Unit = {
    val closes = FplStream.closesOf(FplStream.toMessages(lines)).toDF.persist()
    try Seq(
        "players" -> players,
        "teams" -> teams,
        "matches" -> Ingest.matches(Ingest.parse(lines)),
        "ratings" -> closes.groupBy(col("playerId"))
          .agg(max_by(col("rating"), col("matchId")).as("rating")),
        "profiles" -> profiles(closes),
        "chemistry_sym" ->
          Chemistry.symmetric(Chemistry.chemistryTable(closes)))
      .foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$name")
      }
    finally { closes.unpersist(); () }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: ServingTables <lines> <players.csv> <teams.csv> <outDir>")
    val Array(lines, players, teams, outDir) = args
    val spark = GraftSession.tuned(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    write(spark.read.text(lines), Ingest.players(spark, players),
      Ingest.teams(spark, teams), outDir)
    println(s"serving tables in $outDir")
    spark.stop()
  }
}
