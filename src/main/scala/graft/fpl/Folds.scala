package graft.fpl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.FplStream

/** The rating and profile tables (reference A4 updatePlayerRating
  * master.py:214-239, A3 getPlayerProfile master.py:242-259) of
  * `MetricsAlgebra.playerMatchMetrics` rows, by the stream's kernel
  * (`FplStream.closesOf`). Only the season benchmark (`perfbench/`)
  * calls them, to time these layers, until it moves onto
  * [[ServingTables]]. */
object Folds {

  /** A4: one (playerId, matchId, rating, delta, teamId) row per close of
    * the metric rows and minutes ([[Flatten.playerMinutes]]); a match
    * with no minutes row is rated with factor 1.05. `spark` is unused. */
  def ratings(spark: SparkSession, playerMatchMetrics: DataFrame,
      playerMinutes: DataFrame): DataFrame =
    FplStream.closesOf(FplStream.counterMessages(playerMatchMetrics, lit(0L))
        .unionByName(FplStream.minuteMessages(playerMinutes)))
      .select("playerId", "matchId", "rating", "delta", "teamId")

  /** The profile table (A3) of the metric rows: see
    * [[ServingTables.profiles]]. */
  def profiles(playerMatchMetrics: DataFrame): DataFrame =
    ServingTables.profiles(FplStream.closesOf(
      FplStream.counterMessages(playerMatchMetrics, lit(0L))).toDF)
}
