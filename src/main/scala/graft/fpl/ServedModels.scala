package graft.fpl

import graft.StandingState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDate

/** The model outputs a dated win prediction needs (docs/Specs.pdf
  * pp.7-8), fitted once per served snapshot instead of per request.
  *
  * One frame of two row sets, told apart by `retired`:
  *  - one row per distinct `(playerId, birthDate)` of the players dim
  *    whose age is known, with the rating-vs-age model's retired flag
  *    (`effective_rating` null);
  *  - the [[MLCapabilities.fallbackRatings]] rows with their
  *    multiplicities (`birthDate` and `retired` null).
  *
  * The retired flag does not depend on the request date. The fit is
  * rating ~ b0 + b1·age + b2·age² with an intercept and no
  * regularization, and the training and scored ages are taken at the
  * same date. Moving that date shifts every age by the same
  * Δdays/365.25, and a least-squares quadratic fit shifts with its
  * inputs, so each player's predicted rating stays the same. The served
  * snapshot is therefore fitted at one fixed [[ReferenceDate]].
  */
object ServedModels {

  private val Schema: StructType = StructType(Seq(
    StructField("playerId", LongType),
    StructField("birthDate", StringType),
    StructField("retired", BooleanType),
    StructField("effective_rating", DoubleType)))

  /** The date a served snapshot's ages are taken at. */
  private val ReferenceDate: LocalDate = LocalDate.of(2000, 1, 1)

  /** The model outputs for `players` (name, Id, birthDate), `ratings`
    * (playerId, rating) and `profiles` (Folds.profiles), with the
    * rating-vs-age model fitted on `ratingHistory` (age, rating) and
    * the dim's ages taken at `at`. Runs both fits now; the frame is
    * lazy in their outputs. */
  def fit(players: DataFrame, ratings: DataFrame, profiles: DataFrame,
      ratingHistory: DataFrame, at: LocalDate,
      minMatches: Long = 5L): DataFrame = {
    val scorer = MLCapabilities.ratingVsAge(ratingHistory)
    val dim = players.select(col("Id").cast("long").as("playerId"),
        col("birthDate").cast("string").as("birthDate"),
        MLCapabilities.ageAt(col("birthDate"), lit(java.sql.Date.valueOf(at)))
          .as("age"))
      .filter(col("age").isNotNull).distinct()
    val retired = scorer(dim).select(col("playerId"), col("birthDate"),
      col("retired"), lit(null).cast("double").as("effective_rating"))
    val fallback = MLCapabilities.fallbackRatings(profiles, ratings,
        minMatches)
      .select(col("playerId").cast("long"), lit(null).cast("string"),
        lit(null).cast("boolean"), col("effective_rating").cast("double"))
    retired.union(fallback).toDF(Schema.fieldNames: _*)
  }

  /** The training rows of the rating-vs-age model: each rated player's
    * rating with its age at `at`, once per matching dim row. */
  private def ratingHistory(players: DataFrame, ratings: DataFrame,
      at: LocalDate): DataFrame =
    ratings.join(players.select(col("Id").as("playerId"),
        MLCapabilities.ageAt(col("birthDate"),
          lit(java.sql.Date.valueOf(at))).as("age")), Seq("playerId"))
      .select(col("age"), col("rating"))

  /** The model outputs of the served snapshot `players`, `ratings`,
    * `profiles`, fitted at [[ReferenceDate]] on the first call for that
    * snapshot and parked as a [[StandingState.ServedModels]] table. */
  def of(spark: SparkSession, players: DataFrame, ratings: DataFrame,
      profiles: DataFrame): DataFrame =
    spark.read.schema(Schema).parquet(
      StandingState.dir(StandingState.ServedModels,
          key(players, ratings, profiles)) { out =>
        fit(players, ratings, profiles,
          ratingHistory(players, ratings, ReferenceDate), ReferenceDate)
          .coalesce(1).write.parquet(out)
      })

  /** What identifies the served snapshot of [[of]]: its `players`,
    * `ratings` and `profiles` ([[StandingState.tablesKey]]). */
  private[fpl] def key(players: DataFrame, ratings: DataFrame,
      profiles: DataFrame): String =
    StandingState.tablesKey(players, ratings, profiles)

  /** Forget and delete the parked outputs of the snapshot `key`, if
    * there are any; the next [[of]] for it refits. */
  private[fpl] def drop(key: String): Unit =
    StandingState.drop(StandingState.ServedModels, key)
}
