package graft.fpl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** The model outputs a dated win prediction needs (docs/Specs.pdf
  * pp.7-8), fitted once per served snapshot instead of per request:
  * [[ServedSnapshot]] collects this frame, fitted at [[ReferenceDate]],
  * on its first dated win and holds the rows with its other parts.
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

  private val Columns = Seq("playerId", "birthDate", "retired",
    "effective_rating")

  /** The date a served snapshot's ages are taken at. */
  private[fpl] val ReferenceDate: LocalDate = LocalDate.of(2000, 1, 1)

  /** The model outputs for `players` (name, Id, birthDate), `ratings`
    * (playerId, rating) and `profiles` (ServingTables.profiles), with the
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
    retired.union(fallback).toDF(Columns: _*)
  }

  /** The training rows of the rating-vs-age model: each rated player's
    * rating with its age at `at`, once per matching dim row. */
  private[fpl] def ratingHistory(players: DataFrame, ratings: DataFrame,
      at: LocalDate): DataFrame =
    ratings.join(players.select(col("Id").as("playerId"),
        MLCapabilities.ageAt(col("birthDate"),
          lit(java.sql.Date.valueOf(at))).as("age")), Seq("playerId"))
      .select(col("age"), col("rating"))
}
