package graft.fpl

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.feature.{PolynomialExpansion, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spec-mandated ML capabilities the reference never shipped
  * (docs/Specs.pdf pp.7-8; SURVEY §2.8): KMeans(k=5) clustering of
  * player profiles for cold-start fallback, and quadratic regression of
  * rating vs age with the "retired below 0.2" rule.
  */
object MLCapabilities {

  /** Cluster player profiles (k=5). Input: the profiles serving table.
    * Returns (playerId, cluster). Players with < minMatches matches are
    * the intended *consumers* of the fallback (their cluster centroid's
    * mean rating/chemistry substitutes for their own history). */
  def clusterProfiles(profiles: DataFrame, k: Int = 5, seed: Long = 42L,
      maxIter: Int = 8): DataFrame =
    clusterProfilesWithCost(profiles, k, seed, maxIter)._1

  /** As [[clusterProfiles]], but also surfaces the fitted model's WCSS
    * (`summary.trainingCost`) so contract queries can gate convergence
    * (WCSS ≤ total sum of squares around the global centroid — the
    * variance-decomposition bound any correct k-means fit satisfies)
    * instead of just row counts. */
  def clusterProfilesWithCost(profiles: DataFrame, k: Int = 5,
      seed: Long = 42L, maxIter: Int = 8): (DataFrame, Double) = {
    val features = new VectorAssembler()
      .setInputCols(featureCols)
      .setOutputCol("features")
    // k-means|| init kept: with tiny well-separated clusters (the unit
    // fixture) random init can collapse two centroids onto one cluster;
    // the init passes are what guarantee the k distinct modes are found.
    // A 1e-3 tol suffices for a k=5 profile clustering — every saved
    // Lloyd iteration is a full distributed job.
    val km = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setTol(1e-3)
      .setFeaturesCol("features").setPredictionCol("cluster")
    val model = new Pipeline().setStages(Array(features, km))
      .fit(profiles)
    val wcss = model.stages(1).asInstanceOf[KMeansModel]
      .summary.trainingCost
    (model.transform(profiles).select(col("playerId"), col("cluster")),
      wcss)
  }

  /** The profile feature columns the clustering trains on — exposed so
    * contract queries compute their total-sum-of-squares bound over the
    * exact same space. */
  val featureCols: Array[String] =
    Array("fouls", "goals", "own_goals", "pass_accuracy", "shots_on_target")

  /** Fallback rating for sparse players (< minMatches): mean final
    * rating of the player's profile cluster. */
  def fallbackRatings(profiles: DataFrame, finalRatings: DataFrame,
      minMatches: Long = 5L, k: Int = 5): DataFrame = {
    val clustered = clusterProfiles(profiles, k)
      .join(profiles.select(col("playerId"), col("matches_played")),
        Seq("playerId"))
      .join(finalRatings, Seq("playerId"), "left_outer")
    val clusterMeans = clustered
      .filter(col("matches_played") >= minMatches)
      .groupBy(col("cluster"))
      .agg(avg(col("rating")).as("cluster_rating"))
    clustered
      .join(broadcast(clusterMeans), Seq("cluster"), "left_outer")
      .select(col("playerId"), col("cluster"),
        when(col("matches_played") < minMatches,
          coalesce(col("cluster_rating"), lit(0.5)))
          .otherwise(col("rating")).as("effective_rating"))
  }

  /** Quadratic regression of rating vs age: fits
    * rating ~ β₀ + β₁·age + β₂·age² (LinearRegression over a
    * PolynomialExpansion(degree=2)). Returns the fitted model wrapped
    * in a scorer: (playerId, age) → predicted rating + retired flag
    * (< 0.2 ⇒ "player retired", Specs p.8). */
  def ratingVsAge(ratingsWithAge: DataFrame): DataFrame => DataFrame = {
    val assembler = new VectorAssembler()
      .setInputCols(Array("age")).setOutputCol("rawFeatures")
    val poly = new PolynomialExpansion()
      .setInputCol("rawFeatures").setOutputCol("features").setDegree(2)
    val lr = new LinearRegression()
      .setFeaturesCol("features").setLabelCol("rating")
      .setPredictionCol("predicted_rating")
    val model = new Pipeline().setStages(Array(assembler, poly, lr))
      .fit(ratingsWithAge)
    (in: DataFrame) =>
      model.transform(in)
        .withColumn("retired", col("predicted_rating") < 0.2)
        .drop("rawFeatures", "features")
  }

  /** Age in (fractional) years at a reference date. */
  def ageAt(birthDate: org.apache.spark.sql.Column,
      at: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    datediff(at, birthDate).cast("double") / 365.25
}
