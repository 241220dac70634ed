package graft.fpl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Request/response dispatch (reference ui.py:20-25 + run.sh:5): a
  * request JSON document, parsed on the driver → typed dispatch on
  * req_type (default 3) → response frame, written as the response JSON
  * file.
  *
  *   req_type 1: win prediction  → predict_result.json
  *   req_type 2: player profile  → player_result.json
  *   req_type 3 (or absent): match info → match_details.json
  *
  * Each request runs only the Spark jobs its answer needs (see
  * [[Serving]]); match info evaluates its plan once and answers with
  * the collected rows. Jobs per request, `handle` plus the response
  * collect, recorded on the season benchmark (traced `serve_mix`, seed
  * 311): win 4 (the reference: ~44), profile 2, match info 7, dated
  * win 4. The first dated win of a served snapshot also fits the
  * k-means and the age regression ([[ServedModels]]); later ones read
  * the fitted outputs. A request missing a field its type needs, or a
  * win whose `date` is not a `yyyy-MM-dd` date, fails with an
  * `IllegalArgumentException` naming the field.
  */
object RequestApp {

  private val mapper = new ObjectMapper()

  /** A parsed request document; fields are dotted paths. */
  private final class Request(root: JsonNode) {
    def opt(path: String): Option[String] =
      Option(path.split('.').foldLeft(root)((n, k) =>
          if (n == null) null else n.get(k)))
        .filterNot(_.isNull).map(_.asText)
    def apply(path: String): String = opt(path).getOrElse(
      throw new IllegalArgumentException(
        s"request is missing field '$path'"))
    def reqType: Long = Option(root.get("req_type")).filterNot(_.isNull)
      .fold(3L) { n =>
        if (n.canConvertToExactIntegral) n.asLong
        else throw new IllegalArgumentException(
          s"request field 'req_type' is not an integer: $n")
      }
    def team(key: String): Serving.TeamRequest = Serving.TeamRequest(
      apply(s"$key.name"), (1 to 11).map(i => apply(s"$key.player$i")))
  }

  /** Parse the request, dispatch, and return (responseFileName,
    * responseDF). The response frame is written as a single JSON
    * document, matching the reference's response files. */
  def handle(spark: SparkSession, requestJson: String,
      players: DataFrame, teams: DataFrame, chemistrySym: DataFrame,
      ratings: DataFrame, profiles: DataFrame, matches: DataFrame)
      : (String, DataFrame) = {
    import spark.implicits._
    val req = new Request(mapper.readTree(requestJson))

    req.reqType match {
      case 1L =>
        val (team1, team2) = (req.team("team1"), req.team("team2"))
        val date = req.opt("date").map(Serving.requestDate)
        // full §2.8 model flow when the request carries a date and the
        // dims carry birthDate: fallback ratings + age model + retired,
        // answered from the snapshot's models (the answer does not
        // depend on the date, see ServedModels)
        val result =
          if (date.nonEmpty && players.columns.contains("birthDate") &&
              profiles.columns.contains("matches_played"))
            Serving.winPredictionServed(players, chemistrySym,
              ServedModels.of(spark, players, ratings, profiles),
              team1, team2).toOption
          else Serving.winPrediction(spark, players, chemistrySym,
            ratings, team1, team2)
        val out = result match {
          case None => Seq("Invalid Team").toDF("status")
          case Some(Seq(t1, t2)) =>
            Seq((t1.team, t1.winningChance, t2.team, t2.winningChance))
              .toDF("t1name", "t1chance", "t2name", "t2chance")
              .select(
                struct($"t1name".as("name"),
                  $"t1chance".as("winning chance")).as("team1"),
                struct($"t2name".as("name"),
                  $"t2chance".as("winning chance")).as("team2"))
        }
        ("predict_result.json", out)
      case 2L =>
        ("player_result.json",
          Serving.playerProfile(players, profiles, req("name")))
      case _ =>
        // one evaluation of the match plan; the response is its rows
        val out = Serving.matchInfo(matches, players, teams, req("date"),
          req("label"))
        val rows = out.collect()
        val res =
          if (rows.isEmpty) Seq("Not Found").toDF("status")
          else spark.createDataFrame(rows.toSeq.asJava, out.schema)
        ("match_details.json", res)
    }
  }

  /** CLI main mirroring `spark-submit ui.py <request.json>`: reads the
    * request file and the persisted state tables from --state-dir,
    * writes the response JSON next to the request. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RequestApp <request.json> <stateDir> [outDir]")
    val Array(reqPath, stateDir) = args.take(2)
    val outDir = if (args.length > 2) args(2) else "."
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val requestJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(reqPath)), "UTF-8")
    def t(n: String): DataFrame = spark.read.parquet(s"$stateDir/$n")
    val (fileName, out) = handle(spark, requestJson,
      t("players"), t("teams"), t("chemistry_sym"), t("ratings"),
      t("profiles"), t("matches"))
    val json = out.toJSON.collect().mkString("[", ",", "]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/$fileName"),
      json.getBytes("UTF-8"))
    println(s"wrote $outDir/$fileName")
    spark.stop()
  }
}
