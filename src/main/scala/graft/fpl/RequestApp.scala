package graft.fpl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField,
  StructType}

/** Request/response dispatch (reference ui.py:20-25 + run.sh:5): a
  * request JSON document, parsed on the driver → typed dispatch on
  * req_type (default 3) → response frame, written as the response JSON
  * file.
  *
  *   req_type 1: win prediction  → predict_result.json
  *   req_type 2: player profile  → player_result.json
  *   req_type 3 (or absent): match info → match_details.json
  *
  * Every request is answered on the driver from the [[ServedSnapshot]]
  * of its tables, and its response is a local frame, so the response
  * collect is its only Spark job once the snapshot parts it reads are
  * collected. That pays off for a process that answers many requests
  * from one table set: the first request of each type collects its
  * parts from whole tables (the first dated win also fits the k-means
  * and the age regression, [[ServedModels]]). A process that answers a
  * single request (as [[main]] does) gains nothing and pays more than a
  * key-filtered request did, most for a win, which collects every
  * chemistry row (cold, on the season benchmark's tables: a win ~2.4 →
  * ~3.8 s, the other types within ~10%). Jobs per request, `handle`
  * plus the response collect, on the season benchmark (traced
  * `serve_mix`, seed 311), after each type's first: 1 for each type,
  * against win 4 (the reference: ~44), profile 2, match info 7 and
  * dated win 4 from per-request key lookups. The snapshot holds
  * O(chemistry pairs) rows: ~79k there, at most 650·649 for a full
  * season. A request missing a field its type needs, or a win whose
  * `date` is not a `yyyy-MM-dd` date, fails with an
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

  private val StatusSchema = StructType(Seq(StructField("status", StringType)))
  private val WinSchema = {
    val side = StructType(Seq(StructField("name", StringType),
      StructField("winning chance", DoubleType, nullable = false)))
    StructType(Seq(StructField("team1", side, nullable = false),
      StructField("team2", side, nullable = false)))
  }

  /** Parse the request, dispatch, and return (responseFileName,
    * responseDF). The response frame is written as a single JSON
    * document, matching the reference's response files. */
  def handle(spark: SparkSession, requestJson: String,
      players: DataFrame, teams: DataFrame, chemistrySym: DataFrame,
      ratings: DataFrame, profiles: DataFrame, matches: DataFrame)
      : (String, DataFrame) = {
    val req = new Request(mapper.readTree(requestJson))
    def local(schema: StructType, row: Row) =
      spark.createDataFrame(java.util.List.of(row), schema)
    def status(s: String) = local(StatusSchema, Row(s))
    def snapshot = ServedSnapshot.of(spark, players, teams, chemistrySym,
      ratings, profiles, matches)

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
            snapshot.datedWin(team1, team2).toOption
          else snapshot.win(team1, team2)
        val out = result match {
          case None => status("Invalid Team")
          case Some(Seq(t1, t2)) =>
            local(WinSchema, Row(Row(t1.team, t1.winningChance),
              Row(t2.team, t2.winningChance)))
        }
        ("predict_result.json", out)
      case 2L =>
        val name = req("name")
        ("player_result.json", snapshot.profile(name))
      case _ =>
        val (date, label) = (req("date"), req("label"))
        ("match_details.json", snapshot.matchInfo(date, label)
          .getOrElse(status("Not Found")))
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
    // the tuned session pins the UTC zone
    val spark = GraftSession.tuned(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false"))
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
