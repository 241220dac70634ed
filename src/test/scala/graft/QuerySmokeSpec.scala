package graft

/** Every registered query must execute end-to-end at the smallest
  * scale factor — catches a broken query before the driver's
  * correctness gate does, and pins registry/oracle consistency. */
class QuerySmokeSpec extends SparkSpec {

  test("driver entry() returns rows (the driver smoke-checks rows>0)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle entries reference registered queries only") {
    val unknown = Registry.oracleMap.keySet -- Registry.queryMap.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("query names are unique across modules") {
    val names = Registry.all.map(_.name)
    val dup = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dup.isEmpty, s"duplicate query names: $dup")
  }

  test("concurrent query execution is thread-safe") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val sf = "/root/testdata/sf0.001"
    // includes SQL-text queries so the synchronized view registration
    // races are exercised, not just pure-DataFrame plans
    val names = Seq("q1_agg", "f5_topk", "agg_rollup", "sub_exists",
      "j1_join_broadcast", "str_funcs", "w3_distribution", "agg_distinct")
    val expected =
      names.map(n => n -> Registry.queryMap(n)(spark, sf).count()).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to 3).flatMap(_ => names.map(n =>
        Future(n -> Registry.queryMap(n)(spark, sf).count())))
      val res = Await.result(Future.sequence(futs), Duration("180s"))
      res.foreach { case (n, c) =>
        assert(c == expected(n), s"$n: $c != ${expected(n)} under concurrency")
      }
    } finally pool.shutdown()
  }

  /** What one registry query showed: the three plan audits (ScalaUDF or
    * PythonUDF in the optimized plan, CartesianProduct and an
    * UnboundedFollowing frame in the physical plan) and the error its
    * execution threw, if any. */
  private case class Pass(udf: Boolean, cartesian: Boolean,
      unboundedFollowing: Boolean, failure: Option[String])

  /** One pass over the registry at sf0.001, in registry order: each
    * query's frame is built once, its plans are read for the three
    * audits, and then it executes, before the next query is built (a
    * lifecycle query sets up its tables when `fn` runs, and a later
    * query's set-up may reset them). Only the results are kept; a query
    * whose construction or planning throws keeps the error. */
  private lazy val passes: Seq[(String, Either[String, Pass])] = {
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.catalyst.expressions.{ScalaUDF,
      SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
    def error(e: Throwable) = String.valueOf(e).take(160)
    def isUdf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.exists {
        case _: ScalaUDF => true
        case x => x.getClass.getSimpleName.contains("PythonUDF")
      }
    Registry.all.map { q =>
      q.name -> (try {
        val df = q.fn(spark, sf)
        val optimized = df.queryExecution.optimizedPlan
        val physical = df.queryExecution.sparkPlan
        val pass = Pass(
          udf = optimized.expressions.exists(isUdf) ||
            optimized.collect {
              case p if p.expressions.exists(isUdf) => p
            }.nonEmpty,
          cartesian = physical.collect {
            case n if n.getClass.getSimpleName == "CartesianProductExec" => n
          }.nonEmpty,
          unboundedFollowing = physical.collect {
            case n if n.expressions.exists(_.exists {
              case SpecifiedWindowFrame(_, lower, UnboundedFollowing) =>
                lower != UnboundedPreceding
              case _ => false
            }) => n
          }.nonEmpty,
          failure = None)
        Right(try { df.count(); pass } catch {
          case e: Throwable => pass.copy(failure = Some(error(e)))
        })
      } catch { case e: Throwable => Left(error(e)) })
    }
  }

  /** The names of the planned queries for which `audit` holds; fails the
    * calling test first if any query could not be built or planned. */
  private def offending(audit: Pass => Boolean): Seq[String] = {
    val unplanned = passes.collect { case (n, Left(e)) => s"$n: $e" }
    assert(unplanned.isEmpty, s"queries that could not be planned:\n" +
      unplanned.mkString("\n"))
    passes.collect { case (n, Right(p)) if audit(p) => n }
  }

  test("registry-wide: no ScalaUDF/PythonUDF in any query's optimized " +
      "plan (codegen'd expressions only)") {
    // Framework-INTERNAL UDFs, not authored in this repo: MLlib's
    // model.transform prediction column is a ScalaUDF inside Spark
    // itself (the KMeans/regression contract queries are spec-mandated
    // MLlib), and df.stat.sampleBy's per-stratum filter is a Spark
    // ScalaUDF. Everything the ENGINE authors must be codegen'd
    // expressions; any new name appearing here is a regression.
    val frameworkUdfQueries = Set(
      "ml_kmeans_contract", "ml_quadfit_contract", "sample_stratified")
    val offenders = offending(_.udf).filterNot(frameworkUdfQueries)
    assert(offenders.isEmpty,
      s"queries carrying UDFs in the hot path: $offenders")
  }

  test("registry-wide: no CartesianProduct in any query's physical " +
      "plan (1-row assemblies must broadcast)") {
    // deliberate cross joins in the registry are 1-row contract /
    // bounds assemblies — they must plan as BroadcastNestedLoopJoin,
    // never CartesianProductExec (which shuffles BOTH sides N×M and
    // is the canonical 100 TB plan disaster)
    val offenders = offending(_.cartesian)
    assert(offenders.isEmpty,
      s"queries planning a cartesian product: $offenders")
  }

  test("registry-wide: no UnboundedFollowing window frame in any " +
      "query's physical plan (O(n²) per key — use a reversed running " +
      "frame)") {
    // Spark's UnboundedFollowingWindowFunctionFrame re-aggregates the
    // ENTIRE remaining frame for every row: O(n²) per partition key.
    // resample_interp's first spelling sat single-threaded >20 min at
    // sf0.1 in exactly that frame (docs/PERF.md rescue #3); the O(n)
    // spelling of any "nearest following" carry is a running frame
    // over the REVERSED ordering. NB the whole-partition frame
    // (UNBOUNDED PRECEDING → UNBOUNDED FOLLOWING, what an
    // orderBy-less window plans as) is FINE — Spark evaluates it once
    // per partition (UnboundedWindowFunctionFrame, O(n)); only a
    // frame whose LOWER bound varies while the upper end is the
    // partition end pays the per-row rescan. This audit makes the
    // lesson structural: any query that reintroduces the frame fails
    // here with a name, not in a wedged benchmark.
    val offenders = offending(_.unboundedFollowing)
    assert(offenders.isEmpty,
      s"queries planning an UnboundedFollowing window frame: $offenders")
  }

  test("every registered query executes at sf0.001") {
    val failures = passes.flatMap {
      case (n, Left(e)) => Some(n -> e)
      case (n, Right(p)) => p.failure.map(n -> _)
    }
    assert(failures.isEmpty,
      failures.map { case (n, m) => s"$n: $m" }.mkString("\n"))
  }
}
