package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Print the formatted physical plans of registry queries (plan-audit
  * companion to [[Prof]]: Prof times, Explain shows why).
  *
  * Building a registry query can already run jobs: a lifecycle body
  * writes its segments inside `withTempTable`, checkpoints, and collects
  * probed-cell sets or manifests. A [[QueryExecutionListener]]
  * registered for the run records each of those executions, and they
  * are printed in the order they ran, followed by the returned frame's
  * plan. Diffing two trees' output (after normalizing `#<exprId>`, RDD
  * ids and temp-dir names) shows whether a change altered any plan a
  * query executes.
  *
  * Usage: sbt "runMain graft.Explain [dataDir] query [query…]"
  */
object Explain {

  /** Records every execution that ends while registered. Listener
    * events arrive on Spark's listener bus, asynchronously and in
    * order. */
  private final class Recorder extends QueryExecutionListener {
    val seen = new java.util.concurrent.LinkedBlockingQueue[
      (String, QueryExecution)]()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = seen.put((funcName, qe))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = seen.put((s"$funcName (failed)", qe))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.tuned(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (d, names) =
      if (args.nonEmpty && args.head.startsWith("/"))
        (args.head, args.tail)
      else ("/root/testdata/sf0.1", args)
    val recorder = new Recorder
    spark.listenerManager.register(recorder)
    for (name <- names) {
      println(s"== $name ==")
      val df = Registry.queryMap(name)(spark, d)
      // the listener bus is FIFO: once the marker's event arrives,
      // every execution the query started has been recorded
      val marker = spark.range(1)
      marker.collect()
      Iterator.continually(recorder.seen.take())
        .takeWhile(_._2 ne marker.queryExecution).zipWithIndex
        .foreach { case ((func, qe), i) =>
          println(s"-- executed ${i + 1}: $func --")
          println(qe.explainString(ExplainMode.fromString("formatted")))
        }
      println("-- returned --")
      df.explain("formatted")
    }
    spark.stop()
  }
}
