package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query in the engine's declared surface.
  *
  * @param name   stable key, also the output dir name in Verify
  * @param fn     (session, sfDir) => result frame
  * @param oracle equivalent DuckDB SQL over the same parquet tables;
  *               None → the driver records a weaker rows-only check
  */
case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GQuery {

  /** Table-lifecycle query harness: run `body` against a fresh temp
    * dir, persist its result OFF the temp dir, and ALWAYS delete the
    * dir — harnesses execute each query several times (warm-up +
    * timed rounds), so a leaked lifecycle dir per execution would
    * accumulate unboundedly in the temp filesystem. The whole body
    * runs INSIDE the try: a failure during table SETUP (base/delta/
    * stream writes) cleans up too, not just a failure during the
    * read-back.
    *
    * The result is written as ONE parquet file and read back lazily:
    * a single file preserves the body's output order exactly, and no
    * result row ever lands on the driver (executor-side write +
    * re-scan, O(1) driver memory at any SF). The result is parked
    * under the [[StandingState]] root, which is removed once at JVM
    * exit: repeated executions leak at most one result file each for
    * the life of the process, never a lifecycle table. */
  def withTempTable(s: SparkSession, prefix: String)
      (body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      val rows = body(dir)
      val out = StandingState.freshDir("graft-results")
      rows.coalesce(1).write.parquet(out)
      s.read.parquet(out)
    } finally StandingState.deleteTree(java.nio.file.Paths.get(dir))
  }
}
