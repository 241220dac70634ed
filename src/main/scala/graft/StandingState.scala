package graft

import java.nio.file.{Files, Path, Paths}

/** Per-JVM standing state: the derived tables that analysis sessions
  * reuse instead of re-deriving (persisted index segments, the graph
  * edge table, the containment postings, the bucketed copies), plus
  * the parked results of [[GQuery.withTempTable]].
  *
  * Everything lives under ONE lazily created temp root, removed by one
  * shutdown hook at JVM exit. A derived table is parked once per
  * `(kind, sf dir, params)` key and every later lookup returns the same
  * directory, so only the first query of a session pays the build.
  * Every derivation is a pure function of the sf dir's raw tables and
  * every gate's oracle re-derives its answer from those raw tables, so
  * a wrong or stale directory breaks a hash gate immediately.
  *
  * A pricing harness (ScaleSweep) that wants to time a BUILD calls
  * [[reset]] for that kind first: the kind's directories are forgotten
  * AND deleted, so a rounds=N sweep never accumulates N+1 copies.
  * Lookups, builds and resets hold one lock.
  */
object StandingState {

  /** What a parked directory holds; the unit of [[reset]]. A kind's
    * directories sit under `root/group/`, so a plan's scan paths still
    * name the lifecycle they read (PlanAuditSpec pins them). */
  sealed abstract class Kind(val group: String)
  /** `IndexOps` postings + dict + stats segment. */
  case object Postings extends Kind("graft-text-index")
  /** `IndexOps` base/delta postings split. */
  case object PostingsSplit extends Kind("graft-text-index")
  /** `IndexOps` distinct trigram postings. */
  case object Trigrams extends Kind("graft-text-index")
  /** `IndexOps` base/delta trigram split. */
  case object TrigramsSplit extends Kind("graft-text-index")
  /** `AnnIndex` centroids + codebooks + cells segment. */
  case object Ann extends Kind("graft-ann-index")
  /** `AnnIndex` base-trained base/delta cells split. */
  case object AnnSplit extends Kind("graft-ann-index")
  /** `GraphOps` co-purchase edge table. */
  case object Edges extends Kind("graft-graph-edges")
  /** `GraphOps` graph-IVM base state. */
  case object GraphIvm extends Kind("graft-graph-edges")
  /** `Pipeline` containment shingle postings (keyed by dfCap too). */
  case object Containment extends Kind("graft-bucket-std")
  /** `Pipeline` bucketed catalog-table files. */
  case object Bucketed extends Kind("graft-bucket-std")

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft-standing")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    p
  }

  private val parked =
    scala.collection.mutable.Map.empty[(Kind, String, String), String]

  /** Recursive delete, children before parents; a missing path is a
    * no-op. */
  def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
  }

  /** A fresh, not yet existing path under the root, not memoized. */
  def freshDir(group: String): String =
    root.resolve(group).resolve(java.util.UUID.randomUUID().toString)
      .toString

  /** The parked directory of `(kind, sfDir, params)`. The first lookup
    * runs `build` on a fresh path (which does not exist yet, so a
    * build may write a parquet table straight to it); a build that
    * throws leaves nothing parked and nothing on disk. */
  def dir(kind: Kind, sfDir: String, params: String = "")
      (build: String => Unit): String = synchronized {
    parked.getOrElse((kind, sfDir, params), {
      val out = freshDir(kind.group)
      try build(out)
      catch { case e: Throwable => deleteTree(Paths.get(out)); throw e }
      parked((kind, sfDir, params)) = out
      out
    })
  }

  /** Forget and delete every parked directory of `kind`; the next
    * lookup rebuilds into a fresh directory. Other kinds are kept. */
  def reset(kind: Kind): Unit = synchronized {
    parked.keys.filter(_._1 == kind).toList.foreach { k =>
      parked.remove(k).foreach(d => deleteTree(Paths.get(d)))
    }
  }
}
