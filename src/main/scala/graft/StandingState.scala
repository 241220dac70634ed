package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame

/** Per-JVM standing state: the derived tables that analysis sessions
  * reuse instead of re-deriving (persisted index segments, the graph
  * edge table, the containment postings, the bucketed copies, the
  * served snapshot's fitted models), plus the parked results of
  * [[GQuery.withTempTable]], plus the in-memory served snapshots
  * (`graft.fpl.ServedSnapshot`).
  *
  * Everything lives under ONE lazily created temp root, removed by one
  * shutdown hook at JVM exit. A derived table is parked once per
  * `(kind, sf dir, params)` key and every later lookup returns the same
  * directory, so only the first query of a session pays the build.
  * Every derivation is a pure function of the sf dir's raw tables and
  * every gate's oracle re-derives its answer from those raw tables, so
  * a wrong or stale directory breaks a hash gate immediately. The
  * served models are keyed on their tables' identity instead of an sf
  * dir ([[tablesKey]], see `graft.fpl.ServedModels`).
  *
  * An in-memory value ([[held]]) is kept per `(kind, key)` too, but at
  * most [[HeldPerKind]] of a kind: holding one more drops the least
  * recently used one and calls its [[Held.release]].
  *
  * A pricing harness (ScaleSweep) that wants to time a BUILD calls
  * [[reset]] for that kind first: the kind's directories and values
  * are forgotten AND deleted, so a rounds=N sweep never accumulates
  * N+1 copies. Lookups, builds and resets hold one lock, this object's
  * monitor.
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
  /** `graft.fpl.ServedModels` retired flags + fallback ratings of one
    * served snapshot, and the in-memory `graft.fpl.ServedSnapshot`s. */
  case object ServedModels extends Kind("graft-served-models")

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft-standing")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    p
  }

  private val parked =
    scala.collection.mutable.Map.empty[(Kind, String, String), String]

  /** An in-memory standing value; [[release]] runs when it is dropped. */
  trait Held { def release(): Unit }

  /** The in-memory values kept per kind: the most recent table set or
    * two, so a long-lived process that reopens its tables holds a
    * bounded number. */
  val HeldPerKind = 2

  /** The held values, least recently used first. */
  private val values =
    scala.collection.mutable.LinkedHashMap.empty[(Kind, String), Held]

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

  /** Forget and delete the parked directory of `(kind, sfDir, params)`,
    * if there is one; the next lookup rebuilds it. */
  def drop(kind: Kind, sfDir: String, params: String = ""): Unit =
    synchronized {
      parked.remove((kind, sfDir, params)).foreach(d => deleteTree(Paths.get(d)))
    }

  /** The held value of `(kind, key)`, now the most recently used one.
    * The first lookup runs `build`; a build that throws holds nothing.
    * Past [[HeldPerKind]] values of `kind`, the least recently used one
    * is dropped and released. */
  def held[T <: Held](kind: Kind, key: String)(build: => T): T =
    synchronized {
      val v = values.remove((kind, key)).getOrElse(build)
      values((kind, key)) = v
      values.keys.filter(_._1 == kind).toList.dropRight(HeldPerKind)
        .foreach(k => values.remove(k).foreach(_.release()))
      v.asInstanceOf[T]
    }

  /** The held values of `kind`, least recently used first. */
  def heldOf(kind: Kind): Seq[Held] = synchronized {
    values.collect { case ((`kind`, _), v) => v }.toSeq
  }

  /** What identifies a set of served frames for a memo: each frame's
    * input files (Spark names every written file afresh, so a rewrite
    * and reopen changes them) and its plan's semantic hash, which tells
    * apart frames with no files (an in-memory relation hashes its
    * rows). */
  def tablesKey(frames: DataFrame*): String =
    frames.map(f => f.inputFiles.sorted.mkString(",") + "#" + f.semanticHash())
      .mkString("\n")

  /** Forget and delete every parked directory and release every held
    * value of `kind`; the next lookup rebuilds into a fresh directory.
    * Other kinds are kept. */
  def reset(kind: Kind): Unit = synchronized {
    values.keys.filter(_._1 == kind).toList
      .foreach(k => values.remove(k).foreach(_.release()))
    parked.keys.filter(_._1 == kind).toList.foreach { k =>
      parked.remove(k).foreach(d => deleteTree(Paths.get(d)))
    }
  }
}
