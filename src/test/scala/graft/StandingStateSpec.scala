package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import StandingState._

/** The per-JVM standing-state store: one memo per (kind, sf dir,
  * params), and a reset that forgets and deletes exactly one kind.
  * The sf dirs here are tiny fixtures written by the suite itself. */
class StandingStateSpec extends SparkSpec {
  import spark.implicits._

  private def exists(dir: String) = Files.exists(Paths.get(dir))

  /** A build that leaves one marker file and counts its runs. */
  private class Builds {
    var n = 0
    def apply(dir: String): Unit = {
      n += 1
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, "marker"), Array[Byte](1))
    }
  }

  /** An sf dir holding `orders` and `lineitem` with the columns the
    * edge and bucketed-join derivations read. */
  private lazy val sf: String = {
    val d = Files.createTempDirectory("graft-standing-spec").toString
    Seq((1L, "1-URGENT"), (2L, "2-HIGH"), (3L, "1-URGENT"))
      .toDF("o_orderkey", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    Seq((1L, 10L, 1, 1.5), (1L, 20L, 2, 2.25), (1L, 30L, 3, 3.0),
        (2L, 10L, 1, 4.0), (2L, 20L, 2, 5.5), (3L, 30L, 1, 6.0))
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("reset(kind) deletes exactly that kind's directories and keeps " +
      "the other kinds' directories and memo entries") {
    val b = new Builds
    val ivmA = dir(GraphIvm, "spec-a")(b(_))
    val ivmB = dir(GraphIvm, "spec-b")(b(_))
    val cont3 = dir(Containment, "spec-a", "3")(b(_))
    val cont4 = dir(Containment, "spec-a", "4")(b(_))
    val trgm = dir(TrigramsSplit, "spec-a")(b(_))
    assert(b.n == 5)
    assert(Set(ivmA, ivmB, cont3, cont4, trgm).size == 5,
      "params or sf dir did not separate the memo keys")
    reset(GraphIvm)
    assert(!exists(ivmA) && !exists(ivmB), "reset left the kind's dirs")
    assert(exists(cont3) && exists(cont4) && exists(trgm),
      "reset deleted another kind's dirs")
    assert(dir(Containment, "spec-a", "3")(b(_)) == cont3)
    assert(dir(Containment, "spec-a", "4")(b(_)) == cont4)
    assert(dir(TrigramsSplit, "spec-a")(b(_)) == trgm)
    assert(b.n == 5, "a kept memo entry was rebuilt")
    reset(Containment)
    reset(TrigramsSplit)
    assert(!exists(cont3) && !exists(cont4) && !exists(trgm))
  }

  test("the next lookup after a reset rebuilds into a fresh directory; " +
      "a failed build parks nothing") {
    val b = new Builds
    val first = dir(GraphIvm, "spec-fresh")(b(_))
    assert(dir(GraphIvm, "spec-fresh")(b(_)) == first && b.n == 1)
    reset(GraphIvm)
    val second = dir(GraphIvm, "spec-fresh")(b(_))
    assert(b.n == 2 && second != first)
    assert(exists(second) && !exists(first))
    var partial = ""
    intercept[IllegalStateException] {
      dir(GraphIvm, "spec-fail") { d =>
        b(d); partial = d; throw new IllegalStateException("build failed")
      }
    }
    assert(!exists(partial), "a failed build left its directory")
    val retried = dir(GraphIvm, "spec-fail")(b(_))
    assert(b.n == 4 && retried != partial && exists(retried))
    reset(GraphIvm)
  }

  test("held values: at most HeldPerKind per kind, the least recently " +
      "used one released; a failed build holds nothing; reset releases") {
    val released = scala.collection.mutable.Buffer.empty[String]
    class V(k: String) extends Held { def release(): Unit = released += k }
    var builds = 0
    def get(k: String) = held(GraphIvm, s"spec-held-$k") {
      builds += 1; new V(k)
    }
    assert(HeldPerKind == 2)
    val a = get("a")
    get("b")
    assert((get("a") eq a) && builds == 2)
    get("c")
    assert(released == Seq("b") && (get("a") eq a) && builds == 3)
    intercept[IllegalStateException] {
      held(GraphIvm, "spec-held-d")(throw new IllegalStateException("x"))
    }
    assert(released == Seq("b") && builds == 3, "a failed build evicted")
    get("b")
    assert(released == Seq("b", "c") && builds == 4)
    reset(GraphIvm)
    assert(released.toSet == Set("a", "b", "c") && released.size == 4)
    assert(!(get("a") eq a) && builds == 5)
    reset(GraphIvm)
  }

  test("co-purchase edges are deleted on reset and re-derived with the " +
      "same rows") {
    def rows() = operators.GraphOps.coPurchaseEdges(spark, sf)
      .orderBy($"u", $"v").as[(Long, Long, Long)].collect().toSeq
    val files = operators.GraphOps.coPurchaseEdges(spark, sf).inputFiles
    val before = rows()
    // orders 1 and 2 share parts 10 and 20; order 1 adds 30
    assert(before == Seq((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
    reset(Edges)
    assert(files.forall(f => !exists(new java.net.URI(f).getPath)),
      "reset(Edges) left the parked edge files on disk")
    val after = operators.GraphOps.coPurchaseEdges(spark, sf)
    assert(after.inputFiles.toSet.intersect(files.toSet).isEmpty)
    assert(rows() == before)
  }

  test("bucketed_join answers the same after its standing tables are " +
      "reset (stale catalog entries are rewritten, not read)") {
    val q = Registry.queryMap("bucketed_join")
    def run() = q(spark, sf).orderBy($"o_orderpriority")
      .collect().map(_.toSeq).toSeq
    val before = run()
    assert(before.map(_.take(2)) == Seq(Seq("1-URGENT", 4L),
      Seq("2-HIGH", 2L)))
    reset(Bucketed)
    assert(run() == before)
    assert(run() == before)
  }
}
