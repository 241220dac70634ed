package graft.operators

import graft.SparkSpec
import graft.operators.Segments.Commit

/** The epoch-manifest as-of reader over tiny segments. */
class SegmentsSpec extends SparkSpec {
  import spark.implicits._

  private def segment(dir: String, name: String, ids: Long*): String = {
    val path = s"$dir/$name"
    ids.toDF("vec_id").write.parquet(path)
    path
  }

  test("as-of reads: appends union the prefix, a higher quantizer " +
      "version replaces, earlier epochs keep the old rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seg").toString
    val manifest = s"$dir/manifest"
    Segments.writeManifest(spark, manifest, Seq(
      Commit(1, segment(dir, "base", 1L, 2L), "cells"),
      Commit(1, segment(dir, "stats", 99L), "stats"),
      Commit(2, segment(dir, "delta", 3L), "cells"),
      Commit(3, segment(dir, "retrained", 11L, 12L, 13L), "cells", qver = 2)))
    def cellsAt(epoch: Int): Seq[Long] =
      Segments.readAsOf(spark, Segments.commits(spark, manifest, Some(epoch)),
        epoch, "cells").as[Long].collect().toSeq.sorted

    assert(cellsAt(1) == Seq(1L, 2L))
    assert(cellsAt(2) == Seq(1L, 2L, 3L), "an append unions the prefix")
    assert(cellsAt(3) == Seq(11L, 12L, 13L),
      "the qver-2 commit supersedes the earlier cells rows")
    // the replacing commit is in the manifest, yet epoch 2 still reads
    // the segments it listed
    assert(Segments.commits(spark, manifest).size == 4)
    assert(cellsAt(2) == Seq(1L, 2L, 3L))
  }

  test("as-of selection keeps lifecycles apart and commit order") {
    val m = Seq(
      Commit(1, "lex-base", "postings", lifecycle = "lex"),
      Commit(1, "ann-base", "cells", lifecycle = "ann"),
      Commit(2, "lex-delta", "postings", lifecycle = "lex"),
      Commit(2, "ann-delta", "cells", lifecycle = "ann"))
    assert(Segments.asOf(m, 2, "postings", "lex") == Seq("lex-base", "lex-delta"))
    assert(Segments.asOf(m, 1, "cells", "ann") == Seq("ann-base"))
  }
}
