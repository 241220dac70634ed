package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StandingState

/** The segment lifecycle of the three persisted indexes — postings (with
  * their 1-row stats header), trigrams and ANN cells. Every lifecycle
  * decision is made here once:
  *  - the id-disjoint base/delta split ([[Split]]): every row lives in
  *    exactly one segment, so a merged index is a plain union and its
  *    postings stats headers add;
  *  - the per-kind segment write ([[DocIndex.write]], [[Cells.write]]);
  *  - the merged read ([[read]], [[Kind.rows]], [[Postings.header]]);
  *  - tombstones: parked ([[parkTombstones]]), masked ([[mask]],
  *    [[liveProbed]]) and subtracted from the BM25 header
  *    ([[correctedStats]]);
  *  - compaction ([[DocIndex.compact]], [[Cells.compact]]);
  *  - the warm split store ([[Kind.splitStore]]);
  *  - the epoch-manifest as-of reader ([[asOf]]).
  *
  * Registry bodies that price a lifecycle leg compose these. Where two
  * bodies lay a segment out differently on purpose (a whole-cycle
  * compaction prices an unranged base, a merged probe a ranged one), the
  * caller passes the [[Layout]].
  */
object Segments {

  // ---------------------------------------------------------- split

  /** An id-disjoint split: rows with `idCol % modulus == residue` are
    * the delta, the rest the base. */
  final case class Split(idCol: String, modulus: Long, residue: Long) {
    def base(df: DataFrame): DataFrame =
      df.filter(col(idCol) % modulus =!= residue)
    def delta(df: DataFrame): DataFrame =
      df.filter(col(idCol) % modulus === residue)
  }

  /** The refresh batches: 10% of the documents and of the vectors. */
  val DocRefresh = Split("doc_id", 10L, 0L)
  val VecRefresh = Split("vec_id", 10L, 7L)

  /** The takedown batches (~6%): `delta` rows are the tombstoned ones,
    * `base` rows the live ones. */
  val DocTakedown = Split("doc_id", 17L, 3L)
  val VecTakedown = Split("vec_id", 17L, 3L)

  // ----------------------------------------------------------- kinds

  /** How a doc-keyed segment is laid out on disk. */
  sealed trait Layout
  /** The derivation's own partitions. */
  case object AsDerived extends Layout
  /** Range-partitioned on (key, doc_id) and sorted within files: a
    * key-equality probe prunes row groups on parquet min/max stats, and
    * a hot key (a stopword, a common trigram) spans partitions instead
    * of pinning one, which hash-by-key would. */
  case object Ranged extends Layout
  /** [[Ranged]] behind a localCheckpoint: the range-boundary sampling
    * job would otherwise re-run the derivation a second time. */
  case object CheckpointedRanged extends Layout

  /** One index kind. Its segments are `<dir>/<part>_<name>` for the parts
    * base, delta and compacted. */
  sealed abstract class Kind(name: String, store: StandingState.Kind) {
    def base(dir: String): String = s"$dir/base_$name"
    def delta(dir: String): String = s"$dir/delta_$name"
    def compacted(dir: String): String = s"$dir/compacted_$name"

    /** The merged rows of a base and a delta segment: their union. */
    def rows(s: SparkSession, baseDir: String, deltaDir: String): DataFrame =
      read(s, base(baseDir), delta(deltaDir))
    def rows(s: SparkSession, dir: String): DataFrame = rows(s, dir, dir)

    /** Writes the sf dir's base and delta segments into `out`. */
    protected def buildSplit(s: SparkSession, d: String, out: String): Unit

    /** The warm split store: the sf dir's base and delta segments,
      * derived once per (JVM, sf dir) in [[graft.StandingState]]. The
      * refresh- and compaction-leg bodies read it, so the timed body
      * prices its own leg alone; whole-cycle bodies re-derive their
      * segments. */
    def splitStore(s: SparkSession, d: String): String =
      StandingState.dir(store, d)(buildSplit(s, d, _))
  }

  /** A doc-keyed index: segments of `(key, doc_id, …)` rows derived
    * from `(doc_id, text)` documents. `storeDelta` is the layout of the
    * split store's delta segment. */
  sealed abstract class DocIndex(name: String, val key: String,
      store: StandingState.Kind, storeDelta: Layout)
      extends Kind(name, store) {
    def derive(docs: DataFrame): DataFrame
    /** The tombstone row of a deleted document. */
    def tombstoneCols: Seq[Column]

    def write(rows: DataFrame, out: String, layout: Layout): Unit =
      layout match {
        case AsDerived => rows.write.parquet(out)
        case Ranged => write(rows.repartitionByRange(col(key), col("doc_id"))
          .sortWithinPartitions(key, "doc_id"), out, AsDerived)
        case CheckpointedRanged => write(rows.localCheckpoint(), out, Ranged)
      }

    /** Derives `docs`' segment and writes it as part `part` of `dir`. */
    def writePart(docs: DataFrame, dir: String, part: String,
        layout: Layout): Unit =
      write(derive(docs), s"$dir/${part}_$name", layout)

    /** Base and delta segments of `docs` under `dir`. */
    def writeSplit(docs: DataFrame, dir: String, baseLayout: Layout,
        deltaLayout: Layout): Unit = {
      writePart(DocRefresh.base(docs), dir, "base", baseLayout)
      writePart(DocRefresh.delta(docs), dir, "delta", deltaLayout)
    }

    protected def buildSplit(s: SparkSession, d: String, out: String): Unit =
      writeSplit(graft.Tables.spread(graft.Tables.documents(s, d)), out,
        CheckpointedRanged, storeDelta)

    /** Compaction (merge-with-deletes): the live rows of `segDir`'s base
      * ∪ delta rewritten as one ranged segment under `dir`, so a later
      * probe reads it without an anti-join. */
    def compact(s: SparkSession, segDir: String, tomb: DataFrame,
        dir: String): Unit =
      write(mask(rows(s, segDir), tomb), compacted(dir), Ranged)
  }

  /** Postings `(term, doc_id, tf, dl)`; each part carries its stats
    * header `(n_docs, sum_dl)` as `<dir>/<part>_stats`. */
  object Postings extends DocIndex("postings", "term",
      StandingState.PostingsSplit, AsDerived) {
    def derive(docs: DataFrame): DataFrame = IndexOps.postingsOf(docs)
    def tombstoneCols: Seq[Column] = Seq(col("doc_id"),
      size(IndexOps.toks(col("text"))).cast("long").as("dl"))

    override def writePart(docs: DataFrame, dir: String, part: String,
        layout: Layout): Unit = {
      super.writePart(docs, dir, part, layout)
      IndexOps.statsOf(docs).write.parquet(s"$dir/${part}_stats")
    }

    /** The merged stats header of a base and a delta segment. */
    def header(s: SparkSession, baseDir: String, deltaDir: String)
        : DataFrame =
      mergedStats(read(s, s"$baseDir/base_stats", s"$deltaDir/delta_stats"))
    def header(s: SparkSession, dir: String): DataFrame = header(s, dir, dir)

    /** Also writes the merged header, corrected for the tombstones, as
      * `<dir>/compacted_stats`. */
    override def compact(s: SparkSession, segDir: String, tomb: DataFrame,
        dir: String): Unit = {
      super.compact(s, segDir, tomb, dir)
      correctedStats(header(s, segDir), tomb, broadcastCorrection = false)
        .write.parquet(s"$dir/compacted_stats")
    }
  }

  /** Distinct trigram postings `(doc_id, g)`. */
  object Trigrams extends DocIndex("trgm", "g",
      StandingState.TrigramsSplit, CheckpointedRanged) {
    def derive(docs: DataFrame): DataFrame = IndexOps.trgmsOf(docs)
    def tombstoneCols: Seq[Column] = Seq(col("doc_id"))
  }

  /** ANN cells `(vec_id, v, nrm, pq_codes, vn2)` partitioned by `cell`
    * (the [[AnnIndex]] layout). */
  object Cells extends Kind("cells", StandingState.AnnSplit) {
    def write(rows: DataFrame, out: String): Unit =
      rows.write.partitionBy("cell").parquet(out)

    /** The base's quantizer: trained on the base vectors only, so the
      * delta is encoded against it frozen (the FAISS add() path). */
    def trainBase(vecs: DataFrame): AnnIndex.Quantizer =
      AnnIndex.trainQuantizer(VecRefresh.base(vecs), "embedding")

    /** Base and delta cell segments of `vecs` under `dir`, both encoded
      * with `q`. */
    def encodeSplit(q: AnnIndex.Quantizer, vecs: DataFrame,
        dir: String): Unit = {
      write(AnnIndex.encode(q, VecRefresh.base(vecs), "vec_id", "embedding"),
        base(dir))
      write(AnnIndex.encode(q, VecRefresh.delta(vecs), "vec_id", "embedding"),
        delta(dir))
    }

    /** The split store also holds the base quantizer's metadata. */
    protected def buildSplit(s: SparkSession, d: String, out: String)
        : Unit = {
      val vecs = graft.Tables.embeddings(s, d)
        .where(col("embedding").isNotNull)
      val q = trainBase(vecs)
      AnnIndex.writeQuantizer(s, q, out)
      encodeSplit(q, vecs, out)
    }

    /** Compaction: `segDir`'s base ∪ delta minus the takedown batch,
      * rewritten as one cell-partitioned segment under `dir`; the
      * quantizer is unchanged (compaction moves codes, never
      * retrains). */
    def compact(s: SparkSession, segDir: String, dir: String): Unit =
      write(VecTakedown.base(rows(s, segDir)), compacted(dir))

    /** The takedown batch's ids, keyed by cell like the segment they
      * mask. */
    def tombstones(cells: DataFrame): DataFrame =
      VecTakedown.delta(cells).select(col("cell"), col("vec_id"))
  }

  /** One micro-batch's segment of a streamed delta, `<dir>/b<id>`,
    * tagged with its batch id. Overwritten, so a replayed batch rewrites
    * its own segment instead of double-applying. */
  def writeBatch(rows: DataFrame, dir: String, id: Long): Unit =
    rows.withColumn("batch_id", lit(id))
      .write.mode("overwrite").parquet(s"$dir/b$id")

  // ---------------------------------------------------- merged read

  /** The union of segments. */
  def union(segs: DataFrame*): DataFrame = segs.reduce(_ unionByName _)

  /** The union of the segments at `paths`. */
  def read(s: SparkSession, paths: String*): DataFrame =
    union(paths.map(p => s.read.parquet(p)): _*)

  /** Postings stats headers added into one: exact, since every doc lives
    * in exactly one segment. */
  def mergedStats(headers: DataFrame): DataFrame =
    headers.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("sum_dl")).as("sum_dl"))

  /** A probe's cell loader: the rows of the probed cells only, a static
    * partition filter on the collected cell set. `cells` is evaluated
    * when the probe asks. */
  def probed(cells: => DataFrame)(cellSet: Seq[Int]): DataFrame =
    cells.where(col("cell").isin(cellSet: _*))

  // ------------------------------------------------------ tombstones

  /** Parks the takedown batch of `docs` as `<dir>/tombstones` and reads
    * it back. Postings tombstones carry the deleted doc's length, the
    * mass [[correctedStats]] subtracts. */
  def parkTombstones(s: SparkSession, ix: DocIndex, docs: DataFrame,
      dir: String): DataFrame = {
    DocTakedown.delta(docs).select(ix.tombstoneCols: _*)
      .write.parquet(s"$dir/tombstones")
    s.read.parquet(s"$dir/tombstones")
  }

  /** The live rows of a doc-keyed segment: tombstoned docs anti-joined
    * away. */
  def mask(rows: DataFrame, tomb: DataFrame): DataFrame =
    rows.join(tomb.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** [[probed]] minus the tombstoned `(cell, vec_id)` ids, both sides
    * pruned to the probed cells before the anti-join. */
  def liveProbed(cells: => DataFrame, tomb: DataFrame)(cellSet: Seq[Int])
      : DataFrame =
    probed(cells)(cellSet)
      .join(probed(tomb)(cellSet), Seq("cell", "vec_id"), "left_anti")

  /** A stats header with the deleted docs' count and length mass
    * subtracted, so avgdl and idf shift exactly as a rebuild's would.
    * Probes broadcast the 1-row correction; compaction leaves the choice
    * of build side (both sides are one row) to the planner. */
  def correctedStats(st: DataFrame, tomb: DataFrame,
      broadcastCorrection: Boolean = true): DataFrame = {
    val corr = tomb.agg(count(lit(1)).as("del_docs"),
      sum(col("dl")).as("del_dl"))
    st.crossJoin(if (broadcastCorrection) broadcast(corr) else corr)
      .select((col("n_docs") - col("del_docs")).as("n_docs"),
        (col("sum_dl") - col("del_dl")).as("sum_dl"))
  }

  // ------------------------------------------------------- manifest

  /** One committed segment of an epoch manifest. A commit at the
    * quantizer version already in force appends (readers union it with
    * the prefix); a commit at a higher version replaces every
    * lower-version segment of its kind, since a re-encode rewrites every
    * row. `lifecycle` separates indexes sharing one manifest. */
  final case class Commit(epoch: Int, path: String, kind: String = "",
      qver: Int = 1, lifecycle: String = "")

  /** Writes `commits` as a one-file manifest table. A column no commit
    * sets (empty kind or lifecycle, version 1 throughout) is left out. */
  def writeManifest(s: SparkSession, out: String, commits: Seq[Commit])
      : Unit = {
    import s.implicits._
    val cols = Seq("epoch", "path") ++ Seq(
      "kind" -> commits.exists(_.kind.nonEmpty),
      "qver" -> commits.exists(_.qver != 1),
      "lifecycle" -> commits.exists(_.lifecycle.nonEmpty)
    ).collect { case (c, true) => c }
    commits.toDF().select(cols.map(col): _*)
      .coalesce(1).write.parquet(out)
  }

  /** A manifest's commits, read driver-side (metadata-sized): those of
    * epochs ≤ `upTo` when given, else all. */
  def commits(s: SparkSession, manifest: String, upTo: Option[Int] = None)
      : Seq[Commit] = {
    val m = s.read.parquet(manifest)
    upTo.fold(m)(e => m.filter(col("epoch") <= e)).collect().toSeq.map {
      r =>
        def opt[T](c: String, absent: T): T =
          if (r.schema.fieldNames.contains(c)) r.getAs[T](c) else absent
        Commit(r.getAs[Int]("epoch"), r.getAs[String]("path"),
          opt("kind", ""), opt("qver", 1), opt("lifecycle", ""))
    }
  }

  /** The segment paths a reader pinned at `epoch` serves for one kind
    * (and lifecycle), in commit order: the epoch prefix's commits at
    * its highest quantizer version. */
  def asOf(commits: Seq[Commit], epoch: Int, kind: String = "",
      lifecycle: String = ""): Seq[String] = {
    val prefix = commits.filter(c => c.epoch <= epoch && c.kind == kind &&
      c.lifecycle == lifecycle)
    val top = prefix.map(_.qver).max
    prefix.filter(_.qver == top).map(_.path)
  }

  /** The union of the segments [[asOf]] selects. */
  def readAsOf(s: SparkSession, commits: Seq[Commit], epoch: Int,
      kind: String = "", lifecycle: String = ""): DataFrame =
    read(s, asOf(commits, epoch, kind, lifecycle): _*)
}
