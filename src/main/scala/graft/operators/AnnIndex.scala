package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StandingState

/** The persisted ANN (vector) index: quantizer training, map-side
  * encoding, and the warm segments derived once per (JVM, sf dir) in
  * [[graft.StandingState]], plus the probes that serve off them
  * ([[Similarity.ivfTopK]]/[[Similarity.ivfPqTopK]] remain as the
  * priced in-plan twins that train inside the plan). The probe gates'
  * oracles re-derive their answers from raw `embeddings`, so a wrong or
  * stale segment breaks the hash/recall gates immediately. The segment
  * lifecycle — base/delta split, merged read, tombstones, compaction,
  * the split store and as-of reads — is [[Segments]].
  *
  * Segment layout (one dir per sf dir, three tables):
  *  - `centroids(cell, cv, n2)` — the nlist coarse centroids with
  *    precomputed |c|² (argmin-L2 = argmax(2·v·c − |c|²), the
  *    [[Similarity.ivfTopK]] algebra). Index METADATA: a probe
  *    collects it driver-side (nlist rows — the "load the quantizer
  *    into memory" step every ANN server performs at open()).
  *  - `codebooks(j, c, cv, n2)` — the m × ksub PQ sub-quantizer
  *    entries, same metadata posture (m·ksub rows).
  *  - `cells/cell=K/(vec_id, v, nrm, pq_codes, vn2)` — the corpus,
  *    PARTITIONED BY CELL (the FAISS inverted-list geometry): raw
  *    vector + its norm beside the m PQ codes + reconstructed norm.
  *    One table, not two — parquet is columnar, so the ADC scan reads
  *    only (vec_id, pq_codes, vn2) column chunks while the IVF probe
  *    and the rerank fetch read (vec_id, v, nrm); both prune to the
  *    probed cells via STATIC partition filters (the probed-cell set
  *    is data-independent given the query batch, collected bounded by
  *    nlist). An nprobe/nlist probe therefore touches nprobe/nlist of
  *    the files, full stop — the posting-list seek, on vectors.
  *
  * Training matches the in-plan twins EXACTLY (same hash-ordered
  * 4096-row sample, same seeded Lloyd, [[Similarity.ivfPqTopK]]'s
  * seed offsets), so the persisted assignments/codes are the ones the
  * priced in-plan plans would compute — the measured recall tiers
  * (60% IVF at nprobe=4, 40% IVF-PQ end to end) transfer to the warm
  * probes unchanged.
  */
object AnnIndex {

  /** Quantizer geometry — one fixed production configuration, shared
    * by build and probes (a mismatch would silently probe the wrong
    * cell space; centralizing it makes that impossible). */
  val NList = 16
  val M = 8
  val KSub = 16
  val Seed = 42L

  /** A trained (coarse, PQ) quantizer pair — the artifact a real ANN
    * deployment trains ONCE per corpus epoch and then applies to every
    * later ingest batch WITHOUT retraining (the FAISS `add()` path:
    * centroids are frozen at train time; new vectors are assigned and
    * encoded against the frozen codebooks). The merge gates train on
    * the BASE segment only and encode the delta with the same
    * instance — exactly that discipline, made falsifiable by the
    * row-exact merged-probe oracle. */
  case class Quantizer(coarse: Array[Array[Float]],
      books: Array[Array[Array[Float]]]) {
    def dim: Int = coarse.head.length
    def centroidMeta: Seq[(Int, Array[Float], Double)] =
      coarse.zipWithIndex.map { case (cv, i) => (i, cv, n2Of(cv)) }.toSeq
    def bookMeta: Array[Array[(Array[Float], Double)]] =
      books.map(_.map(cv => (cv, n2Of(cv))))
  }

  private[operators] def n2Of(v: Array[Float]): Double =
    v.foldLeft(0.0)((a, x) => a + x.toDouble * x)

  /** Train both quantizer tiers on one bounded hash-ordered driver
    * sample — the ivfPqTopK training recipe verbatim (same sample
    * bound, same seeded Lloyd, same per-subspace seed offsets), so a
    * quantizer trained here is bit-identical to what the in-plan
    * twins train on the same input. */
  def trainQuantizer(vecs: DataFrame, vecCol: String): Quantizer = {
    val sample = vecs.where(col(vecCol).isNotNull).select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)))
      .limit(math.max(math.max(NList, KSub) * 256, 4096))
      .collect().map(_.getSeq[Float](0).toArray)
    val dim = sample(0).length
    require(dim % M == 0, s"dim $dim not divisible into $M subspaces")
    val dsub = dim / M
    val coarse = Similarity.localLloyd(sample, NList, iters = 8,
      seed = Seed)
    val books = Array.tabulate(M)(j =>
      Similarity.localLloyd(sample.map(_.slice(j * dsub, (j + 1) * dsub)),
        KSub, iters = 8, seed = Seed + 1 + j))
    Quantizer(coarse, books)
  }

  /** Map-side encode of any embedding batch against a FROZEN
    * quantizer: cell assignment and PQ encoding are projections over
    * broadcast literals — no shuffle, no training, which is what
    * makes the incremental-refresh leg tokenize-the-delta cheap. The
    * output schema is the `cells` segment layout. */
  def encode(q: Quantizer, vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val dsub = q.dim / M
    val centArr = centLiteral(q.centroidMeta)
    def codeOf(vec: Column, j: Int): Column = {
      val entries = array(q.books(j).zipWithIndex.map { case (cv, i) =>
        struct(lit(i).as("c"), typedlit(cv).as("cv"),
          lit(n2Of(cv)).as("n2"))
      }: _*)
      array_max(transform(entries, e =>
        struct((graft.functions.VectorExprs.fdot(
          slice(vec, j * dsub + 1, dsub), e.getField("cv")) * lit(2.0) -
          e.getField("n2")).as("score"), e.getField("c").as("c"))))
        .getField("c")
    }
    val codes = array((0 until M).map(codeOf(col(vecCol), _)): _*)
    val n2Lit = typedlit(q.books.map(_.map(n2Of).toSeq).toSeq)
    // r15: the per-row encode (fdot × NList cells + M×KSub PQ scoring)
    // is the CPU-dense part of every build/compact/retrain leg, and it
    // whole-stage-fuses into the scan — spread() lifts the fixtures'
    // single-row-group scans to cluster parallelism (identity on a
    // properly split input; see Tables.spread).
    graft.Tables.spread(vecs.where(col(vecCol).isNotNull)).select(
      col(idCol).as("vec_id"),
      col(vecCol).as("v"),
      graft.functions.VectorExprs.fnorm(col(vecCol)).as("nrm"),
      array_max(cellScores(col(vecCol), centArr))
        .getField("cell").as("cell"),
      codes.as("pq_codes"),
      aggregate(transform(codes, (c, j) =>
        element_at(element_at(n2Lit, (j + lit(1)).cast("int")),
          (c + lit(1)).cast("int"))),
        lit(0.0), (acc, x) => acc + x).as("vn2"))
  }

  // ---------------------------------------------------------- build

  /** Park a quantizer's centroids and codebooks under `out` (the
    * `centroids` and `codebooks` metadata tables). */
  private[operators] def writeQuantizer(s: SparkSession, q: Quantizer,
      out: String): Unit = {
    import s.implicits._
    writeCentroids(s, q, s"$out/centroids")
    q.books.zipWithIndex.flatMap { case (bk, j) =>
      bk.zipWithIndex.map { case (cv, c) => (j, c, cv.toSeq, n2Of(cv)) }
    }.toSeq.toDF("j", "c", "cv", "n2")
      .coalesce(1).write.parquet(s"$out/codebooks")
  }

  /** Park a quantizer's centroid metadata as the one-file table
    * `path` (read back by [[centroidsAt]]). */
  def writeCentroids(s: SparkSession, q: Quantizer, path: String): Unit = {
    import s.implicits._
    q.centroidMeta.map { case (i, cv, n2) => (i, cv.toSeq, n2) }
      .toDF("cell", "cv", "n2")
      .coalesce(1).write.parquet(path)
  }

  /** Derive-once (see [[graft.StandingState]]): train both quantizers
    * on one bounded driver sample,
    * park centroids/codebooks, encode the corpus MAP-SIDE against the
    * broadcast literals (no shuffle — cell assignment and PQ encoding
    * are projections), and write the cell-partitioned corpus table. */
  private def segmentDir(s: SparkSession, d: String): String =
    StandingState.dir(StandingState.Ann, d) { out =>
      val vecs = graft.Tables.embeddings(s, d)
        .where(col("embedding").isNotNull)
      val q = trainQuantizer(vecs, "embedding")
      writeQuantizer(s, q, out)
      Segments.Cells.write(encode(q, vecs, "vec_id", "embedding"),
        s"$out/cells")
    }

  /** The cells' warm split store ([[Segments.Kind.splitStore]]):
    * centroids/codebooks of the quantizer trained on the base only,
    * plus cell-partitioned `base_cells` and `delta_cells`. */
  def splitSegmentDir(s: SparkSession, d: String): String =
    Segments.Cells.splitStore(s, d)

  /** Rehydrate a [[Quantizer]] from a persisted segment dir's
    * centroid/codebook metadata — the ANN-server open() step for the
    * refresh legs, which must encode new batches against the FROZEN
    * quantizer without retraining. Bounded driver reads (nlist +
    * m·ksub rows). */
  def loadQuantizer(s: SparkSession, dir: String): Quantizer =
    Quantizer(
      loadCentroids(s, dir).sortBy(_._1).map(_._2).toArray,
      loadCodebooks(s, dir).map(_.map(_._1)))

  /** The centroid literal + cell-score expression shared by build and
    * probes — the [[Similarity.ivfTopK]] argmax(2·v·c − |c|²) algebra. */
  private def centLiteral(cents: Seq[(Int, Array[Float], Double)])
      : Column =
    array(cents.sortBy(_._1).map { case (i, cv, n2) =>
      struct(lit(i).as("cell"), typedlit(cv).as("cv"), lit(n2).as("n2"))
    }: _*)

  private def cellScores(vec: Column, centArr: Column): Column =
    transform(centArr, c =>
      struct((graft.functions.VectorExprs.fdot(vec, c.getField("cv")) *
        lit(2.0) - c.getField("n2")).as("score"),
        c.getField("cell").as("cell")))

  /** Map-side cell assignment of any vector column against driver
    * centroid metadata — the argmax(2·v·c − |c|²) algebra as one
    * broadcast-literal projection (what the streaming leg applies per
    * micro-batch: assignment is STATELESS; only the per-cell stats
    * downstream keep state). */
  def assignCell(vec: Column,
      cents: Seq[(Int, Array[Float], Double)]): Column =
    array_max(cellScores(vec, centLiteral(cents))).getField("cell")

  /** The persisted centroids as driver metadata (nlist rows — the
    * ANN-server open() step; bounded by construction). */
  def loadCentroids(s: SparkSession, dir: String)
      : Seq[(Int, Array[Float], Double)] =
    centroidsAt(s, s"$dir/centroids")

  /** Centroid metadata parked at `path` by [[writeCentroids]]. */
  def centroidsAt(s: SparkSession, path: String)
      : Seq[(Int, Array[Float], Double)] =
    s.read.parquet(path).collect()
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Float]]("cv").toArray,
        r.getAs[Double]("n2"))).toSeq

  private def loadCodebooks(s: SparkSession, dir: String)
      : Array[Array[(Array[Float], Double)]] = {
    val rows = s.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("c"),
        r.getAs[scala.collection.Seq[Float]]("cv").toArray,
        r.getAs[Double]("n2")))
    Array.tabulate(M)(j => rows.filter(_._1 == j).sortBy(_._2)
      .map(t => (t._3, t._4)))
  }

  /** The warm index's centroid metadata for an sf dir (derives the
    * segments first if needed) — what a streaming assigner loads at
    * open() before the first micro-batch. */
  def centroidMetaOf(s: SparkSession, d: String)
      : Seq[(Int, Array[Float], Double)] =
    loadCentroids(s, segmentDir(s, d))

  /** The warm index's PQ codebook metadata for an sf dir — the
    * compressed-path mirror of [[centroidMetaOf]] (m·ksub rows), what
    * a masked/compacted ADC probe loads at open(). */
  def codebookMetaOf(s: SparkSession, d: String)
      : Array[Array[(Array[Float], Double)]] =
    loadCodebooks(s, segmentDir(s, d))

  /** The cell-partitioned corpus segment (for gates that audit it). */
  def cells(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/cells")

  def centroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/centroids")

  def codebooks(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/codebooks")

  // ---------------------------------------------------------- probes

  private def pairCos(dot: Column, n1: Column, n2: Column): Column =
    round(dot / (n1 * n2), 6)

  /** Per-query probed cells + the collected distinct cell set. The
    * collect is bounded by nlist (≤ 16 values) and is what buys a
    * STATIC partition filter on the cells table — the only way the
    * probe's pruning shows up in `PartitionFilters` rather than
    * depending on runtime DPP heuristics. */
  private def probedCells(queries: DataFrame, vecCol: String,
      idCol: String, centArr: Column, nprobe: Int)
      : (DataFrame, Seq[Int]) = {
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        graft.functions.VectorExprs.fnorm(col(vecCol)).as("qn"),
        explode(slice(reverse(array_sort(cellScores(col(vecCol),
          centArr))), 1, nprobe).getField("cell")).as("cell"))
    val cellSet = q.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSeq
    (q, cellSet)
  }

  /** IVF top-k served ENTIRELY off the warm persisted index: query
    * cells from the collected centroid metadata, candidate vectors
    * from the cell-partitioned segment pruned by a STATIC cell filter
    * (an nprobe/nlist probe reads nprobe/nlist of the data), scoring
    * against the broadcast query side. No quantizer training and no
    * corpus-embedding scan anywhere in the plan — the only embeddings
    * scan a caller sees is its own query sliver. Same output contract
    * as [[Similarity.ivfTopK]]. */
  def ivfProbePersisted(s: SparkSession, d: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val dir = segmentDir(s, d)
    ivfProbe(queries, idCol, vecCol, k, nprobe, loadCentroids(s, dir),
      Segments.probed(s.read.parquet(s"$dir/cells")))
  }

  /** [[ivfProbe]] of `(vec_id, embedding)` queries at full probe
    * (nprobe = nlist, so exact): the lifecycle gates' probe over
    * whatever segments `loadCells` serves. */
  def ivfFullProbe(queries: DataFrame, k: Int,
      cents: Seq[(Int, Array[Float], Double)])
      (loadCells: Seq[Int] => DataFrame): DataFrame =
    ivfProbe(queries, "vec_id", "embedding", k, NList, cents, loadCells)

  /** The IVF probe kernel over ANY cells segment source: `loadCells`
    * receives the collected probed-cell set (≤ nlist values) and must
    * return the candidate rows — a single warm segment for the
    * steady-state probe, or a base ∪ delta union for the merged probe
    * (the `isin` pushes through a union to BOTH parquet children, so
    * segment pruning survives the merge). Centroid metadata arrives
    * as driver values (the ANN-server open() step).
    *
    * Top-k selection cost (VERDICT-r12): the `row_number` filter
    * plans as TWO-PHASE WindowGroupLimit (pinned in PlanAuditSpec) —
    * each task keeps only its local top-k per query before the
    * exchange, so the shuffle carries ≤ k·queries rows regardless of
    * corpus size. The partial phase still sorts each task's slice of
    * the PRUNED candidate sliver (nprobe/nlist of the corpus, never
    * the corpus) — the accepted cost, in exchange for emitting exact
    * (rank, cos) in one operator; the bounded-heap TopKAgg alternative
    * would save that local sort but re-derive rank/cos from an array
    * column. */
  def ivfProbe(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, cents: Seq[(Int, Array[Float], Double)],
      loadCells: Seq[Int] => DataFrame): DataFrame = {
    val centArr = centLiteral(cents)
    val (q, cellSet) = probedCells(queries, vecCol, idCol, centArr, nprobe)
    val cand = loadCells(cellSet)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("nrm").as("cn"))
    val scored = broadcast(q).join(cand, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", pairCos(graft.functions.VectorExprs.fdot(
        col("qv"), col("cv")), col("qn"), col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** IVF-PQ top-k off the warm index: ADC scan over the pruned code
    * columns (m LUT lookups per pair, LUTs built from the collected
    * codebook metadata, query side broadcast), exact rerank of the
    * survivors against the raw-vector columns of the SAME pruned
    * partitions (every candidate lives in a probed cell by
    * construction — the rerank fetch never leaves the pruned sliver).
    * Same output contract as [[Similarity.ivfPqTopK]]. */
  def ivfPqProbePersisted(s: SparkSession, d: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      rerank: Int): DataFrame = {
    val dir = segmentDir(s, d)
    ivfPqProbe(queries, idCol, vecCol, k, nprobe, rerank,
      loadCentroids(s, dir), loadCodebooks(s, dir),
      Segments.probed(s.read.parquet(s"$dir/cells")))
  }

  /** The IVF-PQ probe kernel over ANY cells segment source — the
    * [[ivfProbe]] loader pattern applied to the compressed path, so
    * the merged-segment gate can run the ADC scan + exact rerank over
    * a base ∪ delta union with pruning intact on both children. */
  def ivfPqProbe(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, rerank: Int,
      cents: Seq[(Int, Array[Float], Double)],
      books: Array[Array[(Array[Float], Double)]],
      loadCells: Seq[Int] => DataFrame): DataFrame = {
    val centArr = centLiteral(cents)
    val dim = books.map(_.head._1.length).sum
    val dsub = dim / M
    val bookLits = (0 until M).map(j =>
      typedlit(books(j).map(_._1.toSeq).toSeq))
    val qBase = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        graft.functions.VectorExprs.fnorm(col(vecCol)).as("qn"))
    // localCheckpoint (VERDICT-r12): the probed-cell collect below and
    // the joined query side both consume q — without the lineage cut
    // the M×ksub LUT projection is evaluated twice (bounded, but the
    // dedup_containment_incremental discipline makes the
    // double-execution impossible rather than merely cheap)
    val q = qBase.select(col("query_id"), col("qv"), col("qn"),
      array((0 until M).map(j => transform(bookLits(j),
        cv => graft.functions.VectorExprs.fdot(
          slice(col("qv"), j * dsub + 1, dsub), cv))): _*).as("lut"),
      explode(slice(reverse(array_sort(cellScores(col("qv"), centArr))),
        1, nprobe).getField("cell")).as("cell"))
      .localCheckpoint()
    val cellSet = q.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSeq
    val pruned = loadCells(cellSet)
    val enc = pruned.select(col("cell"), col("vec_id").as("neighbor_id"),
      col("pq_codes"), col("vn2"))
    val scanned = enc.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", aggregate(
        transform(col("pq_codes"), (c, j) =>
          element_at(element_at(col("lut"), (j + lit(1)).cast("int")),
            (c + lit(1)).cast("int"))),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("approx_cos",
        col("adc") / (col("qn") * sqrt(col("vn2"))))
    val wSel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val cand = scanned.withColumn("sel", row_number().over(wSel))
      .filter(col("sel") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val exact = broadcast(cand).join(
        pruned.select(col("vec_id").as("neighbor_id"),
          col("v").as("cv"), col("nrm").as("cn")),
        Seq("neighbor_id"))
      .join(broadcast(qBase), Seq("query_id"))
      .withColumn("cos", pairCos(graft.functions.VectorExprs.fdot(
        col("qv"), col("cv")), col("qn"), col("cn")))
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
