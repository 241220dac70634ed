package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StandingState

/** Persisted retrieval-index lifecycle (VERDICT-r10 "what's missing"
  * #1): the warm-index deployment shape for the retrieval family.
  *
  * The in-plan retrieval queries (`substr_search_trgm`,
  * `postings_delta`) deliberately price the WORST case — index built
  * AND probed in one plan. A real 100 TB search deployment builds its
  * segments once and serves every query off the warm index; this
  * object is that lifecycle, the [[GraphOps.coPurchaseEdges]]
  * discipline applied to the text index: derived ONCE per (JVM,
  * sf dir) and parked as parquet in [[graft.StandingState]], re-read
  * by every probe — and
  * oracle-certified-never-trusted, because the probe queries' DuckDB
  * oracles re-derive their answers from `documents` from scratch, so
  * a wrong or stale index breaks the bm25/substring hash gates
  * immediately.
  *
  * Segment layout (one dir per sf dir, four tables):
  *  - `postings(term, doc_id, tf, dl)` — the inverted lists,
  *    RANGE-partitioned on (term, doc_id) and sorted within files, so
  *    a term-equality probe prunes row groups via parquet min/max
  *    stats and the pushed filter, exactly how a posting list seek
  *    skips segments — while a stopword's corpus-sized list can span
  *    partitions instead of pinning one straggler (hash-by-term's
  *    skew hazard). `dl` is DENORMALIZED into the posting (the
  *    impact-format trade: Lucene's block-max metadata precomputes
  *    norm-dependent bounds per block) — one extra column per posting
  *    buys the probe freedom from any doc-keyed norms join, so the
  *    only corpus-scale structure a BM25 probe touches is the pruned
  *    posting sliver itself.
  *  - `dict(term, df, total_tf)` — the term dictionary, aggregated
  *    from the postings before they are written (same derivation
  *    plan, no second corpus pass).
  *  - `stats(n_docs, sum_dl)` — the 1-row corpus statistics segment
  *    header BM25's idf/avgdl needs.
  *  - `trigrams(g, doc_id)` — distinct trigram postings for substring
  *    search (the pg_trgm layout `substr_search_trgm` builds in-plan),
  *    repartitioned by trigram with the same sort-for-stats layout.
  *
  * Tokenization is the corpus-wide convention (lowercase, split on
  * single spaces, drop empties) shared with `queries/Retrieval` and
  * the TF-IDF family.
  */
object IndexOps {

  /** The corpus tokenizer: lowercase, split on single spaces, drop
    * empties. */
  private[graft] def toks(c: Column): Column =
    filter(split(lower(c), " "), t => t =!= "")

  /** Postings `(term, doc_id, tf, dl)` of a `(doc_id, text)` frame: one
    * tokenize/explode pass into a (term, doc_id) keyed aggregate. */
  def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("dl"),
        explode(toks(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf", "dl")

  /** The 1-row stats header `(n_docs, sum_dl)` of a `(doc_id, text)`
    * frame. */
  def statsOf(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(toks(col("text"))).cast("long")).as("sum_dl"))

  /** Every 3-character substring of the `text` column, in order (one
    * element for a text shorter than 3). */
  def trigramsOfText: Column =
    expr("transform(sequence(1, greatest(length(text) - 2, 1))," +
      " i -> substring(text, i, 3))")

  /** Distinct trigram postings `(doc_id, g)` of a `(doc_id, text)`
    * frame: a scan-local codegen'd Generate plus one distinct. */
  def trgmsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(trigramsOfText).as("g")).distinct()

  /** Derive-once (see [[graft.StandingState]]): postings + dict + stats
    * under one segment dir. Derivation is the classic index build —
    * ONE tokenize/explode pass over the corpus into a (term, doc_id)
    * keyed aggregate (term-partitioned write), the dictionary folded
    * from the postings, the stats header from a scan-only aggregate. */
  private def segmentDir(s: SparkSession, d: String): String =
    StandingState.dir(StandingState.Postings, d) { out =>
      val docs = graft.Tables.spread(graft.Tables.documents(s, d))
      // RANGE-partition on (term, doc_id), not hash-partition on term:
      // a hash layout pins ALL of a term's postings to one partition,
      // so a stopword's list (df ~ corpus) becomes a straggler/OOM
      // partition at 100 TB — the exact skew hazard index_postings'
      // bounded prefix dodges. Range partitioning lets a hot term SPAN
      // partitions while keeping files sorted on (term, doc_id), so
      // parquet min/max row-group stats still prune a term-equality
      // probe (a seek now touches the few consecutive partitions
      // holding the term's range — how a real segmented index splits
      // an oversized posting list across blocks).
      // localCheckpoint before repartitionByRange (r15, guide §1.2):
      // the range-boundary sampling job otherwise re-runs the corpus
      // tokenize+aggregate a second time inside the build.
      postingsOf(docs).localCheckpoint()
        .repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")
        .write.parquet(s"$out/postings")
      s.read.parquet(s"$out/postings")
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term")
        .write.parquet(s"$out/dict")
      statsOf(docs).write.parquet(s"$out/stats")
    }

  /** Memoized SPLIT segments for the refresh-leg pricing entries
    * (VERDICT-r12 item 6): the corpus doc-disjoint-partitioned into a
    * base postings+stats segment (90%, doc_id % 10 ≠ 0 — the
    * bm25_probe_merged split) and the delta's segment, derived once
    * per (JVM, sf dir) in [[graft.StandingState]]. A deployment has
    * both on disk when a refresh
    * epoch arrives: gates pricing the steady-state legs read them warm
    * — `bm25_probe_refresh` re-tokenizes ONLY the delta (its priced
    * leg) against the warm base; `index_compact_warm` compacts the two
    * warm segments without re-tokenizing anything — while the
    * whole-cycle gates (bm25_probe_merged, index_compact) keep
    * re-deriving per run deliberately. */
  def splitSegmentDir(s: SparkSession, d: String): String =
    StandingState.dir(StandingState.PostingsSplit, d) { out =>
      val docs = graft.Tables.spread(graft.Tables.documents(s, d))
      val base = docs.filter(col("doc_id") % 10L =!= 0L)
      val delta = docs.filter(col("doc_id") % 10L === 0L)
      postingsOf(base)
        .localCheckpoint() // cut the double sampling pass (guide §1.2)
        .repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")
        .write.parquet(s"$out/base_postings")
      statsOf(base).write.parquet(s"$out/base_stats")
      postingsOf(delta).write.parquet(s"$out/delta_postings")
      statsOf(delta).write.parquet(s"$out/delta_stats")
    }

  def postings(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/postings")

  def dict(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/dict")

  def stats(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/stats")

  /** Memoized SPLIT trigram segments (VERDICT-r13 "what's missing"
    * #2 — the last lifecycle without a warm split store): the corpus
    * doc-disjoint-partitioned into a base trigram segment (90%,
    * doc_id % 10 ≠ 0, range-partitioned on (g, doc_id) — the
    * [[trigrams]] layout) and the delta's segment, derived once per
    * (JVM, sf dir) in [[graft.StandingState]]. The trigram
    * merged/compact/asof/stream gates
    * price whole-cycle deliberately (both segments re-derived per
    * timed body — the 6.7–7.8× decade rows); the warm twins
    * (`trgm_probe_refresh`, `trgm_compact_warm`) and the asof reader
    * read THIS store so the steady-state legs are measured alone,
    * exactly the [[splitSegmentDir]] discipline on the postings
    * side. */
  def trgmSplitSegmentDir(s: SparkSession, d: String): String =
    StandingState.dir(StandingState.TrigramsSplit, d) { out =>
      val docs = graft.Tables.spread(graft.Tables.documents(s, d))
      trgmsOf(docs.filter(col("doc_id") % 10L =!= 0L))
        .localCheckpoint() // cut the double sampling pass (guide §1.2)
        .repartitionByRange(col("g"), col("doc_id"))
        .sortWithinPartitions("g", "doc_id")
        .write.parquet(s"$out/base_trgm")
      trgmsOf(docs.filter(col("doc_id") % 10L === 0L))
        .localCheckpoint()
        .repartitionByRange(col("g"), col("doc_id"))
        .sortWithinPartitions("g", "doc_id")
        .write.parquet(s"$out/delta_trgm")
    }

  /** Derive-once distinct trigram postings (its own
    * [[graft.StandingState]] kind, so BM25 probes never pay the
    * trigram build). The generator is the same
    * scan-local codegen'd Generate `substr_search_trgm` uses — the
    * build is the one corpus-scale (g, doc_id) shuffle a trigram
    * index costs, paid once per segment. */
  def trigrams(s: SparkSession, d: String): DataFrame =
    s.read.parquet(StandingState.dir(StandingState.Trigrams, d) { out =>
      trgmsOf(graft.Tables.spread(graft.Tables.documents(s, d)))
        .localCheckpoint() // cut the double sampling pass (guide §1.2)
        // range, not hash, partitioning — common trigrams are Zipfian
        // exactly like stopword terms (see the postings write above)
        .repartitionByRange(col("g"), col("doc_id"))
        .sortWithinPartitions("g", "doc_id")
        .write.parquet(out)
    })
}
