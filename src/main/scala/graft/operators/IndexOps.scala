package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StandingState

/** The persisted retrieval indexes: the derivations (`postingsOf`,
  * `statsOf`, `trgmsOf`) and the warm segments derived once per (JVM,
  * sf dir) in [[graft.StandingState]] and re-read by every probe. The
  * probe gates' DuckDB oracles re-derive their answers from
  * `documents`, so a wrong or stale index breaks the bm25/substring
  * hash gates immediately. The segment lifecycle — base/delta split,
  * layout, merged read, tombstones, compaction, split stores and
  * as-of reads — is [[Segments]].
  *
  * Segment layout (one dir per sf dir, four tables):
  *  - `postings(term, doc_id, tf, dl)` — the inverted lists in the
  *    [[Segments.Ranged]] layout. `dl` is DENORMALIZED into the
  *    posting (the impact-format trade: Lucene's block-max metadata
  *    precomputes norm-dependent bounds per block), so a BM25 probe
  *    needs no doc-keyed norms join and touches only the pruned
  *    posting sliver.
  *  - `dict(term, df, total_tf)` — the term dictionary, aggregated
  *    from the written postings (no second corpus pass).
  *  - `stats(n_docs, sum_dl)` — the 1-row corpus statistics segment
  *    header BM25's idf/avgdl needs.
  *  - `trigrams(g, doc_id)` — distinct trigram postings for substring
  *    search (the pg_trgm layout `substr_search_trgm` builds in-plan),
  *    ranged like the postings.
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
    * keyed aggregate (the [[Segments]] ranged layout), the dictionary
    * folded from the postings, the stats header from a scan-only
    * aggregate. */
  private def segmentDir(s: SparkSession, d: String): String =
    StandingState.dir(StandingState.Postings, d) { out =>
      val docs = graft.Tables.spread(graft.Tables.documents(s, d))
      Segments.Postings.write(postingsOf(docs), s"$out/postings",
        Segments.CheckpointedRanged)
      s.read.parquet(s"$out/postings")
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term")
        .write.parquet(s"$out/dict")
      statsOf(docs).write.parquet(s"$out/stats")
    }

  def postings(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/postings")

  def dict(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/dict")

  def stats(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${segmentDir(s, d)}/stats")

  /** The trigrams' warm split store ([[Segments.Kind.splitStore]]). */
  def trgmSplitSegmentDir(s: SparkSession, d: String): String =
    Segments.Trigrams.splitStore(s, d)

  /** Derive-once distinct trigram postings (its own
    * [[graft.StandingState]] kind, so BM25 probes never pay the
    * trigram build): the one corpus-scale (g, doc_id) shuffle a trigram
    * index costs, paid once per segment. */
  def trigrams(s: SparkSession, d: String): DataFrame =
    s.read.parquet(StandingState.dir(StandingState.Trigrams, d) { out =>
      Segments.Trigrams.write(
        trgmsOf(graft.Tables.spread(graft.Tables.documents(s, d))), out,
        Segments.CheckpointedRanged)
    })
}
