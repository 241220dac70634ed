package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StandingState

/** Iterative / combinatorial graph analytics as keyed join+aggregate
  * rounds — the same execution shape as [[Dedup.connectedComponents]]:
  * no vertex program, no driver-side adjacency, every round is one
  * shuffle on the vertex key with a `localCheckpoint` lineage cut.
  *
  * Reference scope: the reference engine has no graph surface at all
  * (its "graph" is the player↔team membership it flattens relationally,
  * `master.py:120`); these operators extend the engine to link-analysis
  * shapes a training-data pipeline needs (source-authority weighting,
  * citation graphs over document corpora).
  */
object GraphOps {

  /** Integer-exact PageRank over an arbitrary DIRECTED graph: ranks
    * are longs scaled by `unit` = 1e9, a node's per-edge contribution
    * is `rank DIV outdeg`, dangling mass (rank parked on nodes with
    * no out-edge) is redistributed uniformly as `Σ_dangling pr DIV n`,
    * and the damped update over the FULL node set (src ∪ dst) is
    * `(15·unit) DIV 100 + (85 · (Σ contrib + dangling_share)) DIV 100`
    * — a node nobody links to decays to the teleport + dangling floor
    * instead of silently vanishing from the rank table. Every
    * operation is integral, so the result is INDEPENDENT of
    * partitioning, aggregation order, and cluster size — bit-equal on
    * local[1] and a 1000-executor cluster, and exactly mirrorable in
    * the DuckDB oracle (`//` = `DIV` on non-negative longs; DuckDB's
    * HUGEINT sum re-narrows losslessly). The floor in DIV leaks at
    * most `outdeg−1` rank units per node per round — 9 significant
    * digits survive, which is ranking-grade; the point of the integer
    * spelling is determinism, the float spelling would be
    * shuffle-order-dependent.
    *
    * Overflow boundary: the damped sum is computed as `85 · Σ` in
    * LongType; Σ at a node is bounded by the total rank mass
    * `n_nodes · unit`, so the spelling is safe while
    * `85 · n_nodes · 1e9 < 2^63` — i.e. up to ~10^8 nodes, far past
    * any single-table corpus here. Past that, raise to DecimalType
    * sums (DuckDB's side is already exact via HUGEINT).
    *
    * Per-round cost beyond the contribution join+agg: one node-sized
    * anti-join aggregate (the dangling mass, a 1-row broadcast) and
    * one node-sized left join (full-set reseed) — both node-scale,
    * never edge-scale; at cluster SF AQE broadcasts them.
    *
    * @param edges directed edge list; for undirected graphs pass both
    *              directions
    * @return (node, pr) — pr after `iters` damped rounds
    */
  def pagerankExact(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, unit: Long = 1000000000L): DataFrame = {
    // materialize the (possibly expensive) edge derivation ONCE, with
    // the out-degree pre-joined — the iteration plan references it
    // `iters` times, and without the cut each reference would re-run
    // the whole upstream derivation (common subplans are only deduped
    // via exchange reuse, which a join+distinct chain defeats)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    // `dm DIV n` below would be a divide-by-zero expression on an
    // empty edge set (ADVICE-r8) — fail with the actual precondition
    require(n > 0, "pagerankExact needs a non-empty edge set")
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e0.join(deg, "src").localCheckpoint()
    var ranks = nodes.select(col("node"), lit(unit).as("pr"))
    val teleport = (15L * unit) / 100L
    // each round ends in a lineage cut: a fully lazy `iters`-deep
    // unroll is one enormous plan whose optimization + AQE re-planning
    // dominates the cold run (measured 12.8 s vs 7.6 s at sf0.1);
    // cutting per round keeps every plan two joins deep, and the
    // node-sized round outputs are cheap to hold.
    // r14 note: a fused round (deg carried inside ranks, dangling mass
    // as a scalar filter-agg, reseed via union+groupBy — 3 exchanges
    // instead of ~8) was prototyped, proved bit-identical, and
    // measured a WASH at cpus=4 (0.55 vs 0.63 s/round) but ~15-25%
    // slower end-to-end at local[32] across three fresh-JVM runs
    // (extra setup join + a bulkier agg payload outweigh the removed
    // node-scale joins, which AQE already broadcasts) — kept the
    // measured-faster spelling (OPTIMIZATION_r14.md §graph_pagerank).
    for (_ <- 1 to iters) {
      val dang = ranks.join(deg, ranks("node") === deg("src"),
          "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dm"))
      val contrib = ed
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr DIV deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"),
          "left")
        .crossJoin(broadcast(dang))
        .select(nodes("node"),
          (lit(teleport) + expr(
            s"(85 * (coalesce(sc, CAST(0 AS BIGINT)) + dm DIV $n))" +
              " DIV 100")).as("pr"))
        .localCheckpoint()
    }
    ranks
  }

  /** Mirror of [[pagerankExact]] as generated DuckDB SQL (unrolled
    * CTE chain — one `dm_i`/`sc_i`/`pr_i` level per round, the exact
    * integer recurrence including dangling-mass redistribution and
    * full-node-set reseeding). `edgeCte` must define
    * `edges(src, dst)`. */
  def pagerankOracle(edgeCte: String, iters: Int,
      unit: Long = 1000000000L): String = {
    val teleport = (15L * unit) / 100L
    val steps = (1 to iters).map { i =>
      s""", dm$i AS (
        SELECT COALESCE(SUM(p.pr), 0) AS dm
        FROM pr${i - 1} p LEFT JOIN deg g ON p.node = g.src
        WHERE g.src IS NULL),
      sc$i AS (
        SELECT e.dst AS node, SUM(p.pr // g.deg) AS sc
        FROM pr${i - 1} p
        JOIN deg g ON p.node = g.src
        JOIN edges e ON p.node = e.src
        GROUP BY e.dst),
      pr$i AS (
        SELECT nd.node,
               CAST($teleport + (85 * (COALESCE(s.sc, 0)
                 + d.dm // (SELECT n FROM nn))) // 100 AS BIGINT) AS pr
        FROM nodes nd LEFT JOIN sc$i s ON nd.node = s.node, dm$i d)"""
    }.mkString
    s"""$edgeCte,
      nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      pr0 AS (SELECT node, CAST($unit AS BIGINT) AS pr FROM nodes)
      $steps
      SELECT node, pr FROM pr$iters ORDER BY node"""
  }

  /** k-core peeling: drop every node with degree < k, recompute,
    * repeat — the standard density filter for link/citation graphs
    * (keep only documents embedded in a well-connected neighborhood).
    * The result is a pure function of (graph, k, rounds) so the
    * oracle can replay it as an unrolled CTE chain: peeling only ever
    * REMOVES edges, so an unchanged edge count between rounds means
    * the exact fixed point — execution stops there and reuses the
    * converged frame for the remaining slots instead of running
    * identity rounds (each no-op round would still pay the full
    * degree-agg + prune + checkpoint; the count that detects this
    * reads an already-materialized checkpoint, ~ms). The caller's
    * convergence certificate (edge counts of the last two rounds)
    * is unaffected: equal counts ⇔ converged, either way. Each
    * round is one keyed degree aggregate + two node-sized semi-join
    * prunes with a lineage cut — the connected-components execution
    * shape again; the `keep` set is node-sized, so at cluster scale
    * AQE broadcasts it and the edge table never reshuffles.
    *
    * @param und undirected unique edges, u < v per row
    * @return symmetrized surviving edges after `rounds` peels
    */
  def kCorePeel(und: DataFrame, uCol: String, vCol: String, k: Int,
      rounds: Int): Seq[DataFrame] = {
    // r15 (guide §2.3 — shuffle/materialize fewer bytes): the peeling
    // state is kept in the u < v HALF representation — a symmetric
    // pair survives a round iff BOTH endpoints are in the keep set,
    // which is one condition on the single u<v row, so peeling the
    // half set is exactly peeling the symmetric set at half the rows
    // through every join and lineage cut. Degrees still count both
    // directions (the lazy sym() union over the checkpointed half
    // set); callers keep receiving the symmetrized view, so the
    // documented contract and every consumer are unchanged.
    var e = und.select(col(uCol).as("u"), col(vCol).as("v"))
      .localCheckpoint()
    def sym(d: DataFrame) =
      d.union(d.select(col("v").as("u"), col("u").as("v")))
    val out = Seq.newBuilder[DataFrame]
    out += sym(e)
    var prev = e.count()
    var fixed = false
    for (_ <- 1 to rounds) {
      if (!fixed) {
        val keep = sym(e).groupBy(col("u")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("u"))
        e = e.join(keep, "u")
          .join(keep.withColumnRenamed("u", "v"), "v")
          .select(col("u"), col("v"))
          .localCheckpoint()
        val n = e.count()
        fixed = n == prev
        prev = n
      }
      out += sym(e)
    }
    out.result()
  }

  /** Exact global triangle and wedge counts over an undirected graph,
    * via the degree-orientation trick: orient every edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges
    * only from ORIENTED out-neighbors (out-degree is O(√m) even on
    * power-law graphs — this is what makes the join survive hub
    * nodes), and close each wedge against the oriented edge set.
    * Two keyed shuffles; no node ever enumerates its full
    * neighborhood squared.
    *
    * @param und undirected unique edges, u < v per row
    * @return single row (n_triangles, n_wedges) — n_wedges is the
    *         raw Σ C(deg,2), so global clustering = 3·T/W
    */
  def triangleCounts(und: DataFrame, uCol: String, vCol: String)
      : DataFrame = {
    val e0 = und.select(col(uCol).as("u"), col(vCol).as("v"))
      .localCheckpoint()
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // raw wedge count: sum C(deg, 2) — no join needed
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    // orientation rank: (deg, id) totally orders nodes; keep edges
    // pointing "up" that order — OUT-degree is O(√m) even on
    // power-law graphs. ADVICE-r14 correction: the bound holds for
    // out-degree only; IN-degree is unbounded, so a hub's in-neighbor
    // array below is Θ(indeg) in one row and is replicated onto every
    // incident closing edge (Σ indeg² element copies worst case). On
    // hub-heavy graphs that is asymptotically worse than the wedge
    // spelling's Σ C(outdeg,2) rows; on this co-purchase graph (near-
    // constant degree, max indeg ≈ mean) the array spelling measured
    // 2× faster end-to-end, which is why it ships. A skewed input
    // would want chunked In(v) arrays or the wedge fallback.
    val dd = sym
      .join(deg.select(col("u").as("u2"), col("deg").as("du")),
        col("u") === col("u2"))
      .join(deg.select(col("u").as("v2"), col("deg").as("dv")),
        col("v") === col("v2"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint()
    // close per EDGE, not per wedge (r14 optimization): a triangle
    // {x→y, x→z, y→z} is counted once at its closing edge (y, z) as a
    // shared in-neighbor x, so n_triangles = Σ_(b,c)∈E |In(b) ∩ In(c)|.
    // The old spelling materialized Σ C(outdeg,2) wedge ROWS (~35M at
    // sf0.1, a ~560 MB exchange) and shuffled them into an equi-join;
    // this one shuffles only edge rows + node-sized in-neighbor arrays
    // (Σ|In| = m) and intersects in place — the per-pair work is the
    // same O(Σ C(outdeg,2)) bound, but no wedge ever crosses the wire.
    // Bit-identical count, measured 2× faster (plans/r14, bench table).
    val inN = dd.groupBy(col("dst"))
      .agg(collect_list(col("src")).as("ins"))
    val tri = dd
      .join(inN.select(col("dst").as("src"), col("ins").as("ins_b")),
        Seq("src"))
      .join(inN.select(col("dst"), col("ins").as("ins_c")), Seq("dst"))
      .agg(coalesce(
        sum(size(array_intersect(col("ins_b"), col("ins_c")))
          .cast("long")), lit(0L)).as("n_triangles"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"))
  }

  // ------------------------------------------- shared edge lifecycle
  /** Standing state for the graph-IVM gate, derived ONCE per
    * (JVM, sf dir) and parked as parquet in [[graft.StandingState]] —
    * the `IndexOps.splitSegmentDir` discipline applied to the edge-table
    * IVM lifecycle (r14: the gate previously rebuilt P, E and Δ inside
    * every timed body, so it priced the from-scratch base build, not
    * the refresh its docstring argues; the refresh legs of the
    * postings/cells lifecycles were already priced alone this way in
    * r13). Contents: `p_base` — the deduped (order, part) membership
    * index, `e_base` — the aggregated edge table E(u,v,w), `delta` —
    * the 5% ingest batch. All three are pure functions of `lineitem`,
    * and the gate's ORACLE re-derives the final edge table from the
    * full lineitem from scratch, so a wrong or stale cache breaks the
    * hash immediately (the coPurchaseEdges certification argument). */
  def ivmStateDir(s: SparkSession, d: String): String =
    StandingState.dir(StandingState.GraphIvm, d) { t =>
      val li = graft.Tables.lineitem(s, d).select(
        col("l_orderkey").as("ok"), col("l_partkey").as("p"),
        col("l_linenumber").as("ln"))
      val tagged = li.withColumn("is_delta",
        (col("ok") * 31L + col("p") * 17L + col("ln")) % 20L === 0L)
      tagged.filter(!col("is_delta"))
        .select(col("ok"), col("p")).distinct()
        .write.parquet(s"$t/p_base")
      val pb = s.read.parquet(s"$t/p_base")
      pb.as("a").join(pb.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .write.parquet(s"$t/e_base")
      tagged.filter(col("is_delta")).select(col("ok"), col("p"))
        .write.parquet(s"$t/delta")
    }

  /** The weighted undirected co-purchase edge table (u < v,
    * w = number of shared orders), derived ONCE per (JVM, sf dir) and
    * parked as parquet in [[graft.StandingState]] — every graph
    * analytics query reads this table instead of re-running the
    * lineitem self-join + aggregate, exactly how a 100 TB workflow
    * materializes its edge list once and runs
    * every metric against it (the VERDICT-r7 lifecycle-table ask).
    * The cache contents are continuously certified: the graph
    * queries' DuckDB oracles never see this parquet — they re-derive
    * the edge set from `lineitem` in SQL — so a wrong or stale cache
    * breaks the pagerank/triangles/kcore hash gates immediately.
    * Derivation is one keyed self-join + one keyed aggregate (the
    * exact-dedup shape); the weight column rides along for free on
    * the same shuffle that the former `distinct()` already paid.
    *
    * `(ok, p)` is DEDUPED before the self-join (ADVICE-r8): a part
    * appearing on k duplicated lineitem rows of one order would
    * otherwise contribute k·m to a pair's count, so `w` would count
    * row-pair multiplicity, not shared orders — and the backbone
    * thresholds in graph_components/graph_jaccard would admit
    * single-shared-order edges. Deduping first makes `count(*)`
    * exactly the distinct-shared-order count AND shrinks the pair
    * stream, cheaper than a count-distinct aggregate after the fact;
    * the dedup shuffle is on `(ok, p)` so the join's `ok` shuffle
    * still follows, but the joined cardinality drops by the square
    * of the duplication factor. */
  def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(StandingState.dir(StandingState.Edges, d) { out =>
      val li = graft.Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val und = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("w"))
      und.write.parquet(out)
    })
}
