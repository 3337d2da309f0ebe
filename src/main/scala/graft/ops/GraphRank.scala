package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over corpus-derived graphs (kNN similarity
  * edges, hyperlink tables, citation edges) — the "which documents
  * anchor the corpus" signal used for curation weighting and
  * seed-set selection, computed with the same exact-integer-register
  * discipline as the k-means / covariance aggregates so results are
  * bit-identical under any partitioning and replayable by an
  * external engine.
  *
  * Beyond-reference operator (the reference is a single-node
  * variational-inference library, Henbun/model.py; it has no graph
  * ops) — part of the SURVEY §2.2 training-data-pipeline inventory.
  */
object GraphRank {

  /** PageRank with EXACT fixed-point integer arithmetic.
    *
    * Ranks are int64 mass units summing to ~`scale`; one iteration is
    *
    *   r'(v) = ((dampDen−dampNum)·(scale div n)) div dampDen
    *         + (dampNum·(Σ_{u→v} (r(u) div deg(u)) + D div n)) div dampDen
    *
    * with `D` = Σ ranks of dangling nodes (no out-edges), `n` = node
    * count, and every division an integer division on non-negative
    * operands — truncating and flooring agree there, so Spark's `div`
    * and DuckDB's `//` replay the recurrence bit for bit and int64
    * SUM is order-independent: ranks are identical under any
    * partitioning, task order, or engine (cf. the fixed-point
    * centroid registers of [[Similarity.kmeansIterate]]).
    * No overflow: every intermediate ≤ dampDen·scale ≪ 2⁶³.
    *
    * Scale shape: per iteration ONE edges⋈ranks join + one map-side-
    * partial sum onto the node grain (shuffles carry only (id, long)
    * pairs — never payloads), a left-anti dangling aggregate reduced
    * to a ONE-ROW frame that joins back in-plan (the winsorize
    * broadcast pattern — no driver round-trip), and a node-grain left
    * join. Lineage is cut per round with `localCheckpoint(false)`
    * like [[Dedup.connectedComponents]]; with a fixed iteration budget
    * there is no per-round convergence probe. The rounds are NOT one
    * job, though: under AQE (the default config) building each
    * round's checkpoint RDD runs that round's shuffle stages as jobs
    * while the DataFrame is built — q_embed_pagerank launched 46
    * build-time jobs at sf0.01 (7 with AQE off).
    * Iterations are a fixed budget (power iteration converges
    * geometrically at rate dampNum/dampDen); edge and node tables are
    * checkpointed once so the caller's (possibly expensive) edge
    * pipeline never re-runs.
    *
    * Returns (node, rank) for every node incident to an edge.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int,
                  scale: Long = 1000000000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, s"bad iters $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"bad damping $dampNum/$dampDen")
    require(scale > 0 && scale <= Long.MaxValue / dampDen,
      s"scale $scale would overflow the damped sum")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val n = nodes.count() // materializes e + nodes
    // empty graph -> empty (node, rank) frame, the repo's
    // degenerate-input contract (an incremental pipeline's empty
    // batch must not kill the job)
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("rank"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val base = ((dampDen - dampNum) * (scale / n)) / dampDen
    var ranks = nodes.select(col("node"), lit(scale / n).as("rank"))
    for (_ <- 1 to iters) {
      val inflow = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      val dangling = ranks
        .join(outdeg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dmass"))
      ranks = nodes
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(dangling)
        .select(col("node"),
          expr(s"${base}L + ($dampNum * (coalesce(inflow, 0L) + " +
            s"(dmass div ${n}L))) div $dampDen").as("rank"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 /
    * Raghavan et al. 2007's LPA, seeded variant) — spread a small set
    * of trusted labels (human quality ratings, verified-language
    * tags) across the similarity graph to the unlabeled corpus.
    *
    * Per round every NON-SEED node adopts the plurality label of its
    * currently-labeled in-neighbors, ties to the SMALLEST label id;
    * nodes with no labeled neighbor keep their previous label (null
    * until first reached); seed labels never change. All votes are
    * integer counts and the argmax is one struct-max hash aggregate
    * (max count, then min label — O(1) state per node, partition-
    * invariant), so the whole fixpoint is deterministic and an
    * external engine replays it round for round.
    *
    * Scale shape per round: ONE edges⋈labels join (shuffles carry
    * (id, int) pairs), one map-side-partial count onto the
    * (node, label) grain, the struct-max argmax, and a node-grain
    * left join; lineage cut per round with `localCheckpoint(false)`
    * (the [[pageRankInt]] / [[Dedup.connectedComponents]] discipline
    * — fixed budget, no per-round probe). As for [[pageRankInt]],
    * AQE runs each round's shuffle stages as jobs while the DataFrame
    * is built: q_embed_labelprop launched 30 build-time jobs at
    * sf0.01 (3 with AQE off).
    *
    * `seeds` is (nodeCol, labelCol; duplicate node rows collapse to
    * the smallest label). Edges are DEDUPLICATED and self-loops
    * dropped (multigraph multiplicity does not multiply votes);
    * symmetrize first for undirected spreading. Returns
    * (node, label, is_seed) with label null where no labeled node is
    * reachable within `iters`. */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, nodeCol: String, labelCol: String,
                     iters: Int): DataFrame = {
    require(iters >= 1, s"bad iters $iters")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false)
    // one seed row per node (deterministically the smallest label):
    // duplicate seed rows would multiply label rows through every
    // round's left join and double-count that node's votes
    val sd = seeds.select(col(nodeCol).cast("long").as("node"),
      col(labelCol).cast("int").as("__seed"))
      .groupBy("node").agg(min(col("__seed")).as("__seed"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd.select("node")).distinct()
    var labels = nodes.join(sd, Seq("node"), "left")
      .select(col("node"), col("__seed").as("label"),
        col("__seed").isNotNull.as("is_seed"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .where(col("label").isNotNull)
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("dst")
        // negate in LONG: -Int.MinValue overflows back to itself and
        // would invert the min-label tie-break for that one value
        .agg(max(struct(col("c"), (-col("label").cast("long")).as("nl")))
          .getField("nl").as("__v"))
        .select(col("dst").as("node"),
          (-col("__v")).cast("int").as("__v"))
      labels = labels.join(votes, Seq("node"), "left")
        .select(col("node"),
          when(col("is_seed"), col("label"))
            .otherwise(coalesce(col("__v"), col("label"))).as("label"),
          col("is_seed"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Structural profile of an undirected graph (kNN similarity graph,
    * link graph): node/edge counts, degree extremes, wedge and
    * triangle counts, and the global clustering coefficient
    * 3·T/W — the "is this corpus clumpy or diffuse" diagnostic that
    * decides between cluster-level dedup and pair-level dedup, and a
    * drift check between corpus snapshots. One-row output.
    *
    * Edges are canonicalized (u < v, distinct); triangle counting
    * joins the edge list with itself along a < b < c (each triangle
    * counted exactly once) and closes with one more edge join — on a
    * degree-bounded graph (kNN: deg ≤ 2k) the intermediate wedge
    * list is Σ deg² ≤ 4k²·n rows, linear in nodes at fixed k, and
    * every join keys on node ids (8-byte shuffles). All counts are
    * integers; the coefficient is one division written identically
    * in the oracle. */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long"))
        .as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long"))
          .as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(false) // lazy, like every sibling loop kernel
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // coalesce: max/sum over zero rows are null, and an empty graph
    // must report 0s on every column, not a getLong NPE on two of them
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(max(col("deg")), lit(0L)).as("max_deg"),
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"))
    val paths = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), "b")
    val tri = paths.join(e.select(col("u").as("a"), col("v").as("c")),
      Seq("a", "c")).agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(degStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("max_deg"),
        col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round((lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double"), 5))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** k-core of the undirected graph (Seidman 1983): repeatedly peel
    * nodes of degree < k until fixpoint — the dense-region detector
    * (dup farms, template clusters) a degree threshold alone
    * misreports, because removing a low-degree node can drop its
    * neighbors below k transitively.
    *
    * Bounded-round with early stop: each round is one
    * map-side-combined degree aggregate + two semi-joins on 8-byte
    * node ids, state is materialized per round (eager
    * localCheckpoint cuts the lineage, the CC-kernel discipline) and
    * the loop exits when a round removes nothing. Once converged,
    * further rounds are no-ops, so an oracle replaying EXACTLY
    * `maxRounds` rounds matches whether or not the early stop fired
    * — and if the graph needs more than `maxRounds`, both sides
    * compute the same bounded-round residue (the survivors-with-
    * deg<k count in the caller's output records it honestly).
    *
    * Returns (node, deg) of surviving nodes with their degree in the
    * surviving subgraph. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"bad k=$k rounds=$maxRounds")
    val sym = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .union(edges.select(col(dstCol).cast("long").as("u"),
        col(srcCol).cast("long").as("v")))
      .where(col("u") =!= col("v")).distinct()
    var cur = sym.localCheckpoint()
    var n = cur.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val keep = cur.groupBy("u").agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select("u")
      val next = cur.join(keep, "u")
        .join(keep.withColumnRenamed("u", "v"), "v")
        .select("u", "v")
        .localCheckpoint()
      val m = next.count() // barrier: next is materialized, so the
      cur.unpersist()      // prior round's checkpoint can release
      converged = m == n
      cur = next
      n = m
      round += 1
    }
    cur.groupBy("u").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("u", "node")
  }
}
