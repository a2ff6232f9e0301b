package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Oracle-independent in-query invariant contracts for the iterative
  * graph queries (VERDICT r8 "Next round" #1): q81/q131/q137/q148's
  * DuckDB twins are recursive/unrolled CTE chains that DNF past
  * sf0.01-0.1, so past that scale the hash gate records
  * `oracle_timeout` — exactly where scale confidence matters most.
  * These checks close that gap the q122-q134 way: each query computes a
  * boolean verdict over its OWN output via an INDEPENDENT formulation
  * (edge-side vs node-side aggregation, edge-iterator vs node-iterator
  * count, per-edge consistency of a labeling) and carries it as a
  * result column. At sf0.01 the oracle pins the boolean TRUE (a
  * violation flips the hash → FAIL); past the oracle's reach the
  * checker verifies the boolean affirmatively from the engine dump.
  *
  * Every check is a 1-row aggregate over node/edge-sized inputs —
  * attached to the query output via `crossJoin(broadcast(...))`, so the
  * plan stays CartesianProduct-free (PlanSpec's registry-wide audit)
  * and the check cost never exceeds one extra pass over the (already
  * localCheckpoint'd) graph tables.
  *
  * Factored out of the queries so the specs can NEGATIVE-CONTROL them:
  * a deliberately corrupted labeling must flip the boolean, proving the
  * contract can actually fail (InvariantsSpec).
  */
object InvariantChecks {

  /** Union-find labeling contract (q81): 1-row
    * (`inv_edges_ok`, `inv_canonical_ok`).
    *
    *  - edge-consistency: no edge (`src`,`dst`) crosses two component
    *    labels — the labeling is closed over the edge set;
    *  - canonical-minimality: every component label equals the MINIMUM
    *    member key — which also proves the label IS a member.
    *
    * Together with the union-find construction (which only ever merges
    * endpoints of presented edges, so it can never under-split relative
    * to the edge closure) this pins the labeling to exactly the
    * connected components of (nodes, edges).
    *
    * `edges`: (`src`,`dst`); `comps`: (`key`,`comp`). */
  def componentChecks(edges: DataFrame, comps: DataFrame): DataFrame = {
    val byKey = comps.select(col("key"), col("comp"))
    // LEFT joins: an endpoint the labeling DROPPED entirely must flip
    // the verdict — an inner join would silently exclude exactly the
    // corrupted edges and pass vacuously
    val eok = edges
      .join(byKey.select(col("key").as("src"), col("comp").as("ca")),
        Seq("src"), "left")
      .join(byKey.select(col("key").as("dst"), col("comp").as("cb")),
        Seq("dst"), "left")
      .agg(coalesce(min(when(col("ca").isNotNull && col("cb").isNotNull &&
        col("ca") === col("cb"), 1L).otherwise(0L)),
        lit(1L)).as("eok"))
    val mok = comps.groupBy(col("comp")).agg(min(col("key")).as("mk"))
      .agg(coalesce(min(when(col("mk") === col("comp"), 1L).otherwise(0L)),
        lit(1L)).as("mok"))
    eok.crossJoin(broadcast(mok))
      .select((col("eok") === 1L).as("inv_edges_ok"),
        (col("mok") === 1L).as("inv_canonical_ok"))
  }

  /** PageRank superstep mass-conservation contract (the shuffle-keyed
    * superstep of `GraphOps.pageRankRanksChecked`): 1-row (`ok`).
    *
    * The edge-side aggregation (`sums` = per-dst totals of the per-edge
    * contributions `r div od`) must carry EXACTLY the mass the node side
    * emitted: for every source with out-degree od, integer division
    * distributes `od * (r div od) = r - r mod od` units. Summing both
    * sides independently — one over the EDGE-aggregated inflow, one over
    * the node-sized ranks ⋈ out-degrees — catches any contribution lost,
    * duplicated, or misrouted by the superstep join/aggregation.
    *
    * `prevRanks`: (`node`,`r`); `outdeg`: (`src`,`od`);
    * `sums`: (`node`,`s`) as produced by the superstep. */
  def pageRankMassCheck(prevRanks: DataFrame, outdeg: DataFrame,
                        sums: DataFrame): DataFrame = {
    val inflow = sums.agg(coalesce(sum(col("s")), lit(0L)).as("mass_in"))
    val outflow = prevRanks.withColumnRenamed("node", "src")
      .join(outdeg, Seq("src"))
      .agg(coalesce(sum(expr("r - r % od")), lit(0L)).as("mass_out"))
    inflow.crossJoin(broadcast(outflow))
      .select((col("mass_in") === col("mass_out")).as("ok"))
  }

  /** Triangle-count cross-formulation contract (q137): 1-row
    * (`tri_xcheck`). The node-iterator total (sum of per-node triangle
    * incidences = 3T, each triangle counted at its 3 vertices) must
    * equal the EDGE-ITERATOR total: for every canonical edge (a,b), the
    * number of common neighbors |N(a) ∩ N(b)| is the number of
    * triangles through that edge, and summing over edges also counts
    * each triangle 3 times — via a completely different dataflow
    * (collect_set adjacency + array_intersect HOF vs the oriented
    * two-path 3-way join).
    *
    * `und`: canonical (`a` < `b`) edges; `perNode`: (`node`,`triangles`). */
  def triangleCheck(und: DataFrame, perNode: DataFrame): DataFrame = {
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val nbrs = adj.groupBy(col("u")).agg(collect_set(col("v")).as("ns"))
    val edgeSide = und
      .join(nbrs.select(col("u").as("a"), col("ns").as("nsa")), Seq("a"))
      .join(nbrs.select(col("u").as("b"), col("ns").as("nsb")), Seq("b"))
      .agg(coalesce(sum(size(array_intersect(col("nsa"), col("nsb")))
        .cast("long")), lit(0L)).as("tri_edge3"))
    val nodeSide = perNode
      .agg(coalesce(sum(col("triangles")), lit(0L)).as("tri_node3"))
    edgeSide.crossJoin(broadcast(nodeSide))
      .select((col("tri_edge3") === col("tri_node3")).as("tri_xcheck"))
  }

  /** BFS distance-labeling contract (q148): 1-row (`bfs_ok`), AND of
    * three edge/node-sized checks on a fixed-depth BFS labeling
    * (`hops` ∈ [0, maxDepth] reached, -1 otherwise):
    *
    *  - edge-consistency: no edge leaves a settled node (hops ≤
    *    maxDepth-1) toward a node labeled unreached or further than
    *    hops+1 — distances obey the triangle inequality and the
    *    frontier never stopped early;
    *  - frontier support: every node at hops=k>0 has a neighbor at k-1
    *    — no label was invented;
    *  - the source is labeled 0.
    *
    * `adj`: SYMMETRIC (`u`,`v`) adjacency; `dist`: (`node`,`hops`). */
  def bfsChecks(adj: DataFrame, dist: DataFrame, source: Long,
                maxDepth: Int): DataFrame = {
    val du = dist.select(col("node").as("u"), col("hops").as("hu"))
    val dv = dist.select(col("node").as("v"), col("hops").as("hv"))
    // LEFT joins: a node dropped from the labeling (no row at all, vs
    // the explicit -1 sentinel) must flip the verdict, not vanish from
    // the edge audit
    val labeled = adj.join(du, Seq("u"), "left").join(dv, Seq("v"), "left")
    val edgeOk = labeled.agg(coalesce(min(
      when(col("hu").isNull || col("hv").isNull, 0L)
        .when(col("hu").between(0L, (maxDepth - 1).toLong) &&
          (col("hv") === -1L || col("hv") > col("hu") + 1L), 0L)
        .otherwise(1L)), lit(1L)).as("eok"))
    val supported = labeled
      .filter(col("hv") > 0L && col("hu") === col("hv") - 1L)
      .select(col("v")).distinct()
      .agg(count(lit(1)).as("nsupp"))
    val reachedPos = dist.filter(col("hops") > 0L)
      .agg(count(lit(1)).as("nreach"))
    val srcOk = dist.filter(col("node") === source)
      .agg(coalesce(min(when(col("hops") === 0L, 1L).otherwise(0L)),
        lit(0L)).as("sok"))
    edgeOk.crossJoin(broadcast(supported))
      .crossJoin(broadcast(reachedPos))
      .crossJoin(broadcast(srcOk))
      .select((col("eok") === 1L && col("nsupp") === col("nreach") &&
        col("sok") === 1L).as("bfs_ok"))
  }
}
