package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over edge lists — the page/host authority
  * signals web-corpus quality weighting uses (Common Crawl host ranks
  * feed most public corpus filters). Complements [[Dedup.connectedComponents]]
  * (same edge-list representation, different fixpoint).
  *
  * Scale shape: power iteration is the textbook distributed PageRank —
  * each round joins ranks to edges on `src` (shuffle 1) and sums
  * contributions by `dst` (shuffle 2); the dangling mass and the
  * convergence-free fixed iteration count keep every round's driver
  * involvement to one scalar aggregate.
  *
  * Lineage is truncated per round with `localCheckpoint`. A persist()-based
  * loop caches data but keeps the full logical plan, so round k's plan
  * would carry every earlier round's joins and aggregation, and Catalyst
  * analysis plus the per-action plan stringification would grow with
  * every round (a loop that reads the previous round twice, such as a
  * min-label propagation over `labels ∪ messages`, doubles it: 2^k copies
  * of the upstream plan by round k). localCheckpoint truncates the lineage
  * to the materialized partitions, keeping every round's plan O(1). Local
  * checkpoints live in executor storage: a deployment that must survive
  * executor loss mid-loop swaps in a reliable checkpoint() with a
  * checkpoint dir, and the loop is unchanged. Old rounds' blocks are
  * reaped by the ContextCleaner once unreferenced. */
object Graphs {

  /** Power-iteration PageRank. `edges` is a (srcCol, dstCol) edge list;
    * parallel edges contribute proportionally (dedupe upstream for
    * simple-graph semantics). Dangling nodes (no out-edges) spread their
    * mass uniformly. Returns (node, rank) over the union of endpoints,
    * ranks summing to 1 (up to fp). `iters` fixed — at corpus scale the
    * rank ordering stabilizes in ~10 rounds and a convergence probe
    * would cost a full extra pass per round. */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 0 && damping >= 0 && damping <= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    val n = nodes.count()
    if (n == 0) return nodes.withColumn("rank", lit(0.0))
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
      .localCheckpoint(true)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 0 until iters) {
      // dangling mass: rank parked on nodes with no out-edges — one
      // tiny scalar per round (the only driver value, like CC's probe)
      val dangling = ranks.join(deg, ranks("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(ranks, e("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst").as("node"), (col("rank") / col("__deg")).as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__m"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("__m"), lit(0.0)) + lit(dangling / n)))
            .as("rank"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Per-node degree audit over the union of endpoints: `out_deg`,
    * `in_deg` (0 for absent sides — sources and sinks stay visible,
    * which is the point of the audit). Two partial-agg shuffles and an
    * outer join on the node key; parallel edges count per edge. */
  def degreeStats(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
