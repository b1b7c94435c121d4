package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Stages

/** Link-graph analytics over an edge frame — the web-curation stage
  * downstream of `html_links` extraction: PageRank-style authority
  * scores feed domain quality priors in crawl selection (the idiom
  * behind "seed list by authority" in production crawl curation).
  *
  * Pure DataFrame iteration — no GraphX, no RDDs: each step is one
  * keyed join + one keyed aggregation, so Catalyst/AQE own the
  * physical plan and the same code runs at any scale.
  *
  * Scale shape (100 TB / 10⁹-node graph): per iteration, contributions
  * are an equi-join of edges with ranks on `src` followed by a sum
  * keyed on `dst` — two hash shuffles of edge cardinality, no
  * broadcast of anything rank-sized; the dangling-mass term is a 1-row
  * aggregate broadcast back in-plan (never a per-iteration driver
  * action). Lineage truncates with an eager `localCheckpoint` every 4
  * iterations (the [[Bpe]]/[[Dedup.connectedComponents]] iteration
  * idiom), and the edge+out-degree frame persists once across all
  * iterations. The only driver-side scalar is the node COUNT (needed
  * for the teleport constant) — bounded by definition.
  */
object LinkGraph {

  /** PageRank with damping + uniform teleport and full dangling-mass
    * redistribution (rank mass is conserved: ranks sum to 1 after every
    * iteration).
    *
    * @param edges directed edges; duplicate edges count twice (weight
    *              by multiplicity — the extracted-link multiset)
    * @param nodes optional node universe (first column = node id).
    *              Defaults to distinct(src ∪ dst). Pass it explicitly
    *              when isolated nodes (no edges at all) must carry rank.
    *              Edges with an endpoint OUTSIDE the supplied universe
    *              are dropped before iteration (an out-of-universe src
    *              has no rank to contribute; mass flowing to an
    *              out-of-universe dst would silently leak) — the
    *              mass-conservation invariant holds over the universe.
    * @return (node, rank)
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               nodes: Option[DataFrame] = None): DataFrame =
    run(edges, srcCol, dstCol, iterations, damping, nodes, tol = None)._1

  /** [[pageRank]] with the production stopping rule: iterate until the
    * L∞ rank change over a 4-iteration window falls to `tol` or below
    * (checked at each lineage-truncation boundary, so convergence
    * testing adds NO extra materialization — the checkpoint already
    * computes the ranks; the delta is one node-keyed join + a 1-row
    * aggregate whose double is the only extra driver scalar), capped at
    * `maxIterations`. A 4-step window is a STRICTER signal than a
    * per-step delta: if four applications of the update move no node
    * by more than tol, per-step movement is smaller still.
    *
    * @return (ranks, iterations actually run)
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        tol: Double, maxIterations: Int = 100,
                        damping: Double = 0.85,
                        nodes: Option[DataFrame] = None): (DataFrame, Int) = {
    require(tol >= 0.0, s"tol must be >= 0: $tol")
    run(edges, srcCol, dstCol, maxIterations, damping, nodes, tol = Some(tol))
  }

  private def run(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int, damping: Double,
                  nodes: Option[DataFrame],
                  tol: Option[Double]): (DataFrame, Int) = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    require(damping >= 0.0 && damping < 1.0, s"damping in [0,1): $damping")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodeDf = nodes
      .map(d => d.select(col(d.columns.head).as("node")))
      .getOrElse(e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // With an explicit universe, restrict edges to it (two semi-joins of
    // edge cardinality, once, before the iteration loop). A src not in
    // the universe would inject rank from nowhere; a dst not in it would
    // swallow mass — either silently breaks the sum-to-1 invariant.
    val e = if (nodes.isEmpty) e0 else e0
      .join(nodeDf.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(nodeDf.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
    // (src, dst, od): the per-edge frame every iteration joins — built
    // and persisted ONCE
    val eod = e.join(outdeg, Seq("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val dangling = nodeDf
      .join(outdeg.select(col("src").as("node")), Seq("node"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodeDf.count() // bounded driver scalar: the teleport constant
    require(n > 0, "pageRank over an empty node set")
    val teleport = (1.0 - damping) / n
    var ranks = nodeDf.select(col("node"), lit(1.0 / n).as("rank"))
    // Each iteration scans the previous ranks TWICE (contributions +
    // dangling mass): persist every iteration's ranks so the second
    // scan reads cache instead of recomputing the whole chain (without
    // this the lineage re-executes ~2^k times between checkpoints).
    val iterCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // previous convergence-window boundary (the uniform init, then each
    // checkpoint) — already materialized, so the delta join is cheap
    var lastCheck = ranks
    var converged = false
    var i = 0
    while (i < iterations && !converged) {
      val contrib = eod
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst"), (col("rank") / col("od")).as("c"))
        .groupBy("dst").agg(sum("c").as("cs"))
      val dm = dangling.join(ranks, Seq("node"))
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      ranks = nodeDf
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dm))
        .select(col("node"),
          (lit(teleport) + lit(damping) *
            (coalesce(col("cs"), lit(0.0)) + col("dm") / lit(n.toDouble)))
            .as("rank"))
      i += 1
      if (i % 4 == 0 && i < iterations) {
        // eager checkpoint truncates lineage AND materializes the
        // window's caches, which are then safe to drop
        ranks = Stages.cut(ranks)
        iterCaches.foreach(_.unpersist(blocking = false))
        iterCaches.clear()
        tol.foreach { t =>
          val delta = ranks
            .join(lastCheck.withColumnRenamed("rank", "__prev"), Seq("node"))
            .agg(coalesce(max(abs(col("rank") - col("__prev"))), lit(0.0)))
            .head().getDouble(0)
          if (delta <= t) converged = true
          lastCheck = ranks
        }
      } else if (i < iterations) {
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
        iterCaches += ranks
      }
    }
    graft.core.Frames.own(
      spark, (Seq(nodeDf, eod, dangling) ++ iterCaches.toSeq): _*)
    (ranks, i)
  }

  /** Single-process reference for parity gates and specs: the same
    * update rule over in-memory maps. Bounded input by construction —
    * never call on a corpus-scale edge list.
    */
  private[graft] def pageRankLocal(
      edges0: Seq[(Long, Long)], nodes: Seq[Long],
      iterations: Int, damping: Double): Map[Long, Double] = {
    val n = nodes.size
    require(n > 0)
    val universe = nodes.toSet
    val edges = edges0.filter { case (s, d) =>
      universe.contains(s) && universe.contains(d) }
    val outdeg = edges.groupBy(_._1).map { case (s, es) => (s, es.size.toDouble) }
    val teleport = (1.0 - damping) / n
    var ranks = nodes.map(v => (v, 1.0 / n)).toMap
    for (_ <- 0 until iterations) {
      val contrib = edges
        .map { case (s, d) => (d, ranks(s) / outdeg(s)) }
        .groupBy(_._1).map { case (d, cs) => (d, cs.map(_._2).sum) }
      val dm = nodes.filter(v => !outdeg.contains(v)).map(ranks).sum
      ranks = nodes.map { v =>
        (v, teleport + damping * (contrib.getOrElse(v, 0.0) + dm / n))
      }.toMap
    }
    ranks
  }
}
