package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Page, Brin, Motwani, Winograd 1999) — the
  * link-analysis primitive a web-scale curation pipeline runs over its
  * document/link graph (authority-weighted sampling, spam demotion,
  * crawl prioritization all start from "how central is this node").
  *
  * Join-shaped power iteration: every round is
  *   1. contributions: ranks ⋈ out-degree ⋈ edges, grouped by dst —
  *      one hash shuffle on the edge key, work O(|E|) regardless of
  *      iteration count;
  *   2. dangling mass: the rank sum of nodes WITHOUT out-edges, a
  *      one-row aggregate broadcast back into the update (never a
  *      driver-side collect inside the loop — the scalar stays in-plan);
  *   3. update: rank' = (1-d)/n + d·(contrib + dangling/n) over the full
  *      node set (left join keeps isolated nodes at the teleport floor).
  *
  * Determinism: per-round sums go through DECIMAL(38,18), so partition
  * and merge order cannot perturb ranks (the [[graft.ml.IvfIndex]] /
  * AdaBoost discipline); results are bit-identical across partitionings
  * (suite-pinned).
  *
  * Scale: state is one (id, rank) row per node; each round shuffles
  * O(|E|) contribution rows hash-partitioned on node id. Rounds are
  * localCheckpointed (plan depth stays constant; a round references its
  * predecessor twice — contributions and dangling mass — so an
  * un-materialized loop would double the plan tree per round), with
  * superseded checkpoint blocks released eagerly so long-lived callers
  * cannot accumulate block-manager backlog. The FINAL round's blocks
  * stay pinned until the caller sweeps.
  */
object PageRank {

  /** Ranks after `iters` power-iteration rounds: (id, rank), one row per
    * node of `nodes` (id), summing to ~1. `edges` is DIRECTED (src, dst);
    * symmetrize first for an undirected graph. Nodes referenced by edges
    * but absent from `nodes` contribute nothing and get no row. */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int,
          damping: Double = 0.85): DataFrame =
    iterate(nodes, edges, None, iters, damping)

  /** WARM-START power iteration (the [[RankIndex]] append path): the
    * same rounds, but the starting distribution is `init` (id, rank)
    * instead of uniform — after a small edge append, the previous
    * stationary ranks sit close to the new ones, so the d^k error decay
    * starts from a small error and the same tolerance needs fewer
    * rounds (measured in RankIndexSuite / BASELINE.md). `init` rows are
    * matched to `nodes` by id: nodes it misses start at 1/n (arrivals),
    * rows for absent nodes are ignored (departures), and the whole
    * vector is renormalized to sum 1 through a DECIMAL(38,18) sum (the
    * run() determinism discipline — partition order cannot perturb the
    * normalization). */
  def runFrom(nodes: DataFrame, edges: DataFrame, init: DataFrame,
              iters: Int, damping: Double = 0.85): DataFrame =
    iterate(nodes, edges, Some(init), iters, damping)

  private def iterate(nodes: DataFrame, edges: DataFrame,
                      init: Option[DataFrame], iters: Int,
                      damping: Double): DataFrame = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    val ids = nodes.select(col("id")).localCheckpoint()
    val n = ids.count()
    require(n > 0, "PageRank needs at least one node")
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("g"))
    // LOOP-INVARIANT HOISTING (optimization guide §1.2 step 1 / §2.4):
    // through round 16 every round re-joined `outdeg` into the
    // contribution pass and re-ran the anti-join that finds dangling
    // nodes — 2·iters joins over static frames. Both are pure functions
    // of (nodes, edges): materialize the degree-annotated edge list and
    // the dangling-node id set ONCE and let each round consume them
    // directly. Per-round work drops to one equi-join + two aggregates;
    // the contribution aggregate sums the identical (rank/g) multiset
    // per dst through the same DECIMAL(38,18) path, so ranks stay
    // bit-identical (oracle-pinned). At 100 TB the saving is
    // proportional: O(|E|) join work per round becomes a one-time
    // O(|E|) materialization.
    // ... and PRE-PARTITIONED (+ pre-sorted) on the per-round join key
    // when big enough to matter ([[LoopCheckpoint.keyed]] — guide §2.4;
    // the unconditional r17 repartition measured slower on latency-bound
    // small inputs, see the helper's scaladoc).
    val eg = LoopCheckpoint.keyed(
      e.join(outdeg, "src").select(col("src"), col("dst"), col("g")), "src")
    val dangIds = ids
      .join(outdeg.select(col("src").as("id")), Seq("id"), "left_anti")
      .localCheckpoint()
    var pr = init match {
      case None => ids.withColumn("rank", lit(1.0 / n))
      case Some(i0) =>
        val raw = ids
          .join(i0.select(col("id"), col("rank")), Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("rank"), lit(1.0 / n)).as("rank"))
        val tot = raw.agg(sum(col("rank").cast("decimal(38,18)"))
          .cast("double").as("t"))
        raw.crossJoin(broadcast(tot)) // one-row scalar, never a collect
          .select(col("id"), (col("rank") / col("t")).as("rank"))
    }
    var held = Seq.empty[DataFrame] // the superseded round's checkpoint
    for (_ <- 1 to iters) {
      // materialize the incoming ranks once (they feed contributions AND
      // the dangling aggregate) and release the superseded round's blocks
      pr = pr.localCheckpoint()
      Scratch.release(held: _*)
      held = Seq(pr)
      val contrib = pr.join(eg, col("id") === col("src"))
        .groupBy("dst")
        .agg(sum((col("rank") / col("g")).cast("decimal(38,18)"))
          .cast("double").as("contrib"))
      val dangling = pr
        .join(dangIds, Seq("id"), "left_semi")
        .agg(coalesce(sum(col("rank").cast("decimal(38,18)")).cast("double"),
          lit(0.0)).as("dm"))
      pr = ids
        .join(contrib.select(col("dst").as("id"), col("contrib")), Seq("id"), "left_outer")
        .crossJoin(broadcast(dangling)) // one-row scalar, never a collect
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / n)).as("rank"))
    }
    pr
  }
}
