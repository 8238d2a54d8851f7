package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan, Albert, Kumara 2007) — the
  * community-detection primitive a curation pipeline runs over its
  * similarity graph: where [[ConnectedComponents]] answers "which docs are
  * transitively linked AT ALL", LPA answers "which docs form a densely
  * linked community", splitting a weakly bridged component into its cores
  * (near-dup cluster hygiene, template families, citation rings).
  *
  * Join-shaped synchronous rounds; every step an equi-join or aggregate:
  *   1. votes: undirected adjacency ⋈ current labels, grouped by
  *      (node, label) — one hash shuffle on the edge key, O(|E|) work;
  *   2. update: each node takes its plurality neighbor label — most votes
  *      wins, ties to the SMALLEST label (deterministic, no random sweep
  *      order: classic asynchronous LPA is order-dependent; the
  *      synchronous form with a fixed tie rule is reproducible across
  *      partitionings and engines), computed as two hash aggregations
  *      (max count per node, then min label at that count) so every
  *      round stays inside whole-stage codegen.
  *
  * Every node casts a SELF-VOTE (a self-loop added to the adjacency): it
  * damps the 2-cycle oscillation synchronous LPA is known for, and keeps
  * isolated nodes labeled (they vote only for themselves).
  *
  * Fixed `iters` rounds, not convergence detection: labels after round r
  * reach communities of diameter ~r, and a fixed budget keeps the result
  * a pure function of the input (oracle-friendly, no data-dependent plan).
  *
  * Scale: state is one (id, label) row per node; rounds localCheckpoint
  * with eager release of superseded blocks (the [[PageRank]] discipline).
  */
object LabelPropagation {

  /** Labels after `iters` synchronous rounds: (id, label), one row per
    * node of `nodes` (id); label = the node's community representative
    * (initially itself). `edges` (src, dst) is symmetrized internally —
    * pass each undirected edge once. */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    val ids = nodes.select(col("id")).localCheckpoint()
    // the adjacency is PRE-PARTITIONED (+ pre-sorted) on dst — the key
    // every round's vote join uses — when big enough to matter
    // ([[LoopCheckpoint.keyed]] — guide §2.4; the unconditional r17
    // repartition was the q_graph_communities "watch" item, measured
    // slower on latency-bound small inputs in round-18 alternating A/Bs).
    val adj = LoopCheckpoint.keyed(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(ids.select(col("id").as("src"), col("id").as("dst")))
        .distinct(), "dst")
    var labels = ids.withColumn("label", col("id"))
    var held = Seq.empty[DataFrame] // the superseded round's checkpoint
    for (_ <- 1 to iters) {
      labels = labels.localCheckpoint()
      Scratch.release(held: _*)
      held = Seq(labels)
      val votes = adj
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // plurality-then-min-label as TWO hash aggregations + an id equi-join
      // (suite-pinned): the single-agg max_by(label, struct(cnt, -label))
      // form plans as a SortAggregate outside whole-stage codegen — an
      // extra per-partition sort every round
      val best = votes.groupBy("id").agg(max(col("cnt")).as("mc"))
      labels = votes.join(best, "id")
        .filter(col("cnt") === col("mc"))
        .groupBy("id").agg(min(col("label")).as("label"))
    }
    // the adjacency is keyed by edge endpoints, which may be a superset of
    // `nodes` — restrict to the documented contract (one row per node of
    // nodes) so stray endpoints never leak into the result
    if (iters == 0) labels
    else labels.join(ids, Seq("id"), "left_semi")
  }

  /** FRONTIER-DRIVEN incremental refresh — the streaming counterpart of
    * [[run]]: given a COMMITTED labeling and a set of nodes whose
    * neighborhoods may have changed (new edges' endpoints, newly arrived
    * nodes), re-run the synchronous vote ONLY where labels can actually
    * move, and let change propagate outward along edges instead of
    * recomputing the whole graph.
    *
    * Per round (same vote/tie rules as [[run]] — plurality, min label,
    * self-votes):
    *   1. the active frontier's nodes recompute their plurality label
    *      from the CURRENT labeling (adjacency semi-joined to the
    *      frontier — work ∝ frontier neighborhood size, never O(|E|));
    *   2. nodes whose label changed update the labeling;
    *   3. the next frontier = the changed nodes' neighbors (self-loops
    *      put the changed nodes themselves back in — they may need
    *      another step).
    * Terminates when a round changes nothing — every node is then at a
    * local fixed point (nodes never touched kept neighborhoods whose
    * labels never moved) — or at `maxRounds` (synchronous LPA can
    * 2-cycle on adversarial graphs; the self-vote damps but cannot
    * forbid it).
    *
    * `labels` must cover every pre-existing node; nodes of `nodes`
    * absent from it (the arrivals) seed as their own label. Returns one
    * row per node of `nodes`, like [[run]]. */
  def refresh(labels: DataFrame, nodes: DataFrame, edges: DataFrame,
              seedFrontier: DataFrame, maxRounds: Int = 50): DataFrame =
    refreshWithStats(labels, nodes, edges, seedFrontier, maxRounds)._1

  /** [[refresh]] plus per-round changed-node counts (diagnostics for the
    * work-∝-frontier claim; suites pin that a small delta never touches
    * the whole graph). Builds the symmetrized + self-loop adjacency from
    * `edges` here (one O(|E|) distinct); callers that MAINTAIN that
    * adjacency as state (StreamingDedup's versioned layout) skip it via
    * [[refreshOnAdjacency]]. */
  private[graft] def refreshWithStats(labels: DataFrame, nodes: DataFrame,
                                      edges: DataFrame, seedFrontier: DataFrame,
                                      maxRounds: Int = 50): (DataFrame, Seq[Long]) = {
    val ids = nodes.select(col("id")).localCheckpoint()
    // vote targets restricted to the node set — the adjacency contract
    // refreshOnAdjacency documents. STRICTER than run() for
    // out-of-contract inputs: run() drops an outside endpoint's vote in
    // round 1 but lets it vote its COMPUTED label from round 2 on (it
    // acquires a label row as an adjacency source); here it never votes.
    // For contract-conforming inputs (edge endpoints ⊆ nodes — what
    // run()'s own scaladoc asks for) the two are identical, which is the
    // scope of the refresh == full-recompute suite pins.
    val adj = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(ids.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst")).localCheckpoint()
    refreshOnAdjacency(labels, ids, adj, seedFrontier, maxRounds)
  }

  /** The incremental core, over a CALLER-MAINTAINED adjacency. Contract:
    * `adj` (src, dst) is symmetrized, carries a self-loop for every node,
    * and is (src, dst)-unique — the shape [[refreshWithStats]] builds and
    * a versioned streaming layout appends to delta-by-delta.
    *
    * Scale shape — everything MATERIALIZED per round is ∝ the change set,
    * never O(|V|) or O(|E|):
    *   - the committed labeling (`labels`) is the immutable BASE; rounds
    *     accumulate a small OVERRIDES frame instead of rewriting the full
    *     labeling (a node's current label = coalesce(override, base,
    *     its own id) — the last arm seeds arrivals absent from base);
    *   - votes touch only adjacency rows whose source is in the frontier
    *     (semi-join; the frontier side is broadcast-small), and label
    *     lookups are joins against base/overrides — base is scanned, not
    *     shuffled or rewritten;
    *   - per-round checkpoints cover only overrides, the changed set and
    *     the next frontier.
    * Returns (one row per id of `nodes`, per-round changed counts). */
  private[graft] def refreshOnAdjacency(labels: DataFrame, nodes: DataFrame,
                                        adj: DataFrame, seedFrontier: DataFrame,
                                        maxRounds: Int = 50): (DataFrame, Seq[Long]) = {
    require(maxRounds >= 0, s"need maxRounds >= 0, got $maxRounds")
    val base = labels.select(col("id"), col("label")).localCheckpoint()
    // label lookup on an arbitrary keyed frame: override beats base beats
    // self (arrivals absent from base are their own label)
    def withLabels(df: DataFrame, key: String, ov: DataFrame): DataFrame = df
      .join(base.select(col("id").as(key), col("label").as("_bl")),
        Seq(key), "left_outer")
      .join(ov.select(col("id").as(key), col("label").as("_ol")),
        Seq(key), "left_outer")
      .withColumn("label", coalesce(col("_ol"), col("_bl"), col(key)))
      .drop("_bl", "_ol")
    // round state: both checkpoints are released once the next round's
    // replacements are materialized (the run()/PageRank discipline)
    var ov = base.limit(0).localCheckpoint() // empty overrides, (id, label)
    var frontier = seedFrontier.select(col("id")).distinct().localCheckpoint()
    val stats = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rounds = 0
    var done = frontier.isEmpty
    while (!done && rounds < maxRounds) {
      rounds += 1
      // votes restricted to the frontier: the semi-join keeps only
      // adjacency rows whose target node is active this round
      val votes = withLabels(
          adj.join(frontier.select(col("id").as("src")), Seq("src"), "left_semi"),
          "dst", ov)
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = votes.groupBy("id").agg(max(col("cnt")).as("mc"))
      val recomputed = votes.join(best, "id")
        .filter(col("cnt") === col("mc"))
        .groupBy("id").agg(min(col("label")).as("label"))
      val changed = recomputed.as("n")
        .join(withLabels(frontier, "id", ov).as("o"), Seq("id"))
        .filter(col("n.label") =!= col("o.label"))
        .select(col("id"), col("n.label").as("label"))
        .localCheckpoint()
      val nChanged = changed.count()
      stats += nChanged
      if (nChanged == 0) {
        Scratch.release(changed)
        done = true
      } else {
        // fold the change set into the overrides — full outer + coalesce
        // (union-free: a semi/anti union pair referencing `changed` twice
        // trips Catalyst's union constraint rewrite)
        val next = ov.as("o")
          .join(changed.select(col("id"), col("label").as("_nl")), Seq("id"),
            "full_outer")
          .select(col("id"), coalesce(col("_nl"), col("o.label")).as("label"))
          .localCheckpoint()
        val nextFrontier = adj
          .join(changed.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src").as("id")).distinct().localCheckpoint()
        Scratch.release(ov, frontier, changed)
        ov = next
        frontier = nextFrontier
      }
    }
    (withLabels(nodes.select(col("id")), "id", ov).select("id", "label"),
      stats.toSeq)
  }
}
