package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GroupLimits

/** Distributed k-NN graph construction by NN-Descent (Dong, Moses,
  * Li — "Efficient k-nearest neighbor graph construction for generic
  * similarity measures", WWW 2011) — the graph-ANN rung above the IVF
  * index: the k-NN graph is the substrate graph indexes (HNSW-class)
  * search over, and a first-class training-data operator in its own
  * right (semantic dedup thresholds, diversity sampling, label
  * propagation all start from "every item's k nearest").
  *
  * Why NN-Descent and not HNSW here: HNSW's insert loop is inherently
  * sequential (every insert greedy-searches the graph built so far) — on
  * a cluster it serializes through the driver or shards into disconnected
  * subgraphs. NN-Descent is the JOIN-SHAPED formulation of the same
  * "neighbors of neighbors are likely neighbors" principle: every
  * iteration is (a) one self-join of the bounded-degree graph to produce
  * neighbor-of-neighbor candidate pairs, (b) one gather of the two
  * vectors per candidate, (c) one top-k-per-node reduction — all
  * hash-partitioned equi-joins plus this repo's own TopKPerKey heap
  * operator, no driver state, no sequential insert order. Work per
  * iteration is O(n·k²) candidates regardless of corpus size.
  *
  * Determinism: the LSH seeding uses the same integer-LCG hyperplanes as
  * q_dedup_embed_lsh (exact in ieee754), every score is the codegen'd
  * graft_dot on L2-normalized vectors, and all ranking ties break on the
  * neighbor id — so the graph is identical across partitionings and
  * clusters (suite-pinned).
  *
  * Scale: candidate generation never touches the n² pair space — LSH
  * buckets are hot-capped (the boilerplate/degenerate-direction guard),
  * per-iteration candidates are degree-bounded, and the only shuffles are
  * on node id / bucket key. The output graph is n·k rows — linear state.
  */
object KnnGraph {

  /** Same deterministic hyperplane family as q_dedup_embed_lsh: LCG-seeded
    * 64-dim double arrays, exact in ieee754 across engines and runs. */
  private def hyperplane(p: Int): String = "array(" + Array.tabulate(64) { j =>
    val m = (1103515245L * (p * 64 + j) + 12345L) % 2147483648L
    s"${m.toDouble / 2147483648.0 - 0.5}D"
  }.mkString(",") + ")"

  /** L2-normalize `embedding` into `v` keyed by vec_id. */
  private def normalized(emb: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", expr("sqrt(graft_dot(e, e))"))
      .withColumn("v", expr("transform(e, x -> x / nrm)"))
      .select("vec_id", "v")
  }

  /** Candidate pairs (a < b) from LSH bucket collisions: `bands` bands of
    * `bits` sign bits each, hot buckets capped. The SEED graph's candidate
    * source — recall comes from the descent iterations, not from here. */
  private def lshSeedPairs(vecs: DataFrame, bands: Int, bits: Int,
                           hotCap: Int): DataFrame = {
    def bkey(b: Int): String = (0 until bits).map { r =>
      s"(CASE WHEN graft_dot(v, ${hyperplane(bits * b + r)}) >= 0 THEN ${1L << r}L ELSE 0L END)"
    }.mkString(" + ")
    val buckets = graft.operators.ScaleJoins.dropHotKeys(
      vecs.select(col("vec_id"),
        posexplode(expr("array(" + (0 until bands).map(bkey).mkString(",") + ")"))
          .as(Seq("band", "bkey"))),
      Seq("band", "bkey"), hotCap)
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"))
      .distinct()
  }

  /** Score pairs with cosine (dot of unit vectors) and emit BOTH directed
    * edges per pair: (id, nbr, sim) ∪ (nbr, id, sim). The vector gather
    * joins a candidate set that is many times larger than the vector
    * table at harness scale — but `vecs` is a checkpointed RDD scan whose
    * stats Catalyst reports as unknown-large, so auto-broadcast never
    * fires and both gathers become candidate-set shuffles. `smallVecs`
    * (decided once per build from the actual row count) hints the
    * broadcast explicitly; at corpus sizes past the threshold the hint is
    * withheld and the gathers fall back to the id-hash shuffle join,
    * which is the correct 100 TB shape (candidates are linear in n,
    * vectors shuffle once per side).
    *
    * Both directions come out of ONE joined-and-scored pass via a
    * map-side explode (guide §1.2 "don't compute things twice"): through
    * round 16 every consumer unioned two selects over this frame, and
    * because the union's branches are separate plan subtrees the gather
    * joins and the graft_dot scoring — the heaviest compute in the whole
    * family, measured at ~8 s of task time per descent round at sf0.1 —
    * ran TWICE per round. Same directed-edge multiset, half the work at
    * any scale. */
  private def scoreBoth(pairs: DataFrame, vecs: DataFrame,
                        smallVecs: Boolean): DataFrame = {
    def side(name: String, out: String) = {
      val s = vecs.select(col("vec_id").as(name), col("v").as(out))
      if (smallVecs) broadcast(s) else s
    }
    pairs
      .join(side("a", "va"), "a")
      .join(side("b", "vb"), "b")
      .withColumn("sim", expr("graft_dot(va, vb)"))
      .select(explode(array(
        struct(col("a").as("id"), col("b").as("nbr"), col("sim").as("sim")),
        struct(col("b").as("id"), col("a").as("nbr"), col("sim").as("sim"))))
        .as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"), col("e.sim").as("sim"))
  }

  /** Keep each node's k best (sim desc, nbr asc) via the TopKPerKey heap
    * operator — this repo's own group-limit, no per-node sort. Callers
    * guarantee (id, nbr) uniqueness BY CONSTRUCTION (distinct pair sets,
    * existing edges anti-joined out of each round's candidates): a
    * duplicate edge would occupy two of the k slots, and a dedupe
    * aggregation here would re-shuffle the full edge set every round —
    * the suite's structure test would catch a violated guarantee. */
  private def topK(edges: DataFrame, k: Int): DataFrame =
    graft.operators.GroupLimits.topKPerKey(
      edges, Seq("id"), Seq(col("sim").desc, col("nbr")), k)

  /** Eagerly localCheckpoint `df`, then release the checkpoints a
    * superseded round pinned (ADVICE r6): round i's checkpoint blocks are
    * released as soon as round i+1's materialize, so repeated
    * [[build]]/[[search]] calls in a long-lived JVM cannot accumulate the
    * block-manager backlog docs/long-lived-spark-jvm-hygiene.md documents.
    * Returns the checkpointed frame (part of the next round's `prev`).
    * The FINAL round's blocks — and the `vecs`/`q` checkpoints the
    * returned plan still reads — stay pinned until the caller sweeps
    * (Bench's per-query sweep, or `SparkContext`'s cleaner). */
  private def checkpointReplacing(df: DataFrame, prev: Seq[DataFrame]): DataFrame = {
    val out = df.localCheckpoint() // eager: materialized before prev is dropped
    graft.operators.Scratch.release(prev: _*)
    out
  }

  /** The k-NN graph: (id, nbr, sim), exactly <= k rows per id, cosine
    * similarity, deterministic. `iters` NN-Descent rounds over an LSH
    * seed; recall against the brute-force graph rises with `iters`
    * (suite-pinned floors).
    *
    * `searchK` is the INTERNAL neighborhood width (default 3k): the
    * descent keeps searchK candidates per node and emits the top k at the
    * end. Oversampling is the standard NN-Descent lever for
    * weak-structure metrics — neighbor-of-neighbor signal compounds with
    * the square of the retained degree, which is exactly what
    * structureless (e.g. Gaussian-noise) regions of an embedding space
    * need; on manifold-structured real corpora searchK = k already
    * converges. */
  def build(emb: DataFrame, k: Int, iters: Int,
            seedBands: Int = 6, seedBits: Int = 5,
            hotCap: Int = 256, searchK: Int = 0,
            minUpdateFrac: Double = 0.0): DataFrame =
    buildWithRounds(emb, k, iters, seedBands, seedBits, hotCap, searchK,
      minUpdateFrac)._1

  /** [[build]] plus the number of descent rounds actually run (== `iters`
    * unless `minUpdateFrac` stopped it early) — returned to the caller
    * instead of a shared JVM global so concurrent builds cannot race on a
    * diagnostic. */
  private[graft] def buildWithRounds(emb: DataFrame, k: Int, iters: Int,
            seedBands: Int = 6, seedBits: Int = 5,
            hotCap: Int = 256, searchK: Int = 0,
            minUpdateFrac: Double = 0.0): (DataFrame, Int) = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got k=$k iters=$iters")
    require(minUpdateFrac >= 0.0 && minUpdateFrac < 1.0,
      s"minUpdateFrac must be in [0, 1), got $minUpdateFrac")
    val kk = if (searchK > 0) searchK else 3 * k
    require(kk >= k, s"searchK must be >= k; got $searchK < $k")
    val vecs = normalized(emb).localCheckpoint()
    // one count on the checkpointed vectors decides the gather shape for
    // the whole build: 64 dims x 8 bytes -> broadcast under ~64 MB
    val n = vecs.count()
    val smallVecs = n * 64L * 8L < 64L * 1024 * 1024
    var g = topK(
      scoreBoth(lshSeedPairs(vecs, seedBands, seedBits, hotCap), vecs, smallVecs), kk)
    var pinned = Seq.empty[DataFrame] // checkpoints the next round supersedes
    var converged = false
    var rounds = 0
    // does `g` already sit on a materialized checkpoint? (the convergence
    // branch checkpoints its round result for the update count — re-
    // checkpointing it at the top of the next round would be a redundant
    // full block copy per round)
    var checkpointed = false
    for (_ <- 1 to iters if !converged) {
      rounds += 1
      // materialize the incoming graph ONCE per round: it feeds three
      // consumers below (adjacency, known-pair anti join, edge union) and
      // is itself the previous round's full pipeline — without this the
      // seed/previous round recomputes per consumer and the loop's plan
      // depth grows exponentially. n·searchK rows, KBs per thousand nodes.
      // The superseded round's checkpoint blocks are dropped eagerly.
      if (!checkpointed) {
        g = checkpointReplacing(g, pinned)
        pinned = Seq(g)
      }
      val cg = g
      // the round's own result stays un-checkpointed: the next round (or
      // the final topK below) materializes it, and the returned frame's
      // plan remains inspectable (callers reusing it repeatedly can
      // checkpoint it themselves)
      val (next, adj) = descentRound(g, vecs, smallVecs, kk)
      pinned :+= adj
      if (minUpdateFrac > 0.0) {
        // NN-Descent's standard convergence rule: stop when the round
        // changed fewer than minUpdateFrac of the n·searchK graph slots
        // (Dong et al.'s delta). Costs one anti-join count per round —
        // linear — and saves whole O(n·k²) rounds once neighborhoods
        // stop moving (weekly-refresh corpora converge long before a
        // fixed iteration budget runs out). The count forces `next`, so
        // checkpoint it FIRST — otherwise the round's full pipeline runs
        // once for the count and again for the next consumer. The
        // PREVIOUS round's blocks stay pinned through the anti-join (it
        // reads them; a truncated-lineage checkpoint cannot recompute),
        // then drop.
        val cn = checkpointReplacing(next, Seq.empty)
        val updates = cn.join(cg, Seq("id", "nbr"), "left_anti").count()
        graft.operators.Scratch.release(pinned: _*)
        g = cn; pinned = Seq(cn); checkpointed = true
        converged = updates <= (minUpdateFrac * n * kk).toLong
      } else {
        g = next
        checkpointed = false
      }
    }
    (if (kk == k) g else topK(g, k), rounds)
  }

  /** One NN-Descent round over graph `g`: neighbor-of-neighbor candidates
    * through the undirected-adjacency self-join, known edges anti-joined
    * out, fresh pairs scored, each node's best `kk` kept. Shared verbatim
    * by [[build]]'s loop and [[append]]'s refinement — one implementation,
    * one set of plan-shape guarantees.
    *
    * The undirected adjacency is CHECKPOINTED per round (guide §2.4;
    * VERDICT r17 next #3): it feeds three consumers (both self-join sides
    * and the known-pair filter), and through round 17 their sharing
    * depended on AQE exchange reuse recognizing the identical subtrees —
    * one missed canonicalization and the O(n·k) distinct re-ran per
    * consumer. The materialized copy makes the sharing unconditional
    * (plan: Exchange 20 → 16 on q_knn_graph/_append), and
    * [[graft.operators.LoopCheckpoint.keyed]] additionally pre-partitions
    * it on `id` — the self-join key — when it is big enough for the
    * round's exchanges to matter. Returns the round's result plus the
    * checkpointed adjacency; the CALLER folds it into its
    * round-superseded set so it is released once the next round (or the
    * convergence count) materializes — never while the returned lazy plan
    * still needs it. */
  private def descentRound(g: DataFrame, vecs: DataFrame, smallVecs: Boolean,
                           kk: Int): (DataFrame, DataFrame) = {
    // undirected adjacency: a node's candidates are its neighbors' full
    // neighborhoods in BOTH edge directions (the NN-Descent join)
    val adj = graft.operators.LoopCheckpoint.keyed(
      g.select(col("id"), col("nbr"))
        .unionByName(g.select(col("nbr").as("id"), col("id").as("nbr")))
        .distinct(), "id")
    val cand = adj.as("x").join(adj.as("y"), "id")
      .filter(col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("a"), col("y.nbr").as("b"))
      .distinct()
    // drop pairs already in the graph: no rescoring of known edges, and
    // the union below stays (id, nbr)-unique without a dedupe shuffle.
    // The unordered known-pair set is exactly the id < nbr half of the
    // (already distinct) undirected adjacency above — derive it by a
    // map-side filter of the checkpointed frame instead of re-scanning g
    // through a second distinct shuffle.
    val known = adj.filter(col("id") < col("nbr"))
      .select(col("id").as("a"), col("nbr").as("b"))
    val fresh = cand.join(known, Seq("a", "b"), "left_anti")
    (topK(g.unionByName(scoreBoth(fresh, vecs, smallVecs)), kk), adj)
  }

  /** Graph-ANN SEARCH: top-k corpus neighbors for each (possibly
    * out-of-corpus) query vector by iterative BEAM descent over a prebuilt
    * [[build]] graph — the serving half that turns the k-NN graph from a
    * dataset into an index (the role greedy search plays in HNSW-class
    * structures, formulated join-shaped like the rest of this module).
    *
    * Shape per round — every step an equi-join or this repo's TopKPerKey
    * heap, nothing touches the n·m pair space:
    *   1. expand: current beam (q_id, id) ⋈ undirected adjacency on id →
    *      candidate (q_id, nbr) pairs, bounded by |beam|·degree per query;
    *   2. dedup + anti-join the visited set (each candidate is scored at
    *      most once per query — eviction from the beam cannot cause
    *      rescoring loops);
    *   3. gather + score: candidates ⋈ corpus vectors on id (broadcast
    *      under the measured 64 MB bound, else id-hash shuffle) ⋈ query
    *      vectors on q_id, sim = graft_dot of unit vectors;
    *   4. reduce: beam = top `beam` of (old beam ∪ fresh) per q_id via
    *      TopKPerKey, ties to the lower id.
    *
    * Entry points are the `entries` highest-undirected-degree graph nodes
    * (hubs reach the most of the graph in one hop — the role HNSW's upper
    * layers give their entry point), ties to the lower id; they reach the
    * driver as an O(entries) collect and reach each query map-side via
    * explode — no cross join anywhere in the plan (suite-pinned).
    *
    * The query side is TABLE-SCALE: queries flow through the expand/score
    * joins hash-partitioned on q_id like any fact table — no collect, no
    * per-query driver loop. Work per round is O(|Q|·beam·degree) scored
    * candidates; state is the beam (|Q|·beam rows) plus the visited set
    * (grows by the candidates actually scored — linear per round).
    *
    * Deterministic: LCG-free (entry choice, scoring, and every tie-break
    * are order-fixed), so results are identical across partitionings
    * (suite-pinned). Recall vs the brute witness rises with `beam` and
    * `rounds` (suite-pinned floors); `beam` defaults to 3k — the same
    * oversampling lever [[build]]'s searchK uses, for the same
    * weak-structure reason. */
  def search(graph: DataFrame, emb: DataFrame, queries: DataFrame,
             k: Int, beam: Int = 0, rounds: Int = 2,
             entries: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 0 && entries >= 1,
      s"need k >= 1, rounds >= 0, entries >= 1; got k=$k rounds=$rounds entries=$entries")
    val b = if (beam > 0) beam else 3 * k
    require(b >= k, s"beam must be >= k; got $beam < $k")
    val vecs = normalized(emb).localCheckpoint()
    val smallVecs = vecs.count() * 64L * 8L < 64L * 1024 * 1024
    val q = normalized(queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")).localCheckpoint()
    val smallQ = q.count() * 64L * 8L < 64L * 1024 * 1024
    // undirected adjacency, materialized once: every round's expand joins
    // it on id — loop-static, so key-partitioned when big enough
    // ([[graft.operators.LoopCheckpoint.keyed]])
    val adj = graft.operators.LoopCheckpoint.keyed(
      graph.select(col("id"), col("nbr"))
        .unionByName(graph.select(col("nbr").as("id"), col("id").as("nbr")))
        .distinct(), "id")
    val entryIds: Array[Long] = adj.groupBy("id").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("id")).limit(entries)
      .collect().map(_.getLong(0))
    def score(cand: DataFrame): DataFrame = {
      val corpusSide = {
        val s = vecs.select(col("vec_id").as("id"), col("v"))
        if (smallVecs) broadcast(s) else s
      }
      cand.join(corpusSide, "id")
        .join(if (smallQ) broadcast(q) else q, "q_id")
        .withColumn("sim", expr("graft_dot(qv, v)"))
        .select(col("q_id"), col("id"), col("sim"))
    }
    def topB(df: DataFrame, n: Int): DataFrame =
      GroupLimits.topKPerKey(df, Seq("q_id"), Seq(col("sim").desc, col("id")), n)
    val entry = q.select(col("q_id"))
      .withColumn("id", explode(typedlit(entryIds.toSeq)))
    var bm = topB(score(entry), b)
    var visited = entry
    var pinned = Seq.empty[DataFrame]
    for (_ <- 1 to rounds) {
      // checkpoint BOTH round states before dropping either superseded
      // checkpoint: the visited plan references the previous beam's blocks
      // (through the candidate anti-join), so a one-at-a-time
      // replace-and-drop would unpersist blocks the other frame still reads
      bm = bm.localCheckpoint()
      visited = visited.localCheckpoint()
      graft.operators.Scratch.release(pinned: _*)
      pinned = Seq(bm, visited)
      val cand = bm.select(col("q_id"), col("id")).join(adj, "id")
        .select(col("q_id"), col("nbr").as("id")).distinct()
        .join(visited, Seq("q_id", "id"), "left_anti")
      bm = topB(bm.unionByName(score(cand)), b)
      visited = visited.unionByName(cand)
    }
    // the returned plan reads only this final checkpoint (made here so the
    // final topK doesn't re-run the last round per action) plus vecs/q;
    // the last round's beam/visited blocks are dead state — release them
    val fin = checkpointReplacing(bm, pinned)
    topB(fin, k).select(col("q_id"), col("id").as("nbr"), col("sim"))
  }

  /** Incremental graph growth: insert a BATCH of new vectors into a
    * prebuilt [[build]] graph without reconstructing it — the operation a
    * weekly-refreshed 100 TB embedding store actually runs (the same
    * contract [[graft.operators.DedupIndex.append]] and
    * [[IvfIndex.appendToIndex]] give their families; this completes
    * incremental growth across all three index families).
    *
    * The HNSW insert loop ("greedy-search the graph built so far, connect
    * to what you find") is inherently sequential; this is its BATCHED,
    * join-shaped reformulation:
    *   1. link new -> old: every new vector beam-searches the EXISTING
    *      graph ([[search]] — table-scale query side, |B| queries at
    *      once), giving each its k best reachable old neighbors;
    *   2. link new -> new: the batch's internal near pairs from the same
    *      LSH seeding [[build]] uses (an arrival batch is tiny next to
    *      the corpus, but its internal dups/clusters must still connect);
    *   3. merge: old edges ∪ new->old ∪ old->new (reversed) ∪ new-new,
    *      each node's best kept via the TopKPerKey heap — the reverse
    *      edges are what stitch new nodes INTO old neighborhoods so they
    *      are reachable, not merely attached;
    *   4. refine: `iters` standard NN-Descent rounds over the merged
    *      graph ([[descentRound]] — the exact code [[build]] runs), which
    *      repairs the local neighborhoods the approximate insert missed.
    *
    * Cost: the search rounds + O((n+|B|)·k²) per refinement round — never
    * a rebuild's LSH pass over the full corpus, never n². Deterministic
    * for the usual reasons (LCG seeding, fixed tie-breaks); recall vs the
    * brute-force graph over A ∪ B is suite-pinned against the full
    * rebuild's. NOT a dedup substitute: `graph` must be over `emb`
    * exactly, and new vec_ids must be unseen. */
  /** Step 1 of [[append]] alone — the new->old beam-search links, a PURE
    * function of (graph, corpus, batch): exposed so a serving layer that
    * replays the same append (retry, bench, A/B of refinement settings)
    * can compute the search phase once ([[graft.operators.Memo.frame]])
    * and pass it back via `append(links = ...)`. */
  def appendLinks(graph: DataFrame, emb: DataFrame, newEmb: DataFrame, k: Int,
                  beam: Int = 0, rounds: Int = 2, searchK: Int = 0): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    val kk = if (searchK > 0) searchK else 3 * k
    require(kk >= k, s"searchK must be >= k; got $searchK < $k")
    search(graph, emb, newEmb, kk, beam, rounds)
      .select(col("q_id").as("id"), col("nbr"), col("sim"))
  }

  def append(graph: DataFrame, emb: DataFrame, newEmb: DataFrame, k: Int,
             iters: Int = 1, beam: Int = 0, rounds: Int = 2,
             seedBands: Int = 6, seedBits: Int = 5,
             hotCap: Int = 256, searchK: Int = 0,
             links: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got k=$k iters=$iters")
    // the refinement needs [[build]]'s oversampled degree (searchK = 3k
    // default): at plain degree k the neighbor-of-neighbor signal is too
    // weak on structureless regions — measured flat-recall without it
    val kk = if (searchK > 0) searchK else 3 * k
    require(kk >= k, s"searchK must be >= k; got $searchK < $k")
    val newToOld = links.getOrElse(
      appendLinks(graph, emb, newEmb, k, beam, rounds, searchK))
    val newVecs = normalized(newEmb).localCheckpoint()
    val smallNew = newVecs.count() * 64L * 8L < 64L * 1024 * 1024
    val nn = scoreBoth(lshSeedPairs(newVecs, seedBands, seedBits, hotCap),
      newVecs, smallNew)
    // (id, nbr) uniqueness across the union holds by DOMAIN disjointness:
    // graph is old->old, newToOld new->old, its reverse old->new, nn
    // new<->new (both directions in one frame) — no two legs can emit
    // the same directed edge
    val merged = topK(graph
      .unionByName(newToOld)
      .unionByName(newToOld.select(col("nbr").as("id"), col("id").as("nbr"),
        col("sim")))
      .unionByName(nn),
      kk)
    var g = merged
    if (iters > 0) {
      val vecs = normalized(emb.unionByName(newEmb)).localCheckpoint()
      val smallVecs = vecs.count() * 64L * 8L < 64L * 1024 * 1024
      var pinned = Seq.empty[DataFrame]
      for (_ <- 1 to iters) {
        g = checkpointReplacing(g, pinned)
        val (next, adj) = descentRound(g, vecs, smallVecs, kk)
        pinned = Seq(g, adj)
        g = next
      }
    }
    if (kk == k) g else topK(g, k)
  }

  // ---------------------------------------------------------------------
  // Persisted index: the path-backed layout that makes the graph an index
  // that OUTLIVES the building session — the same contract DedupIndex
  // (build/append/dedupAgainst by path) and IvfIndex (buildIndex/
  // appendToIndex/searchIndex by path) give their families. Layout:
  //
  //   path/meta            one-row json: k + the build parameters
  //   path/vectors/batch=V raw (vec_id, embedding) — batch 0 is the base
  //                        corpus, batch N is append N's arrivals
  //   path/edges/v=V       the FULL merged (id, nbr, sim) graph over
  //                        vectors batches 0..V
  //
  // Commit protocol (single writer, at-least-once safe): an append writes
  // vectors/batch=N FIRST, then edges/v=N — the edge dir's `_SUCCESS` is
  // the commit point. Readers resolve "current" as the highest edge
  // version with `_SUCCESS` and read exactly the vector batches <= it, so
  // a crash between the two writes leaves an orphan vector batch that no
  // read ever sees (and [[cleanupUncommittedIndex]] deletes). A RETRY of
  // the same version overwrites its own dirs — idempotent, the building
  // block the streaming ingest sink needs.
  //
  // Scale shape: vectors append per-batch (never rewritten); edges are
  // n·k rows — linear state — and each append rewrites them once, which
  // is the honest cost of NN-Descent refinement touching old nodes'
  // neighborhoods (the refinement is WHY append == rebuild holds; an
  // edge-append-only variant would freeze old nodes' views of the world).
  // ---------------------------------------------------------------------

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Edge versions with a `_SUCCESS` commit marker, ascending. */
  private def committedVersions(spark: org.apache.spark.sql.SparkSession,
                                path: String): Seq[Long] = {
    val (fs, p) = hadoopFs(spark, s"$path/edges")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/edges/v=$v/_SUCCESS")))
      .sorted
  }

  /** Highest committed version — what every read resolves against. */
  def currentVersion(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"no committed graph index at $path")
    vs.max
  }

  case class IndexMeta(k: Int, iters: Int, seedBands: Int, seedBits: Int,
                       hotCap: Int, searchK: Int)

  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String, m: IndexMeta): Unit = {
    import spark.implicits._
    Seq((m.k, m.iters, m.seedBands, m.seedBits, m.hotCap, m.searchK))
      .toDF("k", "iters", "seed_bands", "seed_bits", "hot_cap", "search_k")
      .repartition(1).write.mode("overwrite").json(s"$path/meta")
  }

  /** The parameters the index was built with — appends reuse them so the
    * stored graph's degree/oversampling regime cannot drift batch-over-
    * batch. */
  def indexMeta(spark: org.apache.spark.sql.SparkSession, path: String): IndexMeta = {
    val r = spark.read.json(s"$path/meta").collect().head
    IndexMeta(r.getAs[Long]("k").toInt, r.getAs[Long]("iters").toInt,
      r.getAs[Long]("seed_bands").toInt, r.getAs[Long]("seed_bits").toInt,
      r.getAs[Long]("hot_cap").toInt, r.getAs[Long]("search_k").toInt)
  }

  /** The committed corpus at `version`: exactly vector batches 0..version
    * (an orphan batch a crashed append left behind is above every
    * committed edge version by the write order, so it never appears). */
  def indexVectors(spark: org.apache.spark.sql.SparkSession, path: String,
                   version: Long): DataFrame =
    spark.read.option("basePath", s"$path/vectors").parquet(s"$path/vectors")
      .filter(col("batch") <= version).select("vec_id", "embedding")

  /** The committed graph at `version` — (id, nbr, sim), [[build]]'s exact
    * output shape. */
  def indexEdges(spark: org.apache.spark.sql.SparkSession, path: String,
                 version: Long): DataFrame =
    spark.read.parquet(s"$path/edges/v=$version").select("id", "nbr", "sim")

  /** Build THE persisted graph index in one call: run [[build]], store the
    * corpus as vectors batch 0 and the graph as edges v=0, record the
    * parameters. After this, [[searchIndex]]/[[appendToIndex]] need only
    * the path — no in-memory state from the building session. */
  def buildIndex(emb: DataFrame, k: Int, iters: Int, path: String,
                 seedBands: Int = 6, seedBits: Int = 5,
                 hotCap: Int = 256, searchK: Int = 0): Unit = {
    val spark = emb.sparkSession
    // a rebuild must not leave a previous build's higher versions behind —
    // but wipe ONLY a path that is empty or already holds a graft index
    // (meta/ or edges/ present): a recursive delete of a mistyped or
    // shared directory would silently destroy unrelated data
    val (fs, root) = hadoopFs(spark, path)
    if (fs.exists(root)) {
      val children = fs.listStatus(root).map(_.getPath.getName).toSet
      require(children.isEmpty || children.contains("meta") || children.contains("edges"),
        s"refusing to wipe $path: it exists but does not look like a graph index " +
          s"(found ${children.take(5).mkString(", ")}); delete it yourself if intended")
      fs.delete(root, true)
    }
    writeIndexMeta(spark, path, IndexMeta(k, iters, seedBands, seedBits,
      hotCap, if (searchK > 0) searchK else 3 * k))
    emb.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/vectors/batch=0")
    build(emb, k, iters, seedBands, seedBits, hotCap, searchK)
      .write.mode("overwrite").parquet(s"$path/edges/v=0")
  }

  /** Beam search ([[search]]) against the CURRENT committed version of the
    * index at `path` — the serving call a SQL-only or cross-session
    * consumer runs. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, k: Int, beam: Int = 0,
                  rounds: Int = 2): DataFrame = {
    val v = currentVersion(spark, path)
    search(indexEdges(spark, path, v), indexVectors(spark, path, v),
      queries, k, beam, rounds)
  }

  /** Idempotent versioned append: insert `newEmb` into the stored graph
    * via [[append]] (beam-link new->old, LSH-seed new-new, refine with the
    * index's own NN-Descent regime) and commit it as `version`. The caller
    * names the version (>= 1, exactly prevCommitted+1); a RETRY of the
    * same version overwrites its own dirs — the exactly-once building
    * block for at-least-once callers (the streaming ingest sink). */
  def appendVersion(spark: org.apache.spark.sql.SparkSession, path: String,
                    newEmb: DataFrame, version: Long): Unit = {
    val prev = currentVersion(spark, path)
    // version == prev is a RETRY of the committed head (at-least-once
    // redelivery after a crash that may or may not have committed). The
    // append is deterministic, so the committed content IS what this call
    // would write — make the retry a NO-OP instead of overwriting:
    // rewriting vectors/batch=prev while edges/v=prev/_SUCCESS still
    // exists would open a window where a concurrent searchIndex resolves
    // currentVersion=prev and reads a deleted/partial vector batch.
    // Anything below prev would rewrite history; above prev+1 would skip.
    require(version == prev || version == prev + 1,
      s"append version must be current+1 (=${prev + 1}) or a retry of current (=$prev), got $version")
    require(version >= 1, s"version must be >= 1 (0 is the base build), got $version")
    if (version == prev) return
    val m = indexMeta(spark, path)
    // project to the stored 2-column shape up front: the refinement unions
    // old (stored) and new vectors, so their schemas must agree exactly
    val batch = newEmb.select(col("vec_id"), col("embedding"))
    batch.write.mode("overwrite").parquet(s"$path/vectors/batch=$version")
    // read version-1's state explicitly (never "current": neither a
    // half-failed retry's orphan vector batch nor the committed head a
    // retry is overwriting may leak into its own rebuild)
    val g = indexEdges(spark, path, version - 1)
    val old = indexVectors(spark, path, version - 1)
    append(g, old, batch, m.k, m.iters, beam = 0, rounds = 2,
      m.seedBands, m.seedBits, m.hotCap, m.searchK)
      .write.mode("overwrite").parquet(s"$path/edges/v=$version")
  }

  /** Non-streaming append: next free version, NOT retry-safe (a retried
    * call double-inserts under a new version) — at-least-once callers use
    * [[appendVersion]] with their own version id. Returns the number of
    * vectors appended. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newEmb: DataFrame): Long = {
    appendVersion(spark, path, newEmb, currentVersion(spark, path) + 1)
    newEmb.count()
  }

  /** Delete orphan vector batches a crashed append left above the highest
    * committed edge version. Single-writer only (concurrent with a live
    * append this would eat its half-written output). */
  def cleanupUncommittedIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String): Unit = {
    recoverCompactVectors(spark, path)
    val cur = committedVersions(spark, path).maxOption.getOrElse(-1L)
    val (fs, p) = hadoopFs(spark, s"$path/vectors")
    if (fs.exists(p)) fs.listStatus(p).toSeq.map(_.getPath)
      .filter { d =>
        scala.util.Try(d.getName.stripPrefix("batch=").toLong)
          .toOption.exists(_ > cur)
      }
      .foreach(fs.delete(_, true))
    // an edge dir without _SUCCESS is also dead weight
    val (efs, ep) = hadoopFs(spark, s"$path/edges")
    if (efs.exists(ep)) efs.listStatus(ep).toSeq.map(_.getPath)
      .filter(d => !efs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      .foreach(efs.delete(_, true))
  }

  /** Garbage-collect superseded graph versions: delete committed
    * `edges/v=N` directories older than the newest `keep` (each one is a
    * FULL n·k graph copy — under weekly appends, storage and directory-
    * listing cost otherwise grow without bound). Vector batches are NOT
    * touched: they are per-batch deltas, and version V's corpus is the
    * union of batches 0..V, so every batch <= current is still live.
    * Single-writer only (same discipline as [[cleanupUncommittedIndex]]);
    * reads of the current version — the only version the serving API
    * ([[searchIndex]]/[[appendToIndex]]) ever resolves — are unaffected.
    * Returns the versions deleted. */
  def pruneVersions(spark: org.apache.spark.sql.SparkSession, path: String,
                    keep: Int = 1): Seq[Long] = {
    require(keep >= 1, s"must keep at least the current version, got keep=$keep")
    val vs = committedVersions(spark, path)
    val doomed = vs.dropRight(keep)
    val (fs, _) = hadoopFs(spark, path)
    doomed.foreach { v =>
      // drop the commit marker FIRST: a reader listing versions mid-delete
      // sees an uncommitted dir (which every read path already skips),
      // never a committed dir with half its parquet missing
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/edges/v=$v/_SUCCESS"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/edges/v=$v"), true)
    }
    doomed
  }

  /** Fold vector batches into one directory per *still-committed* edge
    * version — the maintenance op that finishes storage hygiene for this
    * family ([[pruneVersions]] GCs superseded edge copies; without this,
    * `vectors/batch=V` dirs still accumulate one per append forever, and
    * file-listing cost per read grows per batch). All batches at or below
    * the OLDEST committed edge version fold into `batch=<that version>`;
    * batches above it (at most `keep-1` after a prune) are rewritten
    * unchanged — so `indexVectors(v)` returns the identical corpus for
    * EVERY committed version v, before and after (suite-pinned). After
    * `pruneVersions(keep=1)` this folds the whole corpus into one dir.
    *
    * Crash-safe by content-preservation (the [[IvfIndex.compactCells]]
    * pattern): the full new layout lands under a staging dir, then swaps
    * in with one rename pair — every crash state is the old layout, the
    * new, or a loud missing-dir error, never a partial union.
    * Single-writer, QUIESCED (a concurrent append would write its batch
    * into the dir mid-swap). Returns the number of dirs folded away. */
  /** Recovery for a [[compactVectors]] crashed at any point
    * ([[graft.streaming.VersionedState.recoverSwap]] — the shared
    * compactor discipline). Runs from [[cleanupUncommittedIndex]], i.e.
    * at every index write entry. */
  private def recoverCompactVectors(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Unit =
    graft.streaming.VersionedState.recoverSwap(spark,
      live = s"$path/vectors", old = s"$path/vectors_old",
      stage = s"$path/vectors_compact")

  def compactVectors(spark: org.apache.spark.sql.SparkSession,
                     path: String): Int = {
    cleanupUncommittedIndex(spark, path) // orphans must not be folded in; also recovers a crashed compact
    val vs = committedVersions(spark, path)
    require(vs.nonEmpty, s"no committed graph index at $path")
    val vmin = vs.min
    val (fs, vroot) = hadoopFs(spark, s"$path/vectors")
    val batches = fs.listStatus(vroot).toSeq.map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      .sorted
    if (batches.count(_ <= vmin) <= 1) return 0
    spark.read.option("basePath", s"$path/vectors").parquet(s"$path/vectors")
      .filter(col("batch") <= vmin).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$path/vectors_compact/batch=$vmin")
    batches.filter(_ > vmin).foreach { b =>
      spark.read.parquet(s"$path/vectors/batch=$b").select("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$path/vectors_compact/batch=$b")
    }
    val old = new org.apache.hadoop.fs.Path(s"$path/vectors_old")
    fs.delete(old, true)
    require(fs.rename(vroot, old), s"compactVectors: could not stage vectors aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/vectors_compact"), vroot),
      s"compactVectors: could not swap in compacted vectors (originals at vectors_old)")
    fs.delete(old, true)
    batches.count(_ <= vmin) - 1
  }

  /** Brute-force search witness: exact top-k corpus neighbors per query,
    * O(n·m); testdata scales only. Same output shape/tie rule as
    * [[search]]. */
  def bruteForceSearch(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val pairs = normalized(queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(normalized(emb).select(col("vec_id").as("nbr"), col("v")))
      .withColumn("sim", expr("graft_dot(qv, v)"))
      .select(col("q_id"), col("nbr"), col("sim"))
    GroupLimits.topKPerKey(pairs, Seq("q_id"), Seq(col("sim").desc, col("nbr")), k)
  }

  /** Brute-force k-NN graph — the exact witness the suite measures
    * [[build]]'s recall against. O(n²); testdata scales only. */
  def bruteForce(emb: DataFrame, k: Int): DataFrame = {
    val vecs = normalized(emb)
    val pairs = vecs.select(col("vec_id").as("a"), col("v").as("va"))
      .join(vecs.select(col("vec_id").as("b"), col("v").as("vb")),
        col("a") < col("b"))
      .withColumn("sim", expr("graft_dot(va, vb)"))
      .select("a", "b", "sim")
    topK(pairs.select(col("a").as("id"), col("b").as("nbr"), col("sim"))
      .unionByName(pairs.select(col("b").as("id"), col("a").as("nbr"), col("sim"))), k)
  }
}
