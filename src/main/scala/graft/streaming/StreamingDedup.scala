package graft.streaming

import graft.operators.{CommunityIndex, ConnectedComponents, DedupIndex}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-dup gate over the persisted [[DedupIndex]] — the shape a
  * 100 TB ingestion pipeline actually runs: documents arrive as a stream,
  * each micro-batch is deduped against EVERYTHING accepted so far (the
  * index — never rescanning yesterday's text, one band join per batch),
  * survivors are appended to the index so the NEXT batch dedups against
  * them, and the accepted/pair feeds land as per-batch parquet.
  *
  * Semantics (greedy streaming dedup, the industry-standard rule):
  *   - a batch doc near-dup (jaccard >= threshold) of an already-ACCEPTED
  *     doc is rejected;
  *   - among the remaining batch docs, near-dup CLUSTERS (transitive
  *     closure over in-batch pairs, [[ConnectedComponents]] in O(log n)
  *     rounds) keep only their minimum doc_id as canonical.
  *   Arrival order therefore decides WHICH member of a cluster survives
  *   (the first-seen one), as in any streaming dedup; the invariant that
  *   does NOT depend on order — no two accepted docs form a near-dup pair,
  *   every rejected doc has a near-dup partner — is suite-pinned.
  *
  * Exactly-once on top of foreachBatch's at-least-once retries, with the
  * same versioned-commit discipline as [[EventStreams.applyCdcBatch]]:
  * batch b writes index version b+1 (version 0 is the base corpus build);
  * a version exists only once all subtables carry `_SUCCESS`
  * ([[DedupIndex.isCommitted]]). A retried batch first sweeps any
  * half-written version dirs ([[DedupIndex.cleanupUncommitted]]) so the
  * index it reads holds exactly the committed prefix, and — because the
  * accepted/pairs outputs are written BEFORE the index append, both
  * per-batch overwrites — a batch whose version is already committed has
  * nothing left to do and is skipped whole. Scale shape per batch: one
  * band equi-join of the batch against the stored band table (partition-
  * pruned parquet), the CC rounds touch only in-batch pairs.
  */
object StreamingDedup {

  /** One micro-batch of the dedup gate (public so retry idempotence and
    * the order-free invariants are testable without driving a stream).
    * Expects (doc_id, text) with doc_ids never seen before. */
  def applyBatch(batch: DataFrame, indexPath: String, outDir: String,
                 batchId: Long): Unit = {
    val spark = batch.sparkSession
    val version = batchId + 1
    DedupIndex.cleanupUncommitted(spark, indexPath)
    // committed version => outputs (written strictly before the append)
    // are complete too: the whole batch already happened
    if (DedupIndex.isCommitted(spark, indexPath, version)) return

    // sweep this batch's checkpoint blocks on exit — a long-lived stream
    // must not accumulate per-batch blocks (docs/long-lived-spark-jvm-
    // hygiene.md); all three frames are fully consumed inside this call
    graft.operators.Scratch.withSweep(spark) {
      val docs = batch.select("doc_id", "text").localCheckpoint()
      // pairs against index ∪ batch, every pair touching a batch doc
      val pairs = DedupIndex.dedupAgainst(indexPath, docs).localCheckpoint()
      val indexIds = DedupIndex.indexedIds(spark, indexPath)

      // rejected outright: paired with an already-accepted (indexed) doc
      val rejIndexed = pairs
        .join(indexIds.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
        .select(col("d2").as("doc_id"))
        .unionByName(pairs
          .join(indexIds.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
          .select(col("d1").as("doc_id")))
        .distinct()

      // in-batch pairs among the survivors -> transitive clusters -> keep
      // the minimum doc_id of each component
      val survivors = docs.select("doc_id")
        .join(rejIndexed, Seq("doc_id"), "left_anti")
      val inBatch = pairs
        .join(survivors.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
        .join(survivors.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
      val (labels, _) = ConnectedComponents.run(
        inBatch.select(col("d1").as("u"), col("d2").as("v")))
      val rejClustered = labels.filter(col("u") =!= col("label"))
        .select(col("u").as("doc_id"))

      val accepted = docs
        .join(rejIndexed.unionByName(rejClustered), Seq("doc_id"), "left_anti")
        .localCheckpoint()

      // outputs first (overwrite-idempotent per batch), THEN the version
      // append — the commit point that marks the batch done
      accepted.write.mode("overwrite").parquet(s"$outDir/accepted/batch=$batchId")
      pairs.write.mode("overwrite").parquet(s"$outDir/pairs/batch=$batchId")
      DedupIndex.appendVersion(accepted, indexPath, version)
    }
  }

  /** Attach the gate to a streaming (doc_id, text) frame. `indexPath` must
    * hold a built index over the seed corpus (parquet schema inference
    * needs at least one data file, so an empty seed is not supported).
    * The checkpoint keeps batchIds monotonic across restarts — same
    * reasoning as [[EventStreams.cdcUpsertSink]]. */
  def dedupSink(docs: DataFrame, indexPath: String, outDir: String,
                checkpointDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir.getOrElse(s"$outDir.checkpoint"))
      .foreachBatch((b: Dataset[Row], id: Long) =>
        applyBatch(b.toDF(), indexPath, outDir, id))
      .start()

  /** All accepted docs so far (partition column `batch` = arrival batch). */
  def acceptedDocs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/accepted")

  /** All near-dup pairs observed so far, tagged by the batch that saw them. */
  def observedPairs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/pairs")

  /** Communities over the stream's accumulated near-dup evidence: LPA
    * ([[graft.operators.LabelPropagation]]) on the observed pair graph at
    * the CURRENT commit state — the graph-analytics view of a running
    * dedup stream (which template families keep arriving, which accepted
    * doc anchors each). Nodes are every accepted doc plus both endpoints
    * of every observed pair (a seed-index doc enters once it witnesses a
    * rejection). Recompute-per-call is the honest baseline: `iters`
    * synchronous rounds of O(|E|) equi-joins over a pair graph LINEAR in
    * rejections; [[refreshCommunities]] is the incremental form. */
  def communities(spark: SparkSession, outDir: String, iters: Int = 4): DataFrame = {
    val pairs = observedPairs(spark, outDir)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val nodes = acceptedDocs(spark, outDir).select(col("doc_id").as("id"))
      .unionByName(pairs.select(col("src").as("id")))
      .unionByName(pairs.select(col("dst").as("id")))
      .distinct()
    graft.operators.LabelPropagation.run(nodes, pairs, iters)
  }

  /** INCREMENTALLY maintained communities — the per-batch refresh that
    * replaces [[communities]]' full recompute in a long-running stream.
    * The state machine is [[graft.operators.CommunityIndex]] (versioned
    * labeling snapshots + accumulated adjacency deltas under `stateDir`;
    * crash hygiene, pruning and the frontier-driven refresh live there);
    * this wrapper derives the DELTA from the dedup stream's committed
    * outputs — pairs and accepted docs in batches above the labeling's
    * version watermark — and advances the index to the stream's current
    * maxBatch. Pair uniqueness across the index's life holds by stream
    * construction (a doc's pairs surface only the batch it arrives), so
    * the repeat-edge scan is skipped (`assumeUniqueDelta`).
    * Per-call SHUFFLE is ∝ the delta's neighborhood (the committed
    * labeling is the immutable base; rounds accumulate small overrides),
    * never O(|E|); the committed snapshot write is the one linear-in-|V|
    * step — columnar output, no shuffle. On a stable graph (no new
    * batches) the call is a pure read of the committed labeling. Cold
    * start seeds every node — a full convergence run, same code path. */
  def refreshCommunities(spark: SparkSession, outDir: String,
                         stateDir: String, maxRounds: Int = 50): DataFrame = {
    val pairsAll = observedPairs(spark, outDir)
    val acceptedAll = acceptedDocs(spark, outDir)
    val maxRow = pairsAll.select(col("batch").cast("long").as("b"))
      .unionByName(acceptedAll.select(col("batch").cast("long").as("b")))
      .agg(max(col("b"))).head()
    require(!maxRow.isNullAt(0), s"no committed dedup batches under $outDir")
    val maxBatch = maxRow.getLong(0)
    val committed = CommunityIndex.version(spark, stateDir)
    val (newPairs, newAccepted) = committed match {
      case None => (pairsAll, acceptedAll)
      case Some(v) => (pairsAll.filter(col("batch").cast("long") > v),
        acceptedAll.filter(col("batch").cast("long") > v))
    }
    CommunityIndex.advance(stateDir, maxBatch,
      newNodes = newAccepted.select(col("doc_id").as("id")),
      newEdges = newPairs.select(col("d1").as("src"), col("d2").as("dst")),
      maxRounds = maxRounds, assumeUniqueDelta = true)
  }
}
