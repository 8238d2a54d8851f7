package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Materialization discipline for LOOP-STATIC join inputs (PageRank's
  * degree-annotated edge list, LabelPropagation's adjacency, KnnGraph's
  * per-round adjacency): localCheckpoint once, and pre-partition (+
  * pre-sort) on the per-round join key ONLY when the frame is big enough
  * for per-round shuffles to matter.
  *
  * What the large branch does and does not give: its checkpoint's rows
  * are hash-clustered and sorted on the key (LoopCheckpointSuite checks
  * this), but the planner cannot see it. Under AQE (the default), Spark
  * 4.1's localCheckpoint records the adaptive plan's
  * UnknownPartitioning(0) and an empty ordering, so a round's equi-join
  * on the key still plans its Exchanges: the branch pays one extra
  * shuffle and materialization that no round saves. A checkpoint that
  * declares its partitioning is ROADMAP direction 2.
  *
  * Why gated (optimization guide §2.4 + VERDICT r17 #2): the repartition
  * pins a FIXED partition count (spark.sql.shuffle.partitions) into every
  * round: on the harness's single-row-group testdata, where whole queries
  * are AQE stage-latency-bound and every frame coalesces to one task, that
  * turns each round's tiny join into a cores-wide stage and measures 5-15 %
  * SLOWER (round-18 alternating A/B of q_graph_pagerank,
  * q_graph_communities — the same mechanism as round 17's rejected
  * scan-spreading). Below the threshold the plain checkpoint is returned
  * (AQE coalesces the round joins); above it the frame is re-checkpointed
  * key-partitioned, a pass meant to be amortized against iters-1 saved
  * full-frame shuffles once the planner can see the partitioning (it
  * cannot today, see above).
  *
  * The threshold is the checkpointed frame's MEASURED storage size
  * (deterministic input → same decision every run; and both shapes
  * produce identical results anyway — the gate moves exchanges, never
  * values), conf-overridable so a cluster deployment can tune it without
  * a rebuild. 256 MB default: ~2 shuffle partitions' worth at the guide's
  * 100 MB-1 GB sizing — below that, a per-round shuffle is one fetch
  * wave and the extra build exchange cannot amortize.
  */
object LoopCheckpoint {

  val ThresholdKey = "spark.graft.loop.prepartitionBytes"
  val DefaultThreshold: Long = 256L * 1024 * 1024

  /** Eagerly checkpoint `df`; if its materialized size crosses the
    * threshold, replace the checkpoint with one hash-partitioned and
    * sorted on `key` (the per-round join key) and release the plain
    * copy's blocks. Returns the frame plus the persistent-RDD ids it
    * pins (callers that sweep superseded round state fold them in;
    * others rely on the harness sweep, as before). */
  def keyed(df: DataFrame, key: String): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    // both delta windows and the release hold Scratch.trackLock, like every
    // other attribution site: a concurrent pipeline's eager checkpoint must
    // not land inside them and be released as this call's plain copy
    val (cp, pinned) = Scratch.trackLock.synchronized {
      val before = sc.getPersistentRDDs.keySet
      val cp = df.localCheckpoint()
      (cp, sc.getPersistentRDDs.keySet.diff(before).toSet)
    }
    val bytes = sc.getRDDStorageInfo
      .filter(i => pinned.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    val threshold = df.sparkSession.conf
      .get(ThresholdKey, DefaultThreshold.toString).toLong
    if (bytes < threshold) (cp, pinned)
    else Scratch.trackLock.synchronized {
      val beforeRe = sc.getPersistentRDDs.keySet
      val re = cp.repartition(col(key)).sortWithinPartitions(key)
        .localCheckpoint()
      val rePinned = sc.getPersistentRDDs.keySet.diff(beforeRe).toSet
      val live = sc.getPersistentRDDs
      pinned.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
      (re, rePinned)
    }
  }
}
