package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Per-JVM scratch directories under java.io.tmpdir that clean themselves
  * up on JVM exit. Query-level operators that persist state between steps
  * (the dedup index, the CDC snapshot replay, the IVF index) write under a
  * deterministic per-(application, corpus) path so repeated invocations in
  * one bench/verify run overwrite instead of accumulate — but the JVM-exit
  * sweep is what keeps a fleet of test/bench JVMs from leaving one full
  * index copy per run behind in /tmp.
  */
object Scratch {
  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread("graft-scratch-sweep") {
      override def run(): Unit = registered.forEach(p => deleteRecursively(Paths.get(p)))
    })
  }

  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      try {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
        finally walk.close()
      } catch { case _: java.io.IOException => () } // best-effort: exit hygiene, not correctness
    }

  /** A deterministic scratch path `<tmpdir>/<prefix>-<app>-<corpusHash>`,
    * registered for recursive deletion at JVM exit. Deterministic within a
    * (application, corpus) pair so re-invocations overwrite their own
    * output; unique across concurrent applications via applicationId. */
  def dir(prefix: String, applicationId: String, corpus: String): String = {
    hookInstalled
    // unsigned rendering: math.abs(Int.MinValue) is negative, which would
    // print a double dash and collide the sign bit into the path
    val path = s"${System.getProperty("java.io.tmpdir")}/$prefix-$applicationId-" +
      Integer.toUnsignedString(corpus.hashCode)
    registered.add(path)
    path
  }

  /** Run `body`, then release every persistent-RDD block it pinned — the
    * ONE verb behind the library's caller-must-sweep contract
    * (docs/long-lived-spark-jvm-hygiene.md). Several operators return
    * LAZY frames over internal localCheckpoints they cannot unpersist
    * themselves (SubstrIndex.dedupAgainst, LlmOps.semanticDedup /
    * mmrRerank inputs, the memoized dedup twins); wrapping the
    * produce-and-CONSUME sequence in `withSweep` turns the convention
    * into code:
    *
    * {{{
    * val spans = Scratch.withSweep(spark) {
    *   SubstrIndex.dedupAgainst(path, batch).collect() // consume INSIDE
    * }
    * }}}
    *
    * Contract: consume (write/collect/count) INSIDE the block — the
    * pinned blocks are lineage-truncated checkpoints, so a frame escaping
    * the block lazily fails its next action loudly
    * (checkpoint-block-not-found), never returns a wrong answer. The
    * before/after delta is JVM-wide: like Bench's per-query sweep it
    * assumes one pipeline at a time per JVM (concurrent pipelines should
    * scope sweeps per index path — SubstrIndex.sweep(spark, path)).
    *
    * A call that owns its checkpoints holds the frames and [[release]]s
    * them instead; only scopes that also sweep the internal checkpoints
    * of the operators they call stay blanket: LlmOps' BPE training,
    * mmrRerank, kCenterSample, mmrRerankPq and the MMR query twins,
    * IvfIndex.trainPq, SubstrIndex.compact, and the per-batch scopes of
    * StreamingQuality, StreamingFrontier, StreamingDedup and
    * StreamingAnn. */
  def withSweep[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      val live = sc.getPersistentRDDs
      (live.keySet -- before).foreach(id =>
        live.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** The RDD whose blocks a `localCheckpoint` (eager or lazy) pins: the
    * `LogicalRDD` the returned frame's plan consists of. Reading the owner
    * off the frame itself, instead of diffing the persistent-RDD registry
    * around the call, cannot pick up a checkpoint a concurrent pipeline
    * made at the same moment. Fails loudly for any other plan — a derived
    * frame such as `cp.select(...)` or one never checkpointed — naming
    * the node found, so a release can never miss its RDD or hit another
    * one. */
  def rddOf(cp: DataFrame): RDD[_] = cp.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case other => throw new IllegalArgumentException(
      "Scratch.rddOf needs the frame localCheckpoint returned (a LogicalRDD " +
        s"plan), found ${other.nodeName}")
  }

  /** Release the blocks each checkpointed frame pins (see [[rddOf]]).
    * The frames are lineage-truncated: call it after their last action. */
  def release(cps: DataFrame*): Unit =
    cps.foreach(rddOf(_).unpersist(blocking = false))

  /** Drain a registry of checkpoint RDDs (each taken with [[rddOf]]):
    * unpersist the ones still persisted and return their count. */
  private[graft] def releaseTracked(rdds: java.util.Set[RDD[_]]): Int = {
    var n = 0
    val it = rdds.iterator()
    while (it.hasNext) {
      val r = it.next()
      if (r.getStorageLevel != StorageLevel.NONE) {
        r.unpersist(blocking = false); n += 1
      }
      it.remove()
    }
    n
  }
}

/** Run-once-per-path memo for DISK-backed index builds.
  *
  * The bench/verify gates for the persisted index families (DedupIndex,
  * IvfIndex, KnnGraph) must time SERVING cost — the band equi-join, the
  * cell-probe join, the beam search — not an index rebuild per invocation:
  * a production pipeline builds its index once per corpus refresh and
  * answers queries against it for a week. Build cost stays measured, but in
  * the artifacts that exist for it (AnnCurve, ScaleProbe) and in the first
  * invocation of a fresh JVM.
  *
  * Disk-backed on purpose: unlike the in-memory pair-graph memo
  * ([[graft.queries.LlmOps.clearShared]] evicts that between bench queries
  * for block hygiene), state at a [[Scratch.dir]] path survives the
  * per-query block sweep without pinning a single byte of executor memory,
  * so amortization and memory hygiene don't fight. Safe because every build
  * in this repo is deterministic per (corpus, params) and the path itself
  * encodes (application, corpus): skipping a rebuild can never serve a
  * different answer.
  */
object Memo {
  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Execute `build` the first time `path` is seen in this JVM; no-op after.
    * `build` must leave its complete, committed effect under `path`. */
  def once(path: String)(build: => Unit): Unit =
    if (!done.contains(path)) synchronized {
      if (!done.contains(path)) { build; done.add(path) }
    }

  /** Memoize a deterministic DataFrame to parquet at `path`: first call
    * computes and writes, every later call reads the parquet back — the
    * frame survives block-manager sweeps with zero pinned memory (the
    * disk-backed sibling of a localCheckpoint memo). */
  def frame(spark: org.apache.spark.sql.SparkSession, path: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    once(path)(build.write.mode("overwrite").parquet(path))
    spark.read.parquet(path)
  }

  /** Test hook: forget everything so a suite can exercise cold builds. */
  private[graft] def reset(): Unit = done.clear()
}
