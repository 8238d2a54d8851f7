package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{AsOfJoin, GroupLimits}

/** Streaming TEMPORAL TABLE JOIN — the streaming face of [[AsOfJoin]]
  * (Flink's `FOR SYSTEM_TIME AS OF` over an event-time versioned table):
  * enrich a fact stream with the dimension row that was CURRENT at each
  * fact's event time, as the dimension stream keeps publishing new
  * versions.
  *
  * foreachBatch formulation, exactly-once by the repo's versioned-commit
  * discipline ([[EventStreams.applyCdcBatch]] / [[StreamingDedup]]):
  * per micro-batch
  *   1. visible dimension history := previous committed snapshot ∪ this
  *      batch's dimension rows;
  *   2. the batch's facts run the BATCH as-of against that history
  *      ([[AsOfJoin.asofBackward]] — one code path for batch and stream,
  *      the SqlSurface rule), so enrichment is event-time-correct within
  *      the retained history, not a process-time lookup; output lands
  *      append-only under `outDir/enriched/batch=<id>` (a retry
  *      overwrites its own directory — idempotent under at-least-once
  *      redelivery);
  *   3. state := per-key newest `historyPerKey` dimension versions of the
  *      history, folded through this repo's TopKPerKey heap and committed
  *      as `stateDir/v<batchId>` (reads resolve strictly-below batch ids,
  *      so a replayed batch recomputes from the same predecessor).
  *
  * State is BOUNDED on two axes (see [[applyBatch]]): an optional event-
  * time `timeHorizon` (the watermark rule — versions older than the
  * horizon behind the dimension frontier are evicted, Flink's event-time
  * temporal-join contract) composed with the `historyPerKey` newest-N cap
  * (the burst bound a pure watermark lacks). Snapshot directories prune
  * themselves to at most two versions (current + the retry window). Facts
  * older than the oldest retained version of their key match null,
  * exactly like a fact before the key's first version; facts never wait
  * for late dimensions (a dimension version arriving after a fact's batch
  * was emitted does not rewrite history — the standard streaming
  * temporal-join contract).
  */
object TemporalJoin {

  private def versions(spark: SparkSession, stateDir: String): Seq[Long] =
    VersionedState.versions(spark, stateDir)

  /** One micro-batch of the temporal join. `facts`/`dims` carry the same
    * `key` and event-time `ts` column names; `tieBreak` orders equal-ts
    * dimension versions (newest wins, the [[AsOfJoin.asofBackward]]
    * contract). Deterministic and retry-idempotent for a given batchId.
    *
    * Retention — the two horizons COMPOSE:
    *   - `timeHorizon` (event-time units of `ts`; microseconds for
    *     timestamp columns): the WATERMARK rule — after the fold, only
    *     dimension versions with ts >= max(ts over the visible history) -
    *     horizon survive into the committed state. A fact arriving later
    *     than the horizon behind the frontier finds no retained version
    *     and matches null (Flink's event-time temporal join contract:
    *     versions below the watermark become unmatchable);
    *   - `historyPerKey`: the newest-N-per-key cap — the burst bound a
    *     pure watermark lacks (a key publishing any number of versions
    *     INSIDE the horizon would otherwise retain them all).
    * State is therefore bounded by min(versions inside the horizon, N)
    * per key. Snapshot DIRS are pruned too: after committing v<batchId>,
    * every version strictly below the predecessor this batch read is
    * deleted — the directory holds at most two snapshots (predecessor
    * kept as the at-least-once retry window; a replay of batch b
    * recomputes from the same predecessor it read the first time). */
  def applyBatch(facts: DataFrame, dims: DataFrame, key: String, ts: String,
                 tieBreak: String, stateDir: String, outDir: String,
                 batchId: Long, historyPerKey: Int = 8,
                 timeHorizon: Option[Long] = None): Unit = {
    require(historyPerKey >= 1, s"need historyPerKey >= 1, got $historyPerKey")
    timeHorizon.foreach(h => require(h >= 0, s"need timeHorizon >= 0, got $h"))
    val spark = facts.sparkSession
    val dimCols = dims.columns.toSeq
    val prevVersion = versions(spark, stateDir).filter(_ < batchId).maxOption
    val history = prevVersion match {
      case None => dims
      case Some(v) => spark.read.parquet(s"$stateDir/v$v")
        .select(dimCols.map(col): _*).unionByName(dims)
    }
    // checkpoint once: history feeds both the enrichment join and the
    // state fold, and reading the previous snapshot twice would race a
    // concurrent retry's overwrite of the same files. Only this
    // checkpoint is released after (a blanket sweep would eat other
    // operators' live checkpoints in a shared session).
    val h = history.localCheckpoint()
    try {
      AsOfJoin.asofBackward(facts, h, key, ts, ts, tieBreak)
        .write.mode("overwrite").parquet(s"$outDir/enriched/batch=$batchId")
      val withinHorizon = timeHorizon match {
        case None => h
        case Some(hor) =>
          // event-time comparable form (the AsOfJoin discipline):
          // timestamps via unix_micros, anything else as long
          val t = h.schema(ts).dataType match {
            case org.apache.spark.sql.types.TimestampType => unix_micros(col(ts))
            case _ => col(ts).cast("long")
          }
          // one scalar aggregation for the frontier; empty history keeps
          // everything (no frontier to measure against)
          val frontier = h.agg(max(t)).head()
          if (frontier.isNullAt(0)) h
          else {
            val f = frontier.getLong(0)
            // saturating subtraction: a huge horizon means "keep all",
            // not a wrapped-around future bound
            val lo = f - hor
            h.filter(t >= lit(if (lo > f) Long.MinValue else lo))
          }
      }
      GroupLimits.topKPerKey(withinHorizon, Seq(key),
          Seq(col(ts).desc, col(tieBreak).desc), historyPerKey)
        .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
      // retention for the snapshot DIRECTORY itself: everything strictly
      // below the predecessor this batch read is unreachable (reads
      // resolve newest-strictly-below, retries re-read the predecessor)
      prevVersion.foreach { p =>
        versions(spark, stateDir).filter(_ < p).foreach(v =>
          VersionedState.delete(spark, s"$stateDir/v$v"))
      }
    } finally graft.operators.Scratch.release(h)
  }

  /** Attach the temporal join to a TAGGED stream: the caller unions the
    * fact and dimension streams into one frame with a marker column
    * (`kindCol` = 'fact' | 'dim') and name-disjoint payload columns
    * (nulls on the other side), because foreachBatch sees exactly one
    * stream. `factCols`/`dimCols` project each side back out. */
  def enrichSink(tagged: DataFrame, kindCol: String,
                 factCols: Seq[String], dimCols: Seq[String],
                 key: String, ts: String, tieBreak: String,
                 stateDir: String, outDir: String,
                 historyPerKey: Int = 8,
                 checkpointDir: Option[String] = None,
                 timeHorizon: Option[Long] = None): StreamingQuery =
    tagged.writeStream
      .option("checkpointLocation", checkpointDir.getOrElse(s"$outDir.checkpoint"))
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyBatch(
          b.filter(col(kindCol) === "fact").select(factCols.map(col): _*),
          b.filter(col(kindCol) === "dim").select(dimCols.map(col): _*),
          key, ts, tieBreak, stateDir, outDir, id, historyPerKey, timeHorizon)
      }
      .start()

  /** Everything enriched so far (partition column `batch`). */
  def enriched(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/enriched")
}
