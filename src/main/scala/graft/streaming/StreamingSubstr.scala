package graft.streaming

import graft.operators.SubstrIndex
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming document ingest through the persisted exact-substring index
  * — the fifth index family's streaming story ([[StreamingDedup]] feeds
  * the MinHash index, [[StreamingAnn]] the graph, [[StreamingIvf]] the
  * IVF, [[StreamingCommunities]] the labeling): documents arrive as a
  * stream, each micro-batch's repeated-passage spans are marked against
  * everything accepted so far ([[SubstrIndex.dedupAgainst]] — index keys
  * plus within-batch repeats), landed under `outDir/spans/batch=<v>`,
  * and the batch's windows then join the index as committed version v.
  *
  * Exactly-once on top of foreachBatch's at-least-once retries, the
  * [[StreamingDedup.applyBatch]] discipline: batch b commits index
  * version b+1; the spans output is written STRICTLY BEFORE the append,
  * so `isCommitted(version)` ⇒ the whole batch already happened and the
  * retry is a no-op. A retry of a torn batch recomputes against the
  * same committed index state (the torn `win/batch=` dir is swept at
  * entry) and overwrites its own spans dir with identical content.
  *
  * Ordering contract inherited from [[SubstrIndex]]: doc_ids MONOTONE
  * across batches (streaming arrival order — exactly what a stream
  * provides), which makes the canonical-first exemption exact.
  */
object StreamingSubstr {

  /** One micro-batch (public so retry idempotence is testable without
    * driving a stream). Expects (doc_id, text). */
  def applyBatch(batch: DataFrame, indexPath: String, outDir: String,
                 batchId: Long): Unit = {
    val spark = batch.sparkSession
    val version = batchId + 1
    SubstrIndex.cleanupUncommitted(spark, indexPath)
    if (SubstrIndex.isCommitted(spark, indexPath, version)) return
    // the APPLY step must tokenize exactly as the index did (span
    // positions are indices into the index's token stream) — read the
    // persisted tokenizer, never assume the whitespace default
    val tokenizeSql = SubstrIndex.params(spark, indexPath)._2
    // sweep this batch's checkpoint blocks on exit (the batch's own AND
    // dedupAgainst's internal window checkpoint) — a long-lived stream
    // must not accumulate per-batch blocks (docs/long-lived-spark-jvm-
    // hygiene.md); both frames are fully consumed inside this call.
    // dedupAgainst's blocks are released via the PER-PATH sweep and the
    // batch's own checkpoint by releasing exactly that frame, so two
    // streams ingesting different indexes in one JVM cannot release each
    // other's in-flight blocks (ADVICE r10).
    val docs = batch.select("doc_id", "text").localCheckpoint()
    try {
      SubstrIndex.dedupAgainst(indexPath, docs)
        .write.mode("overwrite").parquet(s"$outDir/spans/batch=$version")
      // the APPLY step rides the landed spans (read back, not recomputed)
      // so clean/ and spans/ can never disagree within a batch
      graft.queries.LlmOps.applySpans(docs,
          spark.read.parquet(s"$outDir/spans/batch=$version"),
          tokens = org.apache.spark.sql.functions.expr(tokenizeSql))
        .write.mode("overwrite").parquet(s"$outDir/clean/batch=$version")
      SubstrIndex.appendVersion(docs, indexPath, version)
    } finally {
      SubstrIndex.sweep(spark, indexPath)
      graft.operators.Scratch.release(docs)
    }
  }

  /** Attach the ingest to a streaming (doc_id, text) frame. `indexPath`
    * must hold a [[SubstrIndex.build]] over the seed corpus. */
  def ingestSink(docs: DataFrame, indexPath: String, outDir: String,
                 checkpointDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir.getOrElse(s"$outDir.checkpoint"))
      .foreachBatch((b: Dataset[Row], id: Long) =>
        applyBatch(b.toDF(), indexPath, outDir, id))
      .start()

  /** All repeated-passage spans observed so far (partition column
    * `batch` = the arrival batch that marked them). */
  def observedSpans(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/spans")

  /** Every ingested doc with its spans APPLIED — (doc_id, n_tokens,
    * n_removed, clean) per arrival batch; untouched docs pass through
    * with clean == their text. The training-ready output stream. */
  def cleanedDocs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/clean")
}
