package graft.streaming

import graft.ml.KnnGraph
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming embedding ingest into the persisted graph-ANN index — the
  * serving-side twin of [[StreamingDedup]]: embeddings arrive as a
  * stream, each micro-batch is INSERTED into the stored k-NN graph
  * ([[KnnGraph.appendVersion]] — beam-link new->old through the existing
  * graph, LSH-seed new-new, one NN-Descent refinement), and queries
  * answered between batches ([[KnnGraph.searchIndex]]) always see the
  * last fully-committed graph. This is the freshness path a 100 TB
  * embedding store actually needs: without it the index is a nightly
  * batch artifact and everything ingested since is unsearchable.
  *
  * Exactly-once on top of foreachBatch's at-least-once retries, by
  * construction rather than by bookkeeping: batch b commits index version
  * b+1 (version 0 is the base build), and [[KnnGraph.appendVersion]]'s
  * two-phase layout (vector batch first, edge `_SUCCESS` second) plus its
  * read-from-version-minus-one discipline make a retried batch overwrite
  * its own dirs with IDENTICAL content (the append is deterministic). A
  * batch whose version is already committed is skipped whole; a torn
  * first attempt is swept by [[KnnGraph.cleanupUncommittedIndex]] before
  * the re-run. Searches never see a half-written version because reads
  * resolve the highest committed edge version only.
  *
  * Scale shape per batch: the beam-search rounds (|B| table-scale
  * queries through equi-joins), one LSH pass over the BATCH only, and
  * the refinement's O((n+|B|)·k²) candidate work — never an LSH pass or
  * shuffle of the stored corpus beyond the refinement's bounded-degree
  * joins, never n².
  */
object StreamingAnn {

  /** One micro-batch of the ingest (public so retry idempotence is
    * testable without driving a stream). Expects (vec_id, embedding) with
    * vec_ids never seen before. */
  def applyBatch(batch: DataFrame, indexPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val version = batchId + 1
    KnnGraph.cleanupUncommittedIndex(spark, indexPath)
    if (KnnGraph.currentVersion(spark, indexPath) >= version) return
    // sweep this batch's checkpoint blocks on exit (the append localCheck-
    // points its descent rounds): a long-lived stream must not accumulate
    // per-batch blocks (docs/long-lived-spark-jvm-hygiene.md)
    graft.operators.Scratch.withSweep(spark) {
      KnnGraph.appendVersion(spark, indexPath, batch, version)
    }
  }

  /** Attach the ingest to a streaming (vec_id, embedding) frame.
    * `indexPath` must hold a [[KnnGraph.buildIndex]] over the seed corpus
    * (the graph insert links new vectors through the existing graph, so
    * an empty seed has nothing to link through). The checkpoint keeps
    * batchIds monotonic across restarts. */
  def ingestSink(emb: DataFrame, indexPath: String,
                 checkpointDir: String): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[Row], id: Long) =>
        applyBatch(b.toDF(), indexPath, id))
      .start()

  /** Top-k graph-ANN answers against everything committed so far. */
  def search(spark: SparkSession, indexPath: String, queries: DataFrame,
             k: Int, beam: Int = 0, rounds: Int = 2): DataFrame =
    KnnGraph.searchIndex(spark, indexPath, queries, k, beam, rounds)
}
