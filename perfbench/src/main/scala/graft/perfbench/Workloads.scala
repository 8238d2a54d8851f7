package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ml.{AdaBoostMH, AdaBoostMHClassifier, AdaBoostMHModel, DecisionStump,
  HammingLossEvaluator}
import graft.operators.DedupIndex
import graft.sources.MultiLabelText
import graft.streaming.StreamingDedup

/** The four workloads. Each runs its set-up, then a timed phase of fixed
  * work, then its correctness checks, and returns raw measurements. Every
  * call into the program is wrapped in a span named after the layer it
  * enters. */
object Workloads {
  val Dim = 64
  val Labels = 10
  val Bins = 16

  /** Rounds of the `boost_wide` fit and of the `boost_rounds` fit. */
  val WideRounds = 40
  val NarrowRounds = 200

  /** `dedup_daily`: untimed and timed daily batches per unit of work, and
    * the compaction cadence. */
  val WarmBatches = 1
  val TimedBatches = 4
  val CompactEvery = 2

  /** Units of fixed work in the timed phase: one per `nominal` seconds of
    * `--seconds`, at least one. */
  def units(r: Run, nominal: Double): Int = math.max(1, (r.args.seconds / nominal).toInt)

  /** `catalog` keys, at least one per query module. */
  val CatalogKeys = Seq(
    "q_topk_per_key", "q_window_rank", "q_scalar_regex", "q_ts_vwap",
    "q_dedup_simhash", "q_ml_linear_probe")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def stumpsKey(st: Seq[DecisionStump]): String =
    st.map(s => s"${s.featureIndex}:${s.threshold}:${s.alpha}:${s.votes.mkString(",")}")
      .mkString(";")

  private def fingerprint(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ------------------------------------------------------------------ boost_wide

  private final case class WidePass(stumps: Array[DecisionStump], hamming: Double,
                                    chance: Double, rows: Long)

  /** Read, grid, fit, score and evaluate one `MultiLabelText` training set. */
  private def widePass(r: Run, trainDir: String, holdDir: String, rounds: Int): WidePass = {
    val spark = r.spark
    val t = r.tracer
    val (ds, points, rows) = t.span("sources.read") {
      val ds = MultiLabelText.read(spark, trainDir, Dim, Labels)
      val points = MultiLabelText.toTrainPoints(ds, Labels)
      (ds, points, points.count())
    }
    val grids = t.span("ml.grid") {
      AdaBoostMH.thresholdGrid(ds.toDF().select(col("features").as("embedding")), Bins)
    }
    val stumps = t.span("ml.fit") {
      AdaBoostMH.trainCore(spark, points, grids, Bins, Labels, rounds)
    }
    val scored = t.span("ml.predict") {
      val model = spark.sparkContext.broadcast(stumps)
      MultiLabelText.read(spark, holdDir, Dim, Labels).rdd
        .map(p => (AdaBoostMH.scoreVector(model.value, p.features.toSeq, Labels), p.labels))
        .collect()
    }
    val (hamming, chance) = t.span("ml.eval") {
      // multi-label Hamming loss: label l is predicted positive iff F_l > 0
      var wrong = 0L
      val positives = new Array[Long](Labels)
      scored.foreach { case (f, labels) =>
        val pos = labels.toSet
        var l = 0
        while (l < Labels) {
          if ((f(l) > 0) != pos(l)) wrong += 1
          if (pos(l)) positives(l) += 1
          l += 1
        }
      }
      val n = scored.length.toDouble
      // best constant predictor per label: the chance level of this encoding
      val chance = positives.map(p => math.min(p, n - p)).sum / (n * Labels)
      (wrong / (n * Labels), chance)
    }
    WidePass(stumps, hamming, chance, rows)
  }

  def boostWide(r: Run): Map[String, Any] = {
    val in = r.args.inputs
    // warm-up: the same calls on the small warm-up set, three times
    val warm = (1 to 3).map { _ =>
      val (p, s) = r.seconds(widePass(r, s"$in/warm/train", s"$in/warm/holdout", 3))
      r.setupReps += s
      p
    }
    val passes = units(r, 12.0)
    val t0 = System.nanoTime()
    val results = (1 to passes).map { _ =>
      r.op("pass")(widePass(r, s"$in/train", s"$in/holdout", WideRounds))
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val last = results.last
    r.check(Seq(warm, results).forall(_.map(p => stumpsKey(p.stumps.toSeq)).distinct.size == 1),
      "boost_wide: refits of the same data gave different stumps")
    r.check(last.hamming < last.chance,
      s"boost_wide: holdout Hamming ${last.hamming} not below chance ${last.chance}")
    r.result(Map("run_s" -> runS / passes, "items" -> last.rows * WideRounds * passes,
      "timed_s" -> runS, "stumps_sha" -> fingerprint(stumpsKey(last.stumps.toSeq)),
      "layers" -> (Layers.ml(r.tracer, WideRounds) ++ Layers.sources(r.tracer) ++
        Map("ml.holdout_hamming" -> last.hamming, "sources.rows" -> last.rows))))
  }

  // ---------------------------------------------------------------- boost_rounds

  private final case class NarrowPass(stumps: Array[DecisionStump], hamming: Double,
                                      chance: Double, rows: Long)

  private def narrowPass(r: Run, train: DataFrame, test: DataFrame, rounds: Int): NarrowPass = {
    val t = r.tracer
    val model = t.span("ml.fit") {
      new AdaBoostMHClassifier().setNumRounds(rounds).setNumBins(Bins).fit(train)
    }
    val predicted = t.span("ml.predict") {
      model.transform(test).select("vec_id", "label", "pred_label").collect()
    }
    val hamming = t.span("ml.eval") {
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("label", IntegerType), StructField("pred_label", IntegerType)))
      new HammingLossEvaluator().evaluate(
        r.spark.createDataFrame(predicted.toSeq.asJava, schema))
    }
    // chance: always predict the training split's most frequent label
    val trainLabels = train.select("label").collect().map(_.getInt(0))
    val majority = trainLabels.groupBy(identity).maxBy { case (l, xs) => (xs.length, -l) }._1
    val chance = 2.0 / Labels * predicted.count(_.getInt(1) != majority) / predicted.length
    NarrowPass(model.stumps, hamming, chance, trainLabels.length.toLong)
  }

  def boostRounds(r: Run): Map[String, Any] = {
    val spark = r.spark
    val in = r.args.inputs
    val train = spark.read.parquet(s"$in/train.parquet")
    val test = spark.read.parquet(s"$in/test.parquet")
    val warmTrain = spark.read.parquet(s"$in/warm_train.parquet")
    val warm = (1 to 3).map { _ =>
      val (p, s) = r.seconds(narrowPass(r, warmTrain, test, 10))
      r.setupReps += s
      p
    }
    val passes = units(r, 12.0)
    val t0 = System.nanoTime()
    val results = (1 to passes).map(_ => r.op("pass")(narrowPass(r, train, test, NarrowRounds)))
    val runS = (System.nanoTime() - t0) / 1e9
    val last = results.last
    r.check(Seq(warm, results).forall(_.map(p => stumpsKey(p.stumps.toSeq)).distinct.size == 1),
      "boost_rounds: refits of the same data gave different stumps")
    r.check(last.hamming < last.chance,
      s"boost_rounds: holdout Hamming ${last.hamming} not below chance ${last.chance}")
    r.result(Map("run_s" -> runS / passes, "items" -> last.rows * NarrowRounds * passes,
      "timed_s" -> runS, "stumps_sha" -> fingerprint(stumpsKey(last.stumps.toSeq)),
      "layers" -> (Layers.ml(r.tracer, NarrowRounds) ++
        Map("ml.holdout_hamming" -> last.hamming))))
  }

  // ----------------------------------------------------------------- dedup_daily

  private def treeBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
        .toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")))
    }

  private def versionBytes(index: String, version: Long): Long =
    Seq("bands", "shingles", "sizes")
      .map(t => treeBytes(Paths.get(s"$index/$t/batch=$version"))._1).sum

  def dedupDaily(r: Run): Map[String, Any] = {
    val spark = r.spark
    val t = r.tracer
    val in = r.args.inputs
    val index = s"${r.args.work}/index"
    val out = s"${r.args.work}/out"
    def batch(b: Int): Unit = t.span("streaming.apply_batch") {
      StreamingDedup.applyBatch(spark.read.parquet(s"$in/batch=$b"), index, out, b)
    }
    val base = spark.read.parquet(s"$in/base.parquet")
    // set-up: build the base index, then ingest the first days untimed so
    // that one-off JIT and codegen work leaves the timed phase
    val (_, setupS) = r.seconds {
      t.span("operators.build")(DedupIndex.build(base, index))
      (0 until WarmBatches).foreach(batch)
    }
    r.setupReps += setupS
    val batches = WarmBatches + TimedBatches * units(r, 12.0)
    var written = 0L
    var compactRewritten = 0L
    var compactS = 0.0
    val t0 = System.nanoTime()
    for (b <- WarmBatches until batches) {
      r.op("batch")(batch(b))
      written += versionBytes(index, b + 1)
      if ((b - WarmBatches + 1) % CompactEvery == 0) {
        val (_, s) = r.seconds(t.span("operators.compact")(DedupIndex.compact(spark, index)))
        compactS += s
        compactRewritten += treeBytes(Paths.get(index))._1
      }
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val (indexBytes, indexFiles) = treeBytes(Paths.get(index))
    // correctness: the benchmark recomputes every reported pair's Jaccard
    val accepted = spark.read.parquet(s"$out/accepted").select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val pairs = spark.read.parquet(s"$out/pairs").select("d1", "d2").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val texts = (spark.read.parquet(s"$in/base.parquet").select("doc_id", "text").collect() ++
      (0 until batches).flatMap(b => spark.read.parquet(s"$in/batch=$b")
        .select("doc_id", "text").collect()))
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val copies = spark.read.parquet(s"$in/copies.parquet").filter(col("batch") < batches)
      .select("doc_id", "source").collect().map(x => (x.getLong(0), x.getLong(1)))
    val threshold = DedupIndex.params(spark, index).threshold
    val warmDocs = (0 until WarmBatches).map(b => spark.read.parquet(s"$in/batch=$b").count()).sum
    pairs.foreach { case (a, b) =>
      val j = Shingles.jaccard(texts(a), texts(b))
      r.check(j >= threshold - 1e-9, s"dedup_daily: pair ($a,$b) has Jaccard $j < $threshold")
    }
    val acceptedIds = accepted.keySet ++ DedupIndex.indexedIds(spark, index)
      .collect().map(_.getLong(0))
    copies.foreach { case (c, src) =>
      r.check(!accepted.contains(c), s"dedup_daily: planted near-copy $c was accepted")
      r.check(!(acceptedIds(c) && acceptedIds(src)),
        s"dedup_daily: planted pair ($c,$src) both accepted")
    }
    val acceptedBytes = accepted.values.map(_.getBytes("UTF-8").length.toLong).sum
    val batchSpans = t.named("streaming.apply_batch").drop(WarmBatches)
    r.result(Map("run_s" -> runS, "items" -> (texts.size - base.count() - warmDocs),
      "timed_s" -> runS, "accepted" -> accepted.size, "pairs" -> pairs.length,
      "layers" -> (Layers.streaming(batchSpans) ++ Map(
        "operators.index_mb" -> indexBytes / 1e6,
        "operators.index_files" -> indexFiles,
        "operators.write_amp" -> (written + compactRewritten).toDouble / math.max(1L, acceptedBytes),
        "operators.compact_s" -> compactS,
        "operators.compact_mb_rewritten" -> compactRewritten / 1e6,
        "operators.pinned_mb_after" ->
          (t.spans.map(_.pinnedBytesAfter).maxOption.getOrElse(0L) / 1e6)))))
  }

  // --------------------------------------------------------------------- catalog

  /** An order-free digest of a result that reads every output column:
    * row count and the sum of a 64-bit hash of each row. */
  def digest(df: DataFrame): String = {
    val row = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${row.getLong(0)}:${Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("null")}"
  }

  /** Releases what one query pinned, as the repo's own Verify main does,
    * and collects the heap, so no query pays for garbage its predecessor
    * left (the seed decides the order of the keys). */
  private def sweep(r: Run): Unit = {
    graft.queries.LlmOps.clearShared()
    r.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def catalog(r: Run): Map[String, Any] = {
    val rnd = new scala.util.Random(r.args.seed)
    val keys = rnd.shuffle(CatalogKeys)
    val queries = SparkEntry.queries
    val data = r.args.data
    val digests = scala.collection.mutable.Map.empty[String, String]
    val (_, fillS) = r.seconds(keys.foreach { k =>
      digests(k) = r.tracer.span(s"setup.queries.$k")(digest(queries(k)(r.spark, data)))
      sweep(r)
    })
    r.setupReps += fillS
    val reps = 2 * units(r, 12.0)
    val repS = (1 to reps).map { _ =>
      r.seconds(keys.foreach { k =>
        val d = scala.util.Try(r.op(k)(r.tracer.span(s"queries.$k") {
          digest(queries(k)(r.spark, data))
        }))
        sweep(r)
        r.check(d.toOption.contains(digests(k)), s"catalog: $k gave $d, first run ${digests(k)}")
      })._2
    }
    r.result(Map("run_s" -> median(repS), "items" -> keys.size * reps,
      "timed_s" -> repS.sum,
      "digests" -> digests.toMap, "layers" -> Layers.queries(r.tracer, CatalogKeys)))
  }

  /** Writes every catalog key's result (one parquet per key), its digest
    * and the oracle SQL, in the layout `tools/check.py` reads. */
  def catalogDump(r: Run): Map[String, Any] = {
    val out = r.args.work + "/dump"
    val queries = SparkEntry.queries
    val digests = CatalogKeys.map { k =>
      val df = queries(k)(r.spark, r.args.data).localCheckpoint()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      val d = digest(df)
      sweep(r)
      k -> d
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => CatalogKeys.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    r.result(Map("digests" -> digests, "run_s" -> 0.0, "items" -> 0, "timed_s" -> 0.0))
  }

  /** Scoring cost against model size: one fit at the largest T, then
    * `AdaBoostMHModel.transform` + collect on the held-out rows for models
    * made of the first T stumps, each model new to the session. */
  def probePredict(r: Run): Map[String, Any] = {
    val train = r.spark.read.parquet(s"${r.args.inputs}/train.parquet")
    val test = r.spark.read.parquet(s"${r.args.inputs}/test.parquet")
    val sizes = Seq(25, 50, 100, 200, 400)
    val model = new AdaBoostMHClassifier().setNumRounds(sizes.max).setNumBins(Bins).fit(train)
    // warm the scoring path on a small model first
    new AdaBoostMHModel(model.uid, model.stumps.take(10)).transform(test).collect()
    val times = sizes.map { t =>
      val m = new AdaBoostMHModel(model.uid, model.stumps.take(t))
      t.toString -> r.seconds(m.transform(test).select("vec_id", "pred_label").collect())._2
    }
    r.result(Map("predict_s_by_rounds" -> times.toMap, "run_s" -> 0.0, "items" -> 0,
      "timed_s" -> 0.0))
  }

  /** One-partition `AdaBoostMHClassifier` fit at T=10, for the span
    * attribution self-test: the jobs the tracer gives the fit span, and the
    * jobs a plain listener saw start while it ran. */
  def selftestSpans(r: Run): Map[String, Any] = {
    val sc = r.spark.sparkContext
    val train = r.spark.read.parquet(s"${r.args.inputs}/train.parquet")
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.incrementAndGet()
    }
    sc.addSparkListener(counter)
    r.tracer.span("ml.fit") {
      new AdaBoostMHClassifier().setNumRounds(10).setNumBins(Bins).fit(train)
    }
    org.apache.spark.TracerBus.drain(sc)
    sc.removeSparkListener(counter)
    r.result(Map("fit_jobs" -> r.tracer.named("ml.fit").map(_.counts.jobs).sum,
      "listener_jobs" -> seen.get, "run_s" -> 0.0, "items" -> 0, "timed_s" -> 0.0))
  }
}

/** Word 5-shingle Jaccard, recomputed independently of the program. */
object Shingles {
  def of(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 5) Set.empty else t.sliding(5).map(_.mkString(" ")).toSet
  }
  def jaccard(a: String, b: String): Double = {
    val (x, y) = (of(a), of(b))
    val inter = (x intersect y).size.toDouble
    inter / (x.size + y.size - inter)
  }
}

/** Per-layer metrics computed from the spans of a traced run. */
object Layers {
  private def sum(spans: Seq[Span])(f: Span => Double): Double = spans.map(f).sum

  private def gapS(spans: Seq[Span]): Double =
    spans.map(s => s.seconds - s.counts.jobBusyMs(s.start, s.end) / 1e3).sum

  private def sitesJobs(spans: Seq[Span], method: String): Int =
    spans.map(_.counts.jobsBySite(method)).sum

  def ml(t: Tracer, rounds: Int): Map[String, Any] = {
    val fit = t.named("ml.fit").lastOption.toSeq
    val predict = t.named("ml.predict").lastOption.toSeq
    Map(
      "ml.fit_s" -> sum(fit)(_.seconds),
      "ml.fit.jobs" -> sum(fit)(_.counts.jobs),
      "ml.fit.jobs_per_round" -> sum(fit)(_.counts.jobs) / rounds,
      "ml.fit.driver_gap_s" -> gapS(fit),
      "ml.fit.task_cpu_s" -> sum(fit)(_.counts.taskCpuNs / 1e9),
      "ml.fit.task_run_s" -> sum(fit)(_.counts.taskRunMs / 1e3),
      "ml.fit.gc_s" -> sum(fit)(_.counts.gcMs / 1e3),
      "ml.fit.round_s" -> sum(fit)(_.seconds) / rounds,
      "ml.predict_s" -> sum(predict)(_.seconds),
      "ml.predict.plan_s" -> sum(predict)(_.counts.planNs / 1e9),
      "ml.predict.exec_s" -> sum(predict)(_.counts.sqlExecNs / 1e9),
      "ml.predict.task_cpu_s" -> sum(predict)(_.counts.taskCpuNs / 1e9),
      "ml.grid_s" -> sum(t.named("ml.grid").lastOption.toSeq)(_.seconds),
      "ml.eval_s" -> sum(t.named("ml.eval").lastOption.toSeq)(_.seconds))
  }

  def sources(t: Tracer): Map[String, Any] = {
    val read = t.named("sources.read").lastOption.toSeq
    Map("sources.read_s" -> sum(read)(_.seconds),
      "sources.input_mb" -> sum(read)(_.counts.inputBytes / 1e6))
  }

  def streaming(batches: Seq[Span]): Map[String, Any] = {
    val n = math.max(1, batches.size).toDouble
    Map(
      "streaming.apply_batch.jobs" -> sum(batches)(_.counts.jobs) / n,
      "streaming.apply_batch.stages" -> sum(batches)(_.counts.stages) / n,
      "streaming.apply_batch.tasks" -> sum(batches)(_.counts.tasks) / n,
      "streaming.apply_batch.task_cpu_s" -> sum(batches)(_.counts.taskCpuNs / 1e9) / n,
      "streaming.apply_batch.driver_gap_s" -> gapS(batches) / n,
      "streaming.apply_batch.shuffle_mb" ->
        sum(batches)(s => (s.counts.shuffleReadBytes + s.counts.shuffleWriteBytes) / 1e6) / n,
      "streaming.apply_batch.output_mb" -> sum(batches)(_.counts.outputBytes / 1e6) / n,
      "operators.dedup_against.jobs" -> sitesJobs(batches, "DedupIndex.dedupAgainst") / n,
      "operators.append.jobs" -> sitesJobs(batches, "DedupIndex.appendVersion") / n,
      "operators.cc.jobs" -> sitesJobs(batches, "ConnectedComponents.run") / n)
  }

  def queries(t: Tracer, keys: Seq[String]): Map[String, Any] = {
    val all = t.spans.filter(_.name.startsWith("queries.")).toSeq
    keys.flatMap { k =>
      val s = t.named(s"queries.$k")
      Seq(s"queries.$k.s" -> (if (s.isEmpty) 0.0 else Workloads.median(s.map(_.seconds))),
        s"queries.$k.jobs" -> (if (s.isEmpty) 0 else s.head.counts.jobs))
    }.toMap ++ Map(
      "plans.plan_s" -> sum(all)(_.counts.planNs / 1e9),
      "plans.stages" -> sum(all)(_.counts.stages),
      "plans.one_task_stages" -> sum(all)(_.counts.oneTaskStages),
      "plans.exchanges" -> sum(all)(_.counts.exchanges),
      "plans.graft_nodes" -> sum(all)(_.counts.graftNodes))
  }
}
