package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index with a deterministic Lloyd-refined coarse
  * quantizer — the scale path for similarity search (q_ann_ivf in the t2
  * contract keeps its fixed first-k quantizer because DuckDB must mirror
  * it; this component is the real thing, exercised by IvfIndexSuite).
  *
  * Determinism (same model on every run, any partitioning, any cluster):
  *  - init: centroids = the k lowest vec_ids (no RNG);
  *  - assignment: argmin squared-L2 over L2-NORMALIZED vectors (= argmax
  *    cosine), ties to the lowest cell id;
  *  - update: per-dimension means from DECIMAL(28,12) sums — exact and
  *    order-independent, so partition/merge order cannot perturb centroids
  *    (double-sum means would drift between runs and cluster layouts).
  *
  * Scale shape: each Lloyd iteration is one broadcast (k×d doubles, KBs) +
  * one map-side assignment + one (cell, dim) hash aggregation — no shuffle
  * of the vectors themselves, ever. Search scans nprobe cells instead of
  * the corpus: the candidate set shrinks by ~k/nprobe; cells are the
  * natural partition key for a 100 TB layout (cluster-prune at the file
  * level via PartitionedLayout on `cell`).
  */
object IvfIndex {

  case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** L2-normalize the embedding column into `v`. */
  private def normalized(df: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    // hoist the norm out of the lambda: graft_dot(e, e) inside transform
    // would re-run the full self-dot per ELEMENT (O(d^2) per vector, in
    // the interpreted HOF path)
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", expr("sqrt(graft_dot(e, e))"))
      .withColumn("v", expr("transform(e, x -> x / nrm)"))
      .select("vec_id", "v")
  }

  private def sqDist(v: Seq[Double], ct: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    while (j < ct.length) { val t = v(j) - ct(j); d += t * t; j += 1 }
    d
  }

  private def nearestCellUdf(cents: Array[Array[Double]]) = udf { v: Seq[Double] =>
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDist(v, cents(c))
      if (d < bestD) { bestD = d; best = c } // strict < : ties keep lowest c
      c += 1
    }
    best
  }

  /** Lloyd's k-means, `iters` rounds from the deterministic seed. */
  def train(df: DataFrame, k: Int, iters: Int): Model = {
    // materialize the normalized vectors ONCE: every iteration (and the
    // seed collect) would otherwise re-read the source and re-run the
    // self-dot normalization per pass; values are unchanged so the
    // determinism contract is unaffected
    val vecs = normalized(df).localCheckpoint()
    var cents: Array[Array[Double]] = vecs
      .orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) {
      val assigned = vecs.withColumn("cell", nearestCellUdf(cents)(col("v")))
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) => // mean per dimension; empty cells keep centroid
            rows.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3)).toArray
          case None => cents(c)
        }
      }.toArray
    }
    Model(cents)
  }

  /** (vec_id, cell) assignment of the corpus under `model`. */
  def assign(df: DataFrame, model: Model): DataFrame =
    normalized(df).withColumn("cell", nearestCellUdf(model.centroids)(col("v")))
      .select("vec_id", "v", "cell")

  /** Top-k cosine neighbors per query, scanning only the nprobe nearest
    * cells. nprobe = model.k degrades to exact brute force (suite-pinned).
    *
    * `allowed` (a (vec_id, …) frame) restricts candidates to its ids —
    * FILTERED vector search, the metadata-constrained form every serving
    * stack needs (the cells layout stores no metadata columns, so the
    * constraint arrives as an id allowlist computed from the metadata
    * table; a selective allowlist broadcasts, Catalyst picks). Top-k is
    * computed AFTER the restriction — k survivors per query, not
    * post-filtered holes. */
  def search(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             model: Model, topK: Int, nprobe: Int,
             allowed: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.k)
    val assigned = restrict(assign(corpus, model), allowed)
    // each query probes its nprobe nearest cells
    val qcells = normalized(queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("cell", explode(nearestCellsUdf(model.centroids, nprobe)(col("qv"))))
    graft.functions.VectorFunctions.register(spark)
    val scored = qcells.join(assigned.select(col("vec_id").as("c_id"),
        col("v").as("cv"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim", expr("graft_dot(qv, cv)")) // unit vectors: dot = cosine
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select("q_id", "rn", "c_id", "cos_sim")
  }

  /** Allowlist restriction for filtered search, SELECTIVITY-AWARE — the
    * 100 TB pushdown ladder:
    *  - small allowlist (≤ `spark.graft.ivf.allowedBroadcastLimit` ids,
    *    default 100k ≈ 800 KB of longs): EXPLICIT broadcast left-semi.
    *    The hint matters: a filtered sub-frame of a big table often
    *    carries a huge size ESTIMATE, so autoBroadcastJoinThreshold alone
    *    routinely misses exactly the selective case this serves — the
    *    restriction must never shuffle the corpus when the ids fit in a
    *    broadcast (suite-pinned plan shape);
    *  - large allowlist: a `graft_bloom` bitset built from the ids (ONE
    *    pass over the allowlist, mergeable map-side partials, ~13
    *    bits/key) is broadcast and probed by the codegen'd
    *    [[graft.functions.BloomAgg.mightContainSql]] prefilter, so corpus
    *    rows that cannot match are dropped MAP-SIDE before the exact
    *    left-semi — the shuffle then carries ≈|allowed| (+ false
    *    positives) corpus rows instead of every probed cell's rows. The
    *    trailing semi-join keeps the result EXACT (bloom has no false
    *    negatives; suite pins equality with the plain semi form).
    * The allowlist count is one aggregation over the ALLOWLIST side only
    * — never the corpus — so the selectivity probe costs O(|allowed|). */
  /** Blocks pinned by [[restrict]]'s allowlist checkpoints — released by
    * [[sweep]] (ADVICE r10: a long-lived serving session issuing many
    * filtered searches must have a release hook; Bench's per-query global
    * unpersist already covers the harness). */
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.rdd.RDD[_]]()

  /** Unpersist every allowlist block a filtered search of this JVM
    * pinned; returns the count released. Consume-then-sweep: the blocks
    * are lineage-truncated checkpoints, so sweeping while a returned
    * search frame is still to be re-consumed fails that frame loudly
    * (checkpoint-block-not-found), never silently. */
  def sweep(spark: SparkSession): Int =
    graft.operators.Scratch.releaseTracked(pinned)

  private def restrict(corpus: DataFrame, allowed: Option[DataFrame]): DataFrame =
    allowed match {
      case None => corpus
      case Some(a) =>
        // checkpointed: the selectivity count and the join(s) would each
        // re-execute the allowlist's producing plan (often a filter over
        // a corpus-scale table) — one execution, blocks read thereafter.
        // Pinned until the caller's query lifecycle ends (Bench sweeps
        // per query; library callers call [[sweep]] — the tracked RDDs
        // make the hygiene contract enforceable instead of aspirational).
        val ids = a.select("vec_id").localCheckpoint(eager = false)
        pinned.add(graft.operators.Scratch.rddOf(ids))
        val limit = corpus.sparkSession.conf
          .get("spark.graft.ivf.allowedBroadcastLimit", "100000").toLong
        val n = ids.agg(count(lit(1))).head().getLong(0)
        if (n <= limit) corpus.join(broadcast(ids), Seq("vec_id"), "left_semi")
        else {
          val bits = bloomBitsFor(n)
          val hashes = 7
          val bf = ids.select(col("vec_id").cast("long").as("k"))
            .agg(expr(s"graft_bloom(k, $bits, $hashes)").as("bf"))
          corpus.join(broadcast(bf))
            .filter(expr(graft.functions.BloomAgg.mightContainSql(
              "vec_id", "bf", bits, hashes)))
            .drop("bf")
            .join(ids, Seq("vec_id"), "left_semi")
        }
    }

  /** ~13 bits/key (fp ≈ 0.8 % at 7 hashes), word-rounded, capped at
    * BloomAgg's 2^26-bit (8 MB) limit — past the cap the fp rate rises
    * but the trailing exact semi-join keeps results identical. */
  private def bloomBitsFor(n: Long): Int = {
    val want = math.min(1L << 26, math.max(64L, n * 13L))
    (((want + 63) / 64) * 64).toInt
  }

  private def nearestCellsUdf(cents: Array[Array[Double]], nprobe: Int) =
    udf { v: Seq[Double] =>
      cents.indices.map(c => (sqDist(v, cents(c)), c))
        .sortBy(identity).take(nprobe).map(_._2) // ties to lowest cell id
    }

  /** Materialize the corpus assignment as a `cell`-partitioned parquet
    * layout (one directory per coarse cell, sources.PartitionedLayout) —
    * the 100 TB on-disk shape where [[searchPartitioned]] prunes whole
    * cell directories at file-listing time. Static layout (no versioning);
    * [[buildIndex]] writes the versioned `cell`/`batch` twin instead. */
  def writeCells(df: DataFrame, model: Model, path: String): Unit =
    graft.sources.PartitionedLayout.writePartitioned(assign(df, model), path, "cell")

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---------------------------------------------------------------------
  // Versioned ingest: the index's cells layout is partitioned (cell,
  // batch) — batch 0 is the base build, batch N is append N's arrivals.
  // A batch is COMMITTED by the marker `path/ingest/v=N/_SUCCESS`, written
  // only after its data landed; committed-path reads ([[searchIndex]],
  // [[staleness]]) filter `batch <= committedIngestVersion`, so a torn
  // append is invisible until its retry commits it. The data write itself
  // is dynamic-partition-overwrite on (cell, batch): a retry of version N
  // replaces exactly its own leaf partitions (the assignment is
  // deterministic under the frozen quantizer), never another batch's —
  // the same exactly-once recipe as KnnGraph.appendVersion, adapted to a
  // partition-sharded layout where one version's rows span many cell
  // directories. Cell-level partition pruning composes: `cell isin (...)`
  // prunes at the top level, the batch filter at the second.
  // ---------------------------------------------------------------------

  /** Highest ingest version with a commit marker; 0 = base build only. */
  def committedIngestVersion(spark: SparkSession, path: String): Long = {
    val (fs, p) = hadoopFs(spark, s"$path/ingest")
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/ingest/v=$v/_SUCCESS")))
      .maxOption.getOrElse(0L)
  }

  /** Idempotent versioned append: assign `newVecs` under the frozen
    * quantizer, land them as `batch=version` leaf partitions, then commit
    * the version marker. A retry of an already-committed version is a
    * no-op; a retry of a torn attempt overwrites exactly its own
    * partitions. Versions commit in order (current+1). */
  def appendVersion(spark: SparkSession, path: String, newVecs: DataFrame,
                    version: Long): Unit = {
    val cur = committedIngestVersion(spark, path)
    require(version >= 1, s"version must be >= 1 (0 is the base build), got $version")
    require(version <= cur + 1,
      s"append version must be <= current+1 (=${cur + 1}), got $version")
    if (version <= cur) return // already committed: deterministic content, no-op
    val model = loadModel(spark, s"$path/model")
    val assigned = assign(newVecs, model).withColumn("batch", lit(version))
    graft.sources.PartitionedLayout.overwritePartitions(
      assigned, s"$path/cells", "cell", "batch")
    val (fs, _) = hadoopFs(spark, path)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/ingest/v=$version"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/ingest/v=$version/_SUCCESS"), true).close()
  }

  /** Fold every committed ingest batch into one `batch=<head>` partition
    * per cell — the maintenance op that keeps a streaming-fed index from
    * accumulating one leaf directory (and one small file set) per
    * micro-batch: listing cost per search grows per batch otherwise; at
    * weekly-compaction cadence it stays O(cells). Logical content is
    * unchanged (the committed corpus IS the union of committed batches)
    * and the head version number is preserved, so versioned appends
    * continue where they left off. Crash-safe by content-preservation:
    * the compacted copy lands fully under a staging dir, then swaps in
    * with one rename pair — every crash state is either old, new, or
    * a loud missing-dir error, never a partial union. Single-writer,
    * QUIESCED (same discipline as [[graft.operators.DedupIndex.compact]]:
    * a replay of a batch id below the head would re-land folded rows).
    * Returns the number of batches folded away. */
  def compactCells(spark: SparkSession, path: String): Int =
    compactLayout(spark, path, "cells", Seq("vec_id", "v", "cell"))

  /** [[compactCells]] for the PQ codes layout — and for the float re-rank
    * twin (`cells`) when the index was built `keepFloat = true`: the two
    * layouts share ingest markers, so compaction folds them in lockstep. */
  def compactPqCodes(spark: SparkSession, path: String): Int = {
    val folded = compactLayout(spark, path, "codes", Seq("vec_id", "codes", "cell"))
    val (fs, cells) = hadoopFs(spark, s"$path/cells")
    if (fs.exists(cells))
      compactLayout(spark, path, "cells", Seq("vec_id", "v", "cell"))
    folded
  }

  private def compactLayout(spark: SparkSession, path: String, dir: String,
                            dataCols: Seq[String]): Int = {
    cleanupUncommittedLayout(spark, path, dir) // torn data must not be folded in
    val head = committedIngestVersion(spark, path)
    val cells = graft.sources.PartitionedLayout.read(spark, s"$path/$dir")
    // partition-column discovery may infer int or long for `batch`
    val batches = cells.select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (batches.length <= 1) return 0
    graft.sources.PartitionedLayout.writePartitioned(
      cells.filter(col("batch") <= head)
        .select(dataCols.map(col): _*)
        .withColumn("batch", lit(head)),
      s"$path/${dir}_compact", "cell", "batch")
    val (fs, _) = hadoopFs(spark, path)
    val live = new org.apache.hadoop.fs.Path(s"$path/$dir")
    val old = new org.apache.hadoop.fs.Path(s"$path/${dir}_old")
    fs.delete(old, true)
    require(fs.rename(live, old), s"compact: could not stage $dir aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/${dir}_compact"), live),
      s"compact: could not swap in compacted $dir (originals at ${dir}_old)")
    fs.delete(old, true)
    batches.length - 1
  }

  /** Delete data of ingest versions that never committed (a stream that
    * died mid-batch and was never retried). Also recovers a
    * [[compactCells]] crashed between its two renames — live `cells`
    * missing, originals intact at `cells_old` — and sweeps staging
    * leftovers (a stale `cells_compact` is harmless to a LATER compact
    * here because writePartitioned statically overwrites the whole
    * staging root, unlike the per-batch-dir writers in
    * CommunityIndex/DedupIndex — swept anyway for hygiene).
    * Single-writer only. */
  def cleanupUncommittedIngest(spark: SparkSession, path: String): Unit =
    cleanupUncommittedLayout(spark, path, "cells")

  /** [[cleanupUncommittedIngest]] for the PQ codes layout (and the float
    * re-rank twin when present — same markers, same torn batches). */
  def cleanupUncommittedPq(spark: SparkSession, path: String): Unit = {
    cleanupUncommittedLayout(spark, path, "codes")
    val (fs, cells) = hadoopFs(spark, s"$path/cells")
    if (fs.exists(cells)) cleanupUncommittedLayout(spark, path, "cells")
  }

  private def cleanupUncommittedLayout(spark: SparkSession, path: String,
                                       dir: String): Unit = {
    val cur = committedIngestVersion(spark, path)
    graft.streaming.VersionedState.recoverSwap(spark,
      live = s"$path/$dir", old = s"$path/${dir}_old",
      stage = s"$path/${dir}_compact")
    val (fs, root) = hadoopFs(spark, s"$path/$dir")
    if (fs.exists(root))
      fs.listStatus(root).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("cell="))
        .flatMap(c => fs.listStatus(c).toSeq.map(_.getPath))
        .filter { b =>
          scala.util.Try(b.getName.stripPrefix("batch=").toLong)
            .toOption.exists(_ > cur)
        }
        .foreach(fs.delete(_, true))
  }

  /** Persist the coarse quantizer (mirrors AdaBoostMH.saveModel: a model
    * is KBs, never shard it). One row per centroid. */
  def saveModel(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: SparkSession, path: String): Model =
    Model(spark.read.parquet(path).select("cell", "centroid").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray))

  /** Build THE persisted ANN index in one call: train the quantizer, save
    * it under `path/model`, write the cell-partitioned corpus under
    * `path/cells`, and record the build-time assignment tightness under
    * `path/meta` (the reference point [[staleness]] compares against).
    * After this, [[searchIndex]] needs only the path — the index outlives
    * the session, which is what "dedup/search against yesterday's corpus"
    * actually requires. */
  def buildIndex(df: DataFrame, k: Int, iters: Int, path: String): Model = {
    val model = train(df, k, iters)
    saveModel(df.sparkSession, model, s"$path/model")
    // versioned cells layout: the base corpus is batch 0 (committed by
    // construction), streaming appends land as batch 1, 2, ... behind
    // commit markers — see the versioned-ingest section above
    graft.sources.PartitionedLayout.writePartitioned(
      assign(df, model).withColumn("batch", lit(0L)), s"$path/cells", "cell", "batch")
    val (n, meanD) = assignmentTightness(df.sparkSession, s"$path/cells", model)
    writeMeta(df.sparkSession, s"$path/meta", n, meanD)
    model
  }

  /** Add a batch to an EXISTING index without retraining: assign the new
    * vectors to the nearest existing cells and land them as the next
    * committed ingest version ([[appendVersion]]). The quantizer and
    * `path/meta` stay frozen at build time — that freeze is what makes
    * [[staleness]] meaningful, and it is also the correctness contract: a
    * vector's cell depends only on the model, so append(A, B) produces
    * the same committed content buildIndex on A ∪ B under model(A) would
    * (suite-pinned), and searches at any nprobe return identical results
    * on either. Daily shape at 100 TB: one map-side assignment + one
    * partitioned write, no shuffle of the stored corpus. NOTE: a RETRY of
    * this call double-inserts under a new version (it picks current+1
    * fresh) — at-least-once callers name their own version via
    * [[appendVersion]], the streaming sink's contract. Returns the number
    * of vectors appended. */
  def appendToIndex(spark: SparkSession, path: String, newVecs: DataFrame): Long = {
    appendVersion(spark, path, newVecs, committedIngestVersion(spark, path) + 1)
    newVecs.count()
  }

  /** Index drift report: (vectorsAtBuild, vectorsNow, meanSqDistAtBuild,
    * meanSqDistNow, ratio). The mean squared L2 distance of each stored
    * (normalized) vector to its assigned centroid is the IVF tightness
    * measure; appended batches from a drifted distribution push the
    * current mean above the build-time mean, and ratio >> 1 is the
    * "retrain the quantizer" signal a daily pipeline alarms on. */
  def staleness(spark: SparkSession, path: String): (Long, Long, Double, Double, Double) = {
    val model = loadModel(spark, s"$path/model")
    val metaRows = spark.read.parquet(s"$path/meta").collect()
    require(metaRows.length == 1,
      s"corrupt index meta at $path/meta: expected exactly 1 row, found ${metaRows.length}")
    val meta = metaRows(0)
    val (buildN, buildMean) = (meta.getLong(0), meta.getDouble(1))
    val (nowN, nowMean) = assignmentTightness(spark, s"$path/cells", model,
      maxBatch = Some(committedIngestVersion(spark, path)))
    // a degenerate build (empty corpus, or every vector exactly on its
    // centroid) has buildMean 0: 0/0 would report NaN (which fails EVERY
    // threshold comparison) — report the no-drift ratio 1.0 when the index
    // is still equally tight, and let any real post-append spread alarm as
    // +Infinity (deliberate: any finite threshold fires)
    val ratio =
      if (buildMean == 0.0) { if (nowMean == 0.0) 1.0 else Double.PositiveInfinity }
      else nowMean / buildMean
    (buildN, nowN, buildMean, nowMean, ratio)
  }

  /** (count, mean squared L2 distance to assigned centroid) over a cells
    * layout — one broadcast of the KB-scale centroids, one map-side
    * distance, one scalar aggregate; DECIMAL sum so the mean is exact and
    * partition-order independent (same contract as train()'s updates). */
  private def assignmentTightness(spark: SparkSession, cellsPath: String,
                                  model: Model,
                                  maxBatch: Option[Long] = None): (Long, Double) = {
    val cents = model.centroids
    val raw = graft.sources.PartitionedLayout.read(spark, cellsPath)
    val committed = maxBatch match {
      case Some(v) if raw.columns.contains("batch") => raw.filter(col("batch") <= v)
      case _ => raw
    }
    val distUdf = udf { (v: Seq[Double], cell: Int) => sqDist(v, cents(cell)) }
    val r = committed
      .select(distUdf(col("v"), col("cell")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("d").cast("decimal(28,12)")).cast("double").as("sd"))
      .collect()(0)
    val n = r.getLong(0)
    (n, if (n == 0) 0.0 else r.getDouble(1) / n)
  }

  private def writeMeta(spark: SparkSession, path: String, n: Long,
                        meanSqDist: Double): Unit = {
    import spark.implicits._
    Seq((n, meanSqDist)).toDF("n", "mean_sq_dist")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** [[searchPartitioned]] against a [[buildIndex]] layout, loading the
    * quantizer from disk — no in-memory state from the building session.
    * Reads COMMITTED ingest versions only: a torn streaming append's
    * partitions (batch above the last commit marker) are filtered out, so
    * serving never sees half a batch. */
  def searchIndex(spark: SparkSession, path: String, queries: DataFrame,
                  topK: Int, nprobe: Int,
                  allowed: Option[DataFrame] = None): DataFrame =
    searchPartitioned(spark, s"$path/cells", queries,
      loadModel(spark, s"$path/model"), topK, nprobe,
      maxBatch = Some(committedIngestVersion(spark, path)),
      allowed = allowed)

  // ---------------------------------------------------------------------
  // IVF-PQ: product-quantized residual codes — the serving shape between
  // "int8 scan" (4× shrink, q_vec_quantize) and a recall cliff. Each
  // stored vector becomes its coarse cell id plus m sub-codes indexing
  // per-subspace codebooks trained on the RESIDUAL v − centroid(cell):
  // m=8, ksub=16 over d=64 doubles turns 512 bytes into 8 nibble-codes —
  // the ~64× compression a 100 TB embedding store serves from. Search is
  // asymmetric (ADC): the query stays exact; score(candidate) ≈ q·cent +
  // Σ_s q_s·codeword_s, where the per-subspace dot table (LUT) is
  // computed ONCE per query (cell-independent — residual codebooks are
  // shared across cells) and each candidate costs m table lookups
  // (codegen'd element_at sum) instead of d multiplies.
  //
  // Determinism (same contract as the coarse trainer): codeword init =
  // residual sub-slices of the ksub lowest vec_ids, assignment argmin
  // with strict < (ties to the lowest code), DECIMAL per-dimension mean
  // updates — model bytes identical across partitionings (suite-pinned).
  // ---------------------------------------------------------------------

  /** Per-subspace residual codebooks: codebooks(s)(c) is codeword c of
    * subspace s, each of length d/m. */
  case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length
  }

  private def residUdf(cents: Array[Array[Double]]) =
    udf { (v: Seq[Double], cell: Int) =>
      val c = cents(cell)
      Array.tabulate(v.length)(i => v(i) - c(i)).toSeq
    }

  /** (vec_id, cell, r): normalized vectors with their coarse residual. */
  private def residuals(df: DataFrame, model: Model): DataFrame =
    assign(df, model)
      .withColumn("r", residUdf(model.centroids)(col("v"), col("cell")))
      .select("vec_id", "cell", "r")

  /** The r10 per-row Scala UDF encoder — RETAINED ONLY as the suite's
    * bit-equality witness for [[encodeCol]] (VERDICT r10 #5); every
    * production path encodes through the codegen'd expression. */
  private[ml] def encodeUdf(books: Array[Array[Array[Double]]]) = udf { r: Seq[Double] =>
    val m = books.length
    val dsub = books(0)(0).length
    Array.tabulate(m) { s =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < books(s).length) {
        val cw = books(s)(c)
        var dist = 0.0
        var j = 0
        while (j < dsub) { val t = r(s * dsub + j) - cw(j); dist += t * t; j += 1 }
        if (dist < bestD) { bestD = dist; best = c } // strict <: ties keep lowest
        c += 1
      }
      best
    }.toSeq
  }

  /** Codegen'd PQ encode ([[graft.functions.PqEncode]]) — bit-equal to
    * [[encodeUdf]] by construction (same slice arithmetic, same strict-<
    * tiebreak; IvfIndexSuite pins equality on real residuals), with no
    * per-row SerDe: at 100 TB every stored vector pays the encode once,
    * inside whole-stage codegen. */
  private[ml] def encodeCol(books: Array[Array[Array[Double]]])(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.functions.PqEncode(
      org.apache.spark.sql.GraftSqlBridge.expression(c),
      books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))

  /** Deterministic per-subspace Lloyd over coarse residuals. Requires at
    * least `ksub` corpus rows (codeword init = the ksub lowest vec_ids'
    * residual slices) and d divisible by `m`. */
  def trainPq(df: DataFrame, coarse: Model, m: Int, ksub: Int, iters: Int): PqModel = {
    val spark = df.sparkSession
    val d = coarse.centroids(0).length
    require(m >= 1 && d % m == 0, s"need d ($d) divisible by m ($m)")
    require(ksub >= 1 && iters >= 0, s"need ksub >= 1, iters >= 0")
    val dsub = d / m
    graft.operators.Scratch.withSweep(spark) {
      // materialize residuals once: every Lloyd pass (and the seed
      // collect) reuses them; swept on exit (fully consumed here)
      val res = residuals(df, coarse).localCheckpoint()
      val seeds = res.orderBy("vec_id").limit(ksub).collect()
        .map(_.getSeq[Double](2))
      require(seeds.length >= ksub,
        s"pq: need at least ksub=$ksub rows, got ${seeds.length}")
      var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
        Array.tabulate(ksub)(c => seeds(c).slice(s * dsub, (s + 1) * dsub).toArray))
      for (_ <- 1 to iters) {
        val sums = res
          .select(posexplode(encodeCol(books)(col("r"))).as(Seq("sub", "code")), col("r"))
          .select(col("sub"), col("code"),
            posexplode(expr(s"slice(r, sub * $dsub + 1, $dsub)")).as(Seq("dim", "x")))
          .groupBy("sub", "code", "dim")
          .agg(sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
            count(lit(1)).as("n"))
          .collect()
        val byCell = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
        books = Array.tabulate(m)(s => Array.tabulate(ksub)(c =>
          byCell.get((s, c)) match {
            case Some(rows) => // per-dim decimal mean; empty codes keep codeword
              rows.sortBy(_.getInt(2)).map(r => r.getDouble(3) / r.getLong(4)).toArray
            case None => books(s)(c)
          }))
      }
      PqModel(books)
    }
  }

  /** (vec_id, cell, codes): the PQ-compressed corpus — the m sub-codes
    * replace the vector; this is the whole stored payload at serve time. */
  def encodePq(df: DataFrame, coarse: Model, pq: PqModel): DataFrame =
    residuals(df, coarse)
      .withColumn("codes", encodeCol(pq.codebooks)(col("r")))
      .select("vec_id", "cell", "codes")

  /** Persist per-subspace codebooks beside the index (one row per
    * codeword — KB-scale, the saveModel discipline). */
  def savePqModel(spark: SparkSession, pq: PqModel, path: String): Unit = {
    import spark.implicits._
    (for (s <- 0 until pq.m; c <- 0 until pq.ksub)
      yield (s, c, pq.codebooks(s)(c).toSeq))
      .toDF("sub", "code", "codeword")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadPqModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(path).select("sub", "code", "codeword").collect()
    val m = rows.map(_.getInt(0)).max + 1
    PqModel(Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray)
    })
  }

  // ---------------------------------------------------------------------
  // OPQ-style rotation (the non-parametric init of Ge, He, Ke, Sun,
  // "Optimized Product Quantization", CVPR 2013): rotate the space with
  // an ORTHONORMAL matrix before coarse+PQ so per-subspace variance
  // balances — PCA axes sorted by descending eigenvalue are dealt
  // round-robin into the m subspaces. The rotation is applied WITHOUT
  // centering, so q·v = (Rq)·(Rv) EXACTLY (orthogonality) — semantics
  // are untouched, only the quantization error moves. Deterministic:
  // Pca.fit is partition-order exact and the dealing is a fixed
  // permutation.
  // ---------------------------------------------------------------------

  /** Orthonormal d×d rotation (rows) from PCA axes dealt round-robin so
    * subspace s receives axes s, s+m, s+2m, … of the descending-variance
    * order. Driver Jacobi at d×d — fine for d ≤ ~512 (the corpus pass is
    * still the ONE graft_gram aggregation). */
  def trainRotation(df: DataFrame, m: Int): Array[Array[Double]] = {
    val probe = df.select(expr("size(embedding)")).head().getInt(0)
    require(probe % m == 0, s"need d ($probe) divisible by m ($m)")
    val full = Pca.fit(df, k = probe)
    val dsub = probe / m
    // row j of R (j = s*dsub + r) = the (r*m + s)-th axis: subspace s's
    // rows are axes s, s+m, ... — consecutive output coordinates of one
    // subspace carry interleaved variance ranks
    Array.tabulate(probe) { j =>
      val s = j / dsub; val r = j % dsub
      full.components(r * m + s)
    }
  }

  /** Reconstruction of a coded row in rotated space: centroid(cell) plus
    * the concatenated codewords — the y the quantizer stands for. */
  private def decodeUdf(cents: Array[Array[Double]],
                        books: Array[Array[Array[Double]]]) =
    udf { (cell: Int, codes: Seq[Int]) =>
      val m = books.length
      val dsub = books(0)(0).length
      val c = cents(cell)
      val out = new Array[Double](m * dsub)
      var s = 0
      while (s < m) {
        val cw = books(s)(codes(s))
        var j = 0
        while (j < dsub) { out(s * dsub + j) = c(s * dsub + j) + cw(j); j += 1 }
        s += 1
      }
      out.toSeq
    }

  /** One parametric-OPQ rotation update (the R-step of Ge et al. 2013
    * §4's alternating loop): with the cells/codes FROZEN, the orthonormal
    * R minimizing Σᵢ‖R·x̂ᵢ − yᵢ‖² (x̂ = raw normalized vector, y = the
    * quantizer's reconstruction in rotated space) is the orthogonal
    * Procrustes solution R = U·Vᵀ of the cross-covariance M = Σ y x̂ᵀ.
    *
    * Distributed shape: ONE `graft_gram` aggregation over the
    * concatenated [x̂; y] pairs gives M as the off-diagonal block of a
    * (2d)² partition-order-exact buffer; the SVD is driver arithmetic —
    * MᵀM through the shared Jacobi kernel gives V and σ², U = M·V/σ,
    * with σ≈0 columns completed deterministically from the canonical
    * basis (Gram–Schmidt, first-index order). Returns rows of R. */
  private def procrustesStep(df: DataFrame, rot: Array[Array[Double]],
                             coarse: Model, pq: PqModel): Array[Array[Double]] = {
    val spark = df.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val d = rot.length
    val xhat = normalized(df).select(col("vec_id"), col("v").as("x"))
    val y = encodePq(applyRotation(df, rot), coarse, pq)
      .withColumn("y", decodeUdf(coarse.centroids, pq.codebooks)(col("cell"), col("codes")))
      .select("vec_id", "y")
    val g = xhat.join(y, "vec_id")
      .select(concat(col("x"), col("y")).as("z"))
      .agg(expr("graft_gram(z)")).head().getSeq[Double](0)
    val d2 = 2 * d
    require(g.length == d2 * d2, s"opq: gram size ${g.length} != ${d2 * d2}")
    // M(i)(j) = Σ y_i x̂_j — rows d..2d-1, cols 0..d-1 of the z-gram
    val mM = Array.tabulate(d, d)((i, j) => g((d + i) * d2 + j))
    // SVD via the symmetric kernel: MᵀM = V Σ² Vᵀ
    val mtm = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(t => mM(t)(i) * mM(t)(j)).sum)
    val (vals, vecs) = Pca.jacobiEigen(mtm)
    val order = vals.indices.sortBy(i => (-vals(i), i))
    val vRows = order.map(vecs).toArray // right singular vectors, desc σ
    val frob = math.sqrt(mM.map(r => r.map(x => x * x).sum).sum)
    val tol = 1e-12 * math.max(frob, 1.0)
    val uCols = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (v <- vRows) {
      val mv = Array.tabulate(d)(i => (0 until d).map(j => mM(i)(j) * v(j)).sum)
      val s = math.sqrt(math.max(0.0, vals(order(uCols.length))))
      if (s > tol) uCols += mv.map(_ / s)
      else {
        // degenerate direction: any completion keeps optimality — take
        // the first canonical vector independent of the span (fixed order)
        val u = Array.fill(d)(0.0)
        var e = 0
        var done = false
        while (!done && e < d) {
          val cand = Array.tabulate(d)(i => if (i == e) 1.0 else 0.0)
          for (_ <- 0 until 2; b <- uCols) {
            val c = cand.zip(b).map { case (a, x) => a * x }.sum
            var i = 0
            while (i < d) { cand(i) -= c * b(i); i += 1 }
          }
          val n = math.sqrt(cand.map(x => x * x).sum)
          if (n > 1e-6) { for (i <- 0 until d) u(i) = cand(i) / n; done = true }
          e += 1
        }
        require(done, "opq: could not complete a degenerate singular basis")
        uCols += u
      }
    }
    // R = U Vᵀ, re-orthonormalized to sweep float drift; stays d×d
    val r = Pca.orthonormalize(Array.tabulate(d, d)((i, j) =>
      (0 until d).map(t => uCols(t)(i) * vRows(t)(j)).sum))
    require(r.length == d, s"opq: rotation degenerated to rank ${r.length}")
    r
  }

  /** Mean squared reconstruction error ‖v − y‖²/n of a persisted PQ index
    * over `df` — the PQ analogue of [[staleness]]'s tightness gauge and
    * the objective the OPQ loop descends. One pass: encode under the
    * frozen models, decode, DECIMAL-summed squared error (partition-order
    * exact). Measures in rotated space = raw space (orthonormal R). */
  def pqReconstructionError(spark: SparkSession, path: String,
                            df: DataFrame): Double = {
    val coarse = loadModel(spark, s"$path/model")
    val pq = loadPqModel(spark, s"$path/pq_model")
    val work = rotationOf(spark, path) match {
      case Some(r) => applyRotation(df, r)
      case None => df
    }
    val enc = assign(work, coarse)
      .withColumn("codes", encodeCol(pq.codebooks)(
        residUdf(coarse.centroids)(col("v"), col("cell"))))
      .withColumn("y", decodeUdf(coarse.centroids, pq.codebooks)(col("cell"), col("codes")))
    val errUdf = udf { (v: Seq[Double], y: Seq[Double]) =>
      var s = 0.0
      var i = 0
      while (i < v.length) { val t = v(i) - y(i); s += t * t; i += 1 }
      s
    }
    val r = enc.select(errUdf(col("v"), col("y")).as("e"))
      .agg(count(lit(1)).as("n"),
        sum(col("e").cast("decimal(28,12)")).cast("double").as("se")).head()
    val n = r.getLong(0)
    require(n > 0, "pqReconstructionError: empty frame")
    r.getDouble(1) / n
  }

  private def rotateUdf(rot: Array[Array[Double]]) = udf { v: Seq[Double] =>
    val d = rot.length
    val out = new Array[Double](d)
    var j = 0
    while (j < d) {
      val row = rot(j)
      var acc = 0.0
      var i = 0
      while (i < d) { acc += row(i) * v(i); i += 1 }
      out(j) = acc
      j += 1
    }
    out.toSeq
  }

  /** Replace `embedding` with its rotation (array&lt;double&gt;). */
  private[ml] def applyRotation(df: DataFrame, rot: Array[Array[Double]]): DataFrame =
    df.withColumn("embedding",
      rotateUdf(rot)(expr("CAST(embedding AS array<double>)")))

  /** Persist/load a rotation (one row per output coordinate). */
  def saveRotation(spark: SparkSession, rot: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    rot.zipWithIndex.toSeq.map { case (r, j) => (j, r.toSeq) }
      .toDF("j", "row")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadRotation(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(path).select("j", "row").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  private def rotationOf(spark: SparkSession, path: String): Option[Array[Array[Double]]] = {
    val (fs, p) = hadoopFs(spark, s"$path/rot")
    if (fs.exists(p)) Some(loadRotation(spark, s"$path/rot")) else None
  }

  /** Build THE persisted PQ index: coarse quantizer + residual codebooks
    * + the (cell, batch)-partitioned CODES layout (vec_id, codes — no
    * vectors; the ~64× shrink is the point). The base corpus is batch 0;
    * daily arrivals land as committed ingest versions
    * ([[appendPqVersion]] — same markers/recovery as the float cells
    * layout, applied to codes). Serving needs only the path. Use a path
    * distinct from a [[buildIndex]] float index — the two would fight
    * over `model/` and `ingest/`.
    *
    * `keepFloat = true` additionally writes the float vectors as a
    * `cells` layout beside the codes — the COLD re-rank tier: ADC scans
    * the hot ~64×-compressed codes, then [[searchPqIndex]]'s `rerank`
    * stage restores exact scores by re-scoring only the per-query
    * shortlist against the floats (the standard two-tier serving shape;
    * the float bytes are touched for R rows per query, not per scan).
    * Both layouts share the ingest markers, so appends/compaction/torn
    * recovery stay in lockstep.
    *
    * `opqIters > 0` (requires `rotate = true`) runs the PARAMETRIC OPQ
    * loop (Ge et al. 2013 §4) on top of the non-parametric init:
    * alternately train coarse+codebooks in the current rotated space,
    * then solve the orthogonal Procrustes update of R against the frozen
    * reconstruction ([[procrustesStep]] — one distributed gram pass +
    * a driver d×d SVD per iteration). The FINAL rotation is what gets
    * persisted; appends and serves are unchanged — they apply whatever
    * `rot/` holds. */
  def buildPqIndex(df: DataFrame, k: Int, iters: Int, m: Int, ksub: Int,
                   pqIters: Int, path: String,
                   rotate: Boolean = false,
                   keepFloat: Boolean = false,
                   opqIters: Int = 0): (Model, PqModel) = {
    val spark = df.sparkSession
    require(opqIters == 0 || rotate,
      "opqIters refines a rotation — pass rotate = true with opqIters > 0")
    // OPQ-style preprocessing: persist the rotation FIRST (appends and
    // serves apply it from disk — the same frozen-preprocessing
    // discipline as the q_ann_ivf_pca model), then build in rotated space
    val work =
      if (!rotate) df
      else {
        var r = trainRotation(df, m)
        for (_ <- 1 to opqIters) {
          val c = train(applyRotation(df, r), k, iters)
          val p = trainPq(applyRotation(df, r), c, m, ksub, pqIters)
          r = procrustesStep(df, r, c, p)
        }
        saveRotation(spark, r, s"$path/rot")
        applyRotation(df, r)
      }
    val coarse = train(work, k, iters)
    saveModel(spark, coarse, s"$path/model")
    val pq = trainPq(work, coarse, m, ksub, pqIters)
    savePqModel(spark, pq, s"$path/pq_model")
    graft.sources.PartitionedLayout.writePartitioned(
      encodePq(work, coarse, pq).withColumn("batch", lit(0L)),
      s"$path/codes", "cell", "batch")
    if (keepFloat)
      graft.sources.PartitionedLayout.writePartitioned(
        assign(work, coarse).withColumn("batch", lit(0L)),
        s"$path/cells", "cell", "batch")
    (coarse, pq)
  }

  /** Idempotent versioned PQ append: encode `newVecs` under the FROZEN
    * coarse quantizer and codebooks (one map-side pass — the quantizer
    * freeze is what makes append(A, B) produce the committed content an
    * encode of A ∪ B under model(A) would, suite-pinned), land them as
    * `batch=version` leaf partitions of the codes layout, then commit
    * the marker. Retry of a committed version is a no-op; a torn attempt
    * overwrites exactly its own partitions. */
  def appendPqVersion(spark: SparkSession, path: String, newVecs: DataFrame,
                      version: Long): Unit = {
    val cur = committedIngestVersion(spark, path)
    require(version >= 1, s"version must be >= 1 (0 is the base build), got $version")
    require(version <= cur + 1,
      s"append version must be <= current+1 (=${cur + 1}), got $version")
    if (version <= cur) return // already committed: deterministic content, no-op
    val coarse = loadModel(spark, s"$path/model")
    val pq = loadPqModel(spark, s"$path/pq_model")
    val work = rotationOf(spark, path) match {
      case Some(r) => applyRotation(newVecs, r) // frozen build-time rotation
      case None => newVecs
    }
    graft.sources.PartitionedLayout.overwritePartitions(
      encodePq(work, coarse, pq).withColumn("batch", lit(version)),
      s"$path/codes", "cell", "batch")
    // float re-rank twin (keepFloat builds): land the batch's floats
    // BEFORE the marker — one marker commits both layouts atomically
    val (fsC, cellsP) = hadoopFs(spark, s"$path/cells")
    if (fsC.exists(cellsP))
      graft.sources.PartitionedLayout.overwritePartitions(
        assign(work, coarse).withColumn("batch", lit(version)),
        s"$path/cells", "cell", "batch")
    val (fs, _) = hadoopFs(spark, path)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/ingest/v=$version"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$path/ingest/v=$version/_SUCCESS"), true).close()
  }

  /** Add a batch as the next committed version (NOT retry-safe — picks
    * current+1 fresh; at-least-once callers name their version via
    * [[appendPqVersion]]). Returns the number of vectors appended. */
  def appendToPqIndex(spark: SparkSession, path: String,
                      newVecs: DataFrame): Long = {
    appendPqVersion(spark, path, newVecs, committedIngestVersion(spark, path) + 1)
    newVecs.count()
  }

  /** Query-side LUT: lut(s·ksub + c) = q_s · codeword_c^s — computed once
    * per query, cell-independent (residual codebooks are shared). */
  private def lutUdf(books: Array[Array[Array[Double]]]) = udf { qv: Seq[Double] =>
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        val cw = books(s)(c)
        var acc = 0.0
        var j = 0
        while (j < dsub) { acc += qv(s * dsub + j) * cw(j); j += 1 }
        out(s * ksub + c) = acc
        c += 1
      }
      s += 1
    }
    out.toSeq
  }

  private def qDotCentUdf(cents: Array[Array[Double]]) =
    udf { (qv: Seq[Double], cell: Int) =>
      val c = cents(cell)
      var acc = 0.0
      var i = 0
      while (i < c.length) { acc += qv(i) * c(i); i += 1 }
      acc
    }

  /** ADC search over a [[buildPqIndex]] layout: probe nprobe cell
    * directories (partition-pruned file listing, same as
    * [[searchPartitioned]]), score candidates as q·cent + m LUT lookups —
    * a codegen'd element_at sum, no per-candidate d-length dot, and the
    * corpus vectors are never read (they are not even stored). Returns
    * (q_id, rn, c_id, score) where score approximates the cosine of
    * normalized vectors; ties rank by c_id.
    *
    * `rerank = R > 0` (requires a `keepFloat = true` index) adds the
    * exact second tier: the ADC pass keeps its top-max(R, topK)
    * shortlist per query, the shortlist joins back against the float
    * `cells` twin (pruned to the probed cell directories and committed
    * batches — the cold floats are read for shortlist rows only), and
    * the final topK ranks by the EXACT dot q·v, so `score` is the true
    * cosine, not the quantized approximation. With R ≥ the probed
    * candidate count this equals the float IVF search at the same
    * nprobe exactly (suite-pinned); small R (2–10×topK) restores most
    * of the quantization-lost recall at a per-query float cost of R
    * rows — the standard PQ serving shape (Jégou et al. 2011 §V).
    *
    * `allowed` restricts candidates to an id allowlist BEFORE the ADC
    * scoring (filtered search — see [[search]]); the re-rank shortlist
    * then inherits the restriction for free. */
  def searchPqIndex(spark: SparkSession, path: String, queries: DataFrame,
                    topK: Int, nprobe: Int, rerank: Int = 0,
                    allowed: Option[DataFrame] = None): DataFrame = {
    val coarse = loadModel(spark, s"$path/model")
    val pq = loadPqModel(spark, s"$path/pq_model")
    require(nprobe >= 1 && nprobe <= coarse.k)
    // an OPQ-rotated index rotates its queries through the persisted R —
    // q·v is EXACTLY preserved (orthogonality, no centering), so scores
    // approximate the same raw-space cosine
    val qIn = rotationOf(spark, path) match {
      case Some(r) => applyRotation(queries, r)
      case None => queries
    }
    val qc = normalized(qIn)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("lut", lutUdf(pq.codebooks)(col("qv")))
      .withColumn("cell", explode(nearestCellsUdf(coarse.centroids, nprobe)(col("qv"))))
      .withColumn("qdotc", qDotCentUdf(coarse.centroids)(col("qv"), col("cell")))
    val probed = qc.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val raw = graft.sources.PartitionedLayout.read(spark, s"$path/codes")
      .filter(col("cell").isin(probed.toSeq: _*))
    // committed ingest versions only (directory-pruned second-level
    // filter); a pre-versioning static layout has no batch column — skip
    val committed = restrict(
      if (raw.columns.contains("batch"))
        raw.filter(col("batch") <= committedIngestVersion(spark, path))
      else raw, allowed)
    val codes = committed.select(col("vec_id").as("c_id"), col("codes"), col("cell"))
    // ADC: codegen'd sum of m lookups (1-based element_at; codes are
    // 0-based per subspace, offset s·ksub into the flattened LUT)
    val adc = (0 until pq.m).map(s =>
      element_at(col("lut"),
        element_at(col("codes"), s + 1) + lit(s * pq.ksub) + lit(1)))
      .reduce(_ + _)
    val scored = qc.join(codes, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", col("qdotc") + adc)
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
    if (rerank <= 0)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
        .select("q_id", "rn", "c_id", "score")
    else {
      val (fs, cellsP) = hadoopFs(spark, s"$path/cells")
      require(fs.exists(cellsP),
        s"searchPqIndex(rerank=$rerank) needs the float re-rank twin at " +
          s"$path/cells — build the index with keepFloat = true")
      val shortR = math.max(rerank, topK)
      // tier 1: ADC keeps the top-R shortlist (approximate order)
      val shortlist = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= shortR)
        .select("q_id", "qv", "c_id")
      // tier 2: exact dots for shortlist rows only — the float read is
      // pruned to the probed cell directories + committed batches, and
      // the join key set is |Q|·R rows (broadcast-scale by construction)
      val rawF = graft.sources.PartitionedLayout.read(spark, s"$path/cells")
        .filter(col("cell").isin(probed.toSeq: _*))
      val floats =
        (if (rawF.columns.contains("batch"))
           rawF.filter(col("batch") <= committedIngestVersion(spark, path))
         else rawF)
          .select(col("vec_id").as("c_id"), col("v").as("cv"))
      graft.functions.VectorFunctions.register(spark)
      val exact = shortlist.join(floats, Seq("c_id"))
        .withColumn("score", expr("graft_dot(qv, cv)"))
      val w2 = Window.partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
      exact.withColumn("rn", row_number().over(w2)).filter(col("rn") <= topK)
        .select("q_id", "rn", "c_id", "score")
    }
  }

  /** Reconstructed vectors for a PQ index's committed rows, decoded from
    * CODES ALONE — (vec_id, v) with v = centroid(cell) + codewords. The
    * float twin (`keepFloat`) is never touched and need not exist: this
    * is the float-free corpus read that lets diversity/sampling operators
    * ([[graft.queries.LlmOps.mmrRerankPq]] / `kCenterSamplePq`) run
    * against the 64×-compressed store. Vectors are in the index's ROTATED
    * space when an OPQ rotation is persisted; the rotation is orthonormal
    * (no centering), so dot products — hence cosines — are exactly
    * preserved and downstream similarity arithmetic is raw-space-faithful
    * up to quantization error (exact in the lossless-codebook regime,
    * suite-pinned). `allowed` restricts the read through the
    * selectivity-aware [[restrict]] pushdown BEFORE decoding. */
  def decodePq(spark: SparkSession, path: String,
               allowed: Option[DataFrame] = None): DataFrame = {
    val coarse = loadModel(spark, s"$path/model")
    val pq = loadPqModel(spark, s"$path/pq_model")
    val raw = graft.sources.PartitionedLayout.read(spark, s"$path/codes")
    val committed = restrict(
      if (raw.columns.contains("batch"))
        raw.filter(col("batch") <= committedIngestVersion(spark, path))
      else raw, allowed)
    committed.select(col("vec_id"),
      decodeUdf(coarse.centroids, pq.codebooks)(col("cell"), col("codes")).as("v"))
  }

  /** [[search]] against a [[writeCells]] layout. The probed-cell union is
    * collected driver-side (queries are the tiny side by construction) and
    * pushed as an `isin` PARTITION filter, so Catalyst's file listing
    * touches at most `nprobe` of the k cell directories per query — the
    * corpus outside the probed cells is never read, not merely filtered.
    * Results are identical to search() under the same model/nprobe
    * (IvfIndexSuite pins both the equality and the pruned listing). */
  def searchPartitioned(spark: SparkSession, path: String, queries: DataFrame,
                        model: Model, topK: Int, nprobe: Int,
                        maxBatch: Option[Long] = None,
                        allowed: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.k)
    val qcells = normalized(queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("cell", explode(nearestCellsUdf(model.centroids, nprobe)(col("qv"))))
    val probed = qcells.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val raw = graft.sources.PartitionedLayout.read(spark, path)
      .filter(col("cell").isin(probed.toSeq: _*))
    // committed-versions-only read for versioned layouts: `batch` is a
    // second-level partition column, so this filter prunes directories
    // too. A static writeCells layout has no batch column — skip.
    // The allowlist restriction (filtered search — see [[search]]) lands
    // AFTER the partition pruning, so the directory-level skip survives.
    val corpus = restrict(maxBatch match {
      case Some(v) if raw.columns.contains("batch") => raw.filter(col("batch") <= v)
      case _ => raw
    }, allowed)
    graft.functions.VectorFunctions.register(spark)
    val scored = qcells.join(corpus.select(col("vec_id").as("c_id"),
        col("v").as("cv"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos_sim", expr("graft_dot(qv, cv)"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select("q_id", "rn", "c_id", "cos_sim")
  }
}
