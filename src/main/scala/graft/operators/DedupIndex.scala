package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH dedup index — the incremental path a 100 TB
  * pipeline actually runs: yesterday's corpus is indexed ONCE (band table
  * + shingle-hash table + set sizes on disk, partitioned parquet), and
  * each new batch dedups against it by joining ITS bands against the
  * stored bands — never recomputing, never rescanning yesterday's text.
  *
  * The index is built on the vocab-FREE sketch (xxhash64 shingle ids,
  * `graft_minhash` mergeable aggregate — the q_dedup_minhash_sketch_xxh
  * shape) deliberately: a sorted-vocab rank is corpus-RELATIVE, so adding
  * documents would re-rank every shingle and invalidate every stored
  * sketch. Hash ids are corpus-independent — a document's sketch, band
  * keys and shingle set never change, which is exactly what makes the
  * index appendable. (This is why only the xxh twins can be incremental,
  * and the vocab twins exist solely for DuckDB hash parity.)
  *
  * Layout under `path/`:
  *   bands/batch=V/    (doc_id, band, bkey) — LSH band keys, the join surface
  *   shingles/batch=V/ (doc_id, sid)        — 64-bit shingle hashes, exact verify
  *   sizes/batch=V/    (doc_id, n)          — distinct-shingle counts for Jaccard
  *   meta/             one-row JSON of the parameters (read back on every
  *                     use, so a probe with mismatched banding is impossible)
  * Each append is a new `batch=V` partition directory: V's rows are visible
  * only once all three subtables carry its `_SUCCESS` marker, so a version
  * is COMMITTED atomically-enough for the single-writer pipelines this
  * index serves (a crashed append leaves partial dirs that
  * [[cleanupUncommitted]] removes, and a retried [[appendVersion]]
  * overwrites its own version dirs — the exactly-once recipe
  * [[graft.streaming.StreamingDedup]] builds on). Readers prune on the
  * partition column for free; logically the index is the UNION of the
  * committed versions, which is correct because per-doc sketches are
  * corpus-independent (below).
  *
  * Scale: dedupAgainst joins |new batch| bands against the stored band
  * table — hash-partitioned equi joins only, hot buckets capped by the
  * same guard as the batch twins (applied to the UNION of stored + new
  * bands, so incremental results match the batch run exactly — pinned by
  * DedupIndexSuite). The band table is ~numBands rows per doc; at 10 B
  * docs x 16 bands it is a big-but-boring parquet table that prunes on
  * bkey at read time.
  */
object DedupIndex {

  /** Index parameters; defaults match q_dedup_minhash_sketch_xxh so the
    * incremental result is bit-identical to the batch twin. */
  case class Params(
      numPerms: Int = 64,
      numBands: Int = 16,
      rowsPerBand: Int = 4,
      modulus: Long = 1000003L,
      threshold: Double = 0.8,
      maxBucket: Int = 64)

  /** (doc_id, sid): distinct xxhash64 ids of 5-gram word shingles — the
    * SHARED LlmOps shingle definition, so the incremental==batch contract
    * cannot drift from the batch queries' shingling. */
  private def shingleIds(docs: DataFrame): DataFrame =
    graft.queries.LlmOps.docShinglesOf(docs)
      .select(col("doc_id"), xxhash64(col("sh")).as("sid"))

  /** (doc_id, band, bkey) from the mergeable sketch — the SHARED LlmOps
    * band-key expression, same no-drift contract. */
  private def bandsOf(ds: DataFrame, p: Params): DataFrame =
    ds.groupBy("doc_id")
      .agg(expr(s"graft_minhash(pmod(sid, ${p.modulus}), ${p.numPerms})").as("mh"))
      .select(col("doc_id"), posexplode(
        expr(graft.queries.LlmOps.bandKeyExpr(p.numBands, p.rowsPerBand)))
        .as(Seq("band", "bkey")))

  private val SubTables = Seq("bands", "shingles", "sizes")

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One version's rows for all three subtables, overwrite-idempotent:
    * re-running the same version replaces its own partition dirs only.
    * One checkpointed shingle pass feeds all three writes; they consume
    * it fully, so its blocks are released before returning. */
  private def writeTables(docs: DataFrame, p: Params, path: String, version: Long): Unit = {
    val ds = shingleIds(docs).localCheckpoint()
    try {
      bandsOf(ds, p).write.mode("overwrite").parquet(s"$path/bands/batch=$version")
      ds.write.mode("overwrite").parquet(s"$path/shingles/batch=$version")
      ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$path/sizes/batch=$version")
    } finally Scratch.release(ds)
  }

  /** Version numbers present under the index (committed or not). */
  private def allVersions(spark: SparkSession, path: String): Seq[Long] =
    SubTables.flatMap { t =>
      val (fs, p) = hadoopFs(spark, s"$path/$t")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    }.distinct

  /** A version is committed iff all three subtables finished writing it
    * (Spark's `_SUCCESS` marker — the job-level commit point). */
  def isCommitted(spark: SparkSession, path: String, version: Long): Boolean =
    SubTables.forall { t =>
      val (fs, _) = hadoopFs(spark, path)
      fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/$t/batch=$version/_SUCCESS"))
    }

  /** Remove version dirs a crashed append left half-written: any version
    * missing `_SUCCESS` in ANY subtable is deleted from ALL of them, so
    * subsequent reads see only committed versions. Single-writer only —
    * running this concurrently with a live append would eat its output. */
  def cleanupUncommitted(spark: SparkSession, path: String): Unit = {
    recoverCompact(spark, path)
    allVersions(spark, path).filterNot(isCommitted(spark, path, _)).foreach { v =>
      SubTables.foreach { t =>
        val (fs, p) = hadoopFs(spark, s"$path/$t/batch=$v")
        fs.delete(p, true)
      }
    }
  }

  /** Recovery for a [[compact]] crashed at any point
    * ([[graft.streaming.VersionedState.recoverSwap]] — the shared
    * compactor discipline), per-subtable so a crash mid-swap-loop (some
    * subtables swapped, others not) also lands back on a valid layout
    * (each side of the swap is the identical logical union). Runs at
    * every cleanup/compact entry. */
  private def recoverCompact(spark: SparkSession, path: String): Unit =
    SubTables.foreach { t =>
      graft.streaming.VersionedState.recoverSwap(spark,
        live = s"$path/$t", old = s"$path/${t}_old",
        stage = s"$path/${t}_compact")
    }

  /** Fold every committed `batch=V` partition into one — the maintenance
    * op that keeps a daily-append index from accumulating thousands of
    * small partition directories (file-listing cost grows per append;
    * at weekly-compaction cadence it stays O(1)). Logical content is
    * unchanged: the index IS the union of its batches, and compaction
    * rewrites that union under the highest committed version number, so
    * version numbering (and [[append]]'s next-free-version rule) continues
    * where it left off.
    *
    * Crash-safe by content-preservation: the compacted copy is fully
    * written (with `_SUCCESS`) under sibling staging dirs before any
    * original data is touched, then swapped in with per-subtable renames.
    * A crash leaves either the old layout, the new, or a mix — all three
    * have the identical logical union. Single-writer only, and the writer
    * must be QUIESCED: a streaming replay of a batch id below the
    * compacted version would re-append rows the compacted batch already
    * holds (run compaction only after the sink's checkpoint has passed
    * every version being folded — same discipline as
    * [[cleanupUncommitted]]). Returns the number of batches folded away. */
  def compact(spark: SparkSession, path: String): Int = {
    cleanupUncommitted(spark, path) // half-written batches must not be folded in
    val vs = allVersions(spark, path).sorted
    if (vs.size <= 1) return 0
    val target = vs.max
    val cols = Map("bands" -> Seq("doc_id", "band", "bkey"),
      "shingles" -> Seq("doc_id", "sid"), "sizes" -> Seq("doc_id", "n"))
    SubTables.foreach { t =>
      spark.read.parquet(s"$path/$t").select(cols(t).map(col): _*)
        .write.mode("overwrite").parquet(s"$path/${t}_compact/batch=$target")
    }
    SubTables.foreach { t =>
      val (fs, _) = hadoopFs(spark, path)
      val live = new org.apache.hadoop.fs.Path(s"$path/$t")
      val old = new org.apache.hadoop.fs.Path(s"$path/${t}_old")
      fs.delete(old, true)
      require(fs.rename(live, old), s"compact: could not stage $t aside")
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/${t}_compact"), live),
        s"compact: could not swap in compacted $t (originals preserved at ${t}_old)")
      fs.delete(old, true)
    }
    vs.size - 1
  }

  /** Build (overwrite) the index from a (doc_id, text) frame as version 0. */
  def build(docs: DataFrame, path: String, p: Params = Params()): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // a rebuild must not leave a previous build's higher versions behind —
    // but wipe ONLY a path that is empty or already holds a dedup index
    // (meta/ or bands/ present): recursively deleting a mistyped or shared
    // directory would silently destroy unrelated data
    val (fs, root) = hadoopFs(spark, path)
    if (fs.exists(root)) {
      val children = fs.listStatus(root).map(_.getPath.getName).toSet
      require(children.isEmpty || children.contains("meta") || children.contains("bands"),
        s"refusing to wipe $path: it exists but does not look like a dedup index " +
          s"(found ${children.take(5).mkString(", ")}); delete it yourself if intended")
      fs.delete(root, true)
    }
    writeTables(docs, p, path, 0L)
    Seq((p.numPerms, p.numBands, p.rowsPerBand, p.modulus, p.threshold, p.maxBucket))
      .toDF("num_perms", "num_bands", "rows_per_band", "modulus", "threshold", "max_bucket")
      .repartition(1).write.mode("overwrite").json(s"$path/meta")
  }

  /** Read back the parameters the index was built with. */
  def params(spark: SparkSession, path: String): Params = {
    val r = spark.read.json(s"$path/meta").collect().head
    Params(
      numPerms = r.getAs[Long]("num_perms").toInt,
      numBands = r.getAs[Long]("num_bands").toInt,
      rowsPerBand = r.getAs[Long]("rows_per_band").toInt,
      modulus = r.getAs[Long]("modulus"),
      threshold = r.getAs[Double]("threshold"),
      maxBucket = r.getAs[Long]("max_bucket").toInt)
  }

  /** Grow the index with a new batch: per-doc sketches are corpus-
    * independent, so appending the new docs' rows IS the full rebuild
    * (pinned by suite). Caller guarantees doc_ids are new. Writes the
    * next free version — NOT retry-safe (a retried call appends twice);
    * at-least-once callers use [[appendVersion]] with their own id. */
  def append(docs: DataFrame, path: String): Unit =
    appendVersion(docs, path,
      allVersions(docs.sparkSession, path).maxOption.getOrElse(0L) + 1)

  /** Idempotent append: the caller names the version (>= 1), and a retry
    * of the same version overwrites its own partition dirs — the building
    * block for exactly-once sinks on at-least-once delivery. */
  def appendVersion(docs: DataFrame, path: String, version: Long): Unit = {
    require(version >= 1, s"version must be >= 1 (0 is the base build), got $version")
    val p = params(docs.sparkSession, path)
    writeTables(docs, p, path, version)
  }

  /** doc_ids the index has accepted so far (one row per indexed doc). */
  def indexedIds(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/sizes").select("doc_id")

  /** Near-dup pairs (d1, d2, jaccard) of `newDocs` against the index AND
    * within the new batch — exactly the batch-over-everything result
    * restricted to pairs touching a new doc, at the cost of one band join
    * per new batch. Pairs wholly inside the index are never recomputed. */
  def dedupAgainst(path: String, newDocs: DataFrame): DataFrame = {
    val spark = newDocs.sparkSession
    val p = params(spark, path)
    val newDs = shingleIds(newDocs).localCheckpoint()
    val newBands = bandsOf(newDs, p)
    val allBands = spark.read.parquet(s"$path/bands")
      .select("doc_id", "band", "bkey").unionByName(newBands)
      // only buckets the NEW batch lands in can produce a candidate pair
      // (every pair needs a new-batch side), and the semi-join keeps each
      // touched bucket's FULL membership, so the cap below still sees the
      // union's true bucket sizes — incremental == batch is preserved
      // (suite-pinned). Round 18 (guide §2.3): the serving call previously
      // checkpointed and cap-counted the ENTIRE stored band table per
      // batch — at 100 TB a full index copy + shuffle per daily batch;
      // now the index is scanned once and filtered to the batch's bucket
      // neighborhood before anything is materialized.
      .join(newBands.select("band", "bkey").distinct(),
        Seq("band", "bkey"), "left_semi")
    // the hot-bucket cap must see the UNION's bucket sizes (a bucket can
    // cross the capacity only once the new batch lands in it) — this is
    // what keeps incremental == batch, suite-pinned
    val capped = ScaleJoins.dropHotKeys(
      allBands.localCheckpoint(), Seq("band", "bkey"), p.maxBucket)
    val newIds = newDs.select("doc_id").distinct()
    val newCapped = capped.join(broadcast(newIds), "doc_id")
    val cand = newCapped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    val allDs = spark.read.parquet(s"$path/shingles")
      .select("doc_id", "sid").unionByName(newDs)
    val sizes = spark.read.parquet(s"$path/sizes")
      .select("doc_id", "n").unionByName(
        newDs.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val inter = cand
      .join(allDs.select(col("doc_id").as("d1"), col("sid")), "d1")
      .join(allDs.select(col("doc_id").as("d2"), col("sid")), Seq("d2", "sid"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("na")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("nb")), "d2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= p.threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Exact-content "seen before" Bloom prefilter: a persisted graft_bloom
    * bitset over xxhash64(text). `filterUnseen` keeps only documents whose
    * content the filter has NEVER seen — no false negatives (a seen doc
    * always probes true), and a ~(1-e^(-kn/m))^k false-POSITIVE rate of
    * unseen docs wrongly dropped, the documented price of a prefilter
    * that needs one broadcast bitset instead of an anti-join against the
    * whole corpus. Pair with the exact anti-join where zero loss matters. */
  def writeSeenFilter(docs: DataFrame, path: String,
                      numBits: Int = 1 << 22, numHashes: Int = 4,
                      keyCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(xxhash64(col(keyCol)).as("k"))
      .agg(expr(s"graft_bloom(k, $numBits, $numHashes)").as("bf"))
      .repartition(1).write.mode("overwrite").parquet(s"$path/bloom")
    Seq((numBits, numHashes)).toDF("num_bits", "num_hashes")
      .repartition(1).write.mode("overwrite").json(s"$path/bloom_meta")
  }

  /** Append-grow the seen filter: OR the stored bitset with the new
    * batch's (merge = elementwise OR, the BloomAgg merge rule). The
    * bitset is one row of numBits/64 longs (512 KB at the 2^22 default) —
    * driver-side OR, same never-shard-a-model stance as AdaBoostMH. */
  def appendSeenFilter(docs: DataFrame, path: String,
                       keyCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = spark.read.json(s"$path/bloom_meta").collect().head
    val (bits, hashes) = (m.getAs[Long]("num_bits").toInt, m.getAs[Long]("num_hashes").toInt)
    val fresh = docs.select(xxhash64(col(keyCol)).as("k"))
      .agg(expr(s"graft_bloom(k, $bits, $hashes)").as("bf"))
      .collect().head.getSeq[Long](0)
    val stored = spark.read.parquet(s"$path/bloom").collect().head.getSeq[Long](0)
    require(fresh.length == stored.length,
      s"bitset length mismatch: ${fresh.length} vs ${stored.length}")
    val ored = fresh.zip(stored).map { case (a, b) => a | b }
    Seq(Tuple1(ored)).toDF("bf")
      .repartition(1).write.mode("overwrite").parquet(s"$path/bloom")
  }

  /** Documents from `docs` whose content is NOT in the seen filter.
    * `keyCol` names the probed column (default the document text — the
    * dedup shape; the crawl frontier probes its canonical URL column). */
  def filterUnseen(path: String, docs: DataFrame,
                   keyCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val m = spark.read.json(s"$path/bloom_meta").collect().head
    val (bits, hashes) = (m.getAs[Long]("num_bits").toInt, m.getAs[Long]("num_hashes").toInt)
    val bf = spark.read.parquet(s"$path/bloom")
    docs.withColumn("_k", xxhash64(col(keyCol)))
      .join(broadcast(bf))
      .filter(!expr(graft.functions.BloomAgg.mightContainSql("_k", "bf", bits, hashes)))
      .drop("_k", "bf")
  }
}
