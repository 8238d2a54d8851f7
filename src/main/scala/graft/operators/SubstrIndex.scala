package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted exact-substring dedup index — the incremental form of the
  * ExactSubstr pass (queries.LlmOps `q_dedup_substr`): a daily 100 TB
  * pipeline never re-windows yesterday's corpus; it stores the distinct
  * window keys it has already seen and marks, per NEW batch, every
  * occurrence of (a) a window key already in the index or (b) a window
  * repeated within the batch (minus the batch's own canonical first
  * occurrence). Under the append contract below this equals the
  * batch-over-everything q_dedup_substr_xxh result restricted to the new
  * docs' spans — suite-pinned.
  *
  * Append contract: doc_ids are MONOTONE across batches (every appended
  * doc_id exceeds all indexed ones — arrival order, the same
  * "caller guarantees doc_ids are new" discipline as [[DedupIndex]]
  * tightened to ordering). Monotonicity is what makes "key in index ⇒
  * every new occurrence is non-canonical" exact: the stored canonical
  * (lexicographic min struct(doc_id, pos) — exact at any doc length or
  * id, unlike a packed long) always precedes any new occurrence.
  * Violating it shifts which occurrence is exempt, nothing else.
  *
  * On-disk layout under `path` (the [[DedupIndex]] conventions —
  * docs/versioned-state-machines.md):
  *   - `meta/`: the window width `w` and the tokenizer expression
  *     (both fixed at build; every append and serve reuses them).
  *     Written FIRST: a crash mid-build leaves meta-without-batches
  *     (every read fails loudly on the missing `win/`, and a re-build
  *     overwrites), never batches-without-meta (which would poison
  *     every later [[params]] read). The tokenizer expression is
  *     whitelist-validated at build AND at every load — `expr()` on a
  *     tampered meta would otherwise evaluate arbitrary SQL (Spark
  *     exposes reflect()/java_method()).
  *   - `win/batch=<v>`: (k, canon) — distinct xxhash64 window keys of
  *     batch v with the batch-min canonical position. `_SUCCESS`-gated;
  *     a retried [[appendVersion]] overwrites its own dir
  *     (exactly-once on at-least-once delivery). The union of committed
  *     batches IS the seen-window set; [[compact]] folds it to one dir
  *     (global min canon per key) behind the shared
  *     [[graft.streaming.VersionedState.recoverSwap]] staged rename.
  *   - `bloom/` + `bloom_meta/`: a graft_bloom bitset over every stored
  *     window key (the [[DedupIndex.writeSeenFilter]] pattern), OR-grown
  *     BEFORE each batch commits so it is always a SUPERSET of the
  *     committed keys — no false negatives ever; a torn bloom write
  *     degrades [[dedupAgainst]] to the exact path, never to a wrong
  *     answer. Optional (bloomBits = 0 disables; pre-bloom indexes read
  *     fine).
  *
  * Scale shape of [[dedupAgainst]]: the batch's distinct window keys
  * probe the broadcast bloom bitset first; keys the bloom has never seen
  * skip the index entirely (a fully-novel batch touches ZERO index
  * files), and only the surviving candidates semi-join the stored keys
  * (index streamed map-side against the broadcast candidate set when the
  * batch is mostly novel — AQE picks the build side). The prefilter
  * auto-engages only past [[BloomMinIndexBytes]] of stored keys (its
  * fixed costs beat a small index's scan; one FS listing decides —
  * override with the explicit `useBloom` arg). Plus the same
  * map-combining within-batch group and doc_id-partitioned island merge
  * as the batch operator. Work per day ∝ the day's batch, never the
  * corpus.
  *
  * Block hygiene: [[dedupAgainst]] localCheckpoints the batch windows
  * (reused by four plan subtrees); the pinned blocks are tracked PER
  * INDEX PATH and released by [[sweep]] — call it after the consuming
  * action, and only then: the blocks are lineage-truncated checkpoints,
  * so a sweep before a still-live frame's re-consumption is a loud job
  * failure, not a recompute (see [[sweep]]).
  * ([[graft.streaming.StreamingSubstr]] sweeps its own path per
  * micro-batch; the bench sweeps globally per query; direct long-lived
  * library callers own the call — or use
  * [[graft.operators.Scratch.withSweep]].) [[compact]] sweeps its own
  * blocks before returning.
  */
object SubstrIndex {

  /** (doc_id, pos, k): 1-based window positions and xxhash64 keys of all
    * w-token windows — the SAME windowing as the gated q_dedup_substr_xxh
    * (LlmOps.substrSpansOf with hashKeys=true) so incremental == batch
    * cannot drift on tokenization. `tokenizeSql` is the persisted
    * tokenizer (meta) — every append and serve of an index runs the
    * SAME expression, fixed at build time. */
  private def windows(docs: DataFrame, w: Int, tokenizeSql: String): DataFrame =
    docs
      .select(col("doc_id"), expr(tokenizeSql).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(t) - ${w - 1}), i -> array_join(slice(t, i, $w), ' '))"))
        .as(Seq("i", "sh")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("pos"),
        xxhash64(col("sh")).as("k"))

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def recoverCompact(spark: SparkSession, path: String): Unit =
    graft.streaming.VersionedState.recoverSwap(spark,
      live = s"$path/win", old = s"$path/win_old",
      stage = s"$path/win_compact")

  private def allVersions(spark: SparkSession, path: String): Seq[Long] =
    graft.streaming.VersionedState.versions(spark, s"$path/win", "batch=")

  def isCommitted(spark: SparkSession, path: String, version: Long): Boolean =
    hadoopFs(spark, path)._1.exists(new org.apache.hadoop.fs.Path(
      s"$path/win/batch=$version/_SUCCESS"))

  /** Delete batch dirs a crashed append left half-written, after first
    * finishing/undoing any crashed compact. Single-writer only. */
  def cleanupUncommitted(spark: SparkSession, path: String): Unit = {
    recoverCompact(spark, path)
    allVersions(spark, path).filterNot(isCommitted(spark, path, _)).foreach {
      v => graft.streaming.VersionedState.delete(spark, s"$path/win/batch=$v")
    }
  }

  /** The window width the index was built with. */
  def width(spark: SparkSession, path: String): Int = params(spark, path)._1

  /** The canon-column format this code writes: struct<doc_id,pos>
    * (format 2). Format 1 was the r9 packed long (doc_id·10⁶+pos) —
    * mixing the two in one win/ tree would give compact()/serves mixed
    * parquet schemas, so loads REFUSE format-1 indexes (ADVICE r10). */
  val CanonFormat: Long = 2L

  /** Cached format per path (legacy indexes need a one-off schema sniff;
    * the answer cannot change under single-writer discipline except via
    * [[build]], which re-stamps the cache). */
  private val formatCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** The canon format of the index at `path`: meta's `format` field when
    * present (every index built at or after this version); otherwise a
    * one-off sniff of a committed batch's parquet schema — struct canon ⇒
    * format 2 (a pre-stamp index written by THIS format's code), anything
    * else ⇒ format 1 (the packed-long layout). ONLY a genuinely missing
    * `win/` (fresh build, meta-before-batch0) defaults to the current
    * format; a transient read failure PROPAGATES — swallowing it would
    * wave a legacy index past the guard and let the next append mix
    * parquet schemas (and computeIfAbsent caches nothing on a throw, so
    * a retry re-sniffs). */
  private def formatOf(spark: SparkSession, path: String, metaFormat: Option[Long]): Long =
    metaFormat.getOrElse {
      // getOrDefault, not get: a missing entry's null would auto-unbox
      // to 0L under the scala.Long value type
      val cached = formatCache.getOrDefault(path, -1L)
      if (cached >= 0L) cached
      else {
        val (fs, win) = hadoopFs(spark, s"$path/win")
        // a missing win/ answers CanonFormat but is NOT cached (VERDICT
        // r11 #4): a probe racing batch 0 — or a legacy index copied in
        // later — must be re-sniffed on the next call, not waved through
        // on a default recorded before any batch existed. Only a schema
        // actually read from win/ may populate the cache.
        if (!fs.exists(win)) CanonFormat
        else formatCache.computeIfAbsent(path, _ =>
          spark.read.parquet(s"$path/win").schema("canon").dataType match {
            case _: org.apache.spark.sql.types.StructType => 2L
            case _ => 1L
          })
      }
    }

  /** (w, tokenizeSql) the index was built with. Indexes from before the
    * tokenizer hook carry no `tokenize` field — default whitespace. The
    * loaded expression is re-validated against the function whitelist:
    * meta is on-disk state, and `expr()` on a tampered file would
    * otherwise evaluate attacker-chosen calls on every append/serve.
    * Refuses an index whose stored canon format predates [[CanonFormat]]
    * (appending onto it would mix parquet schemas in win/). */
  def params(spark: SparkSession, path: String): (Int, String) = {
    val r = spark.read.json(s"$path/meta").collect().head
    val tok = scala.util.Try(r.getAs[String]("tokenize")).toOption
      .filter(_ != null).getOrElse(DefaultTokenize)
    val metaFormat = scala.util.Try(r.getAs[Long]("format")).toOption
    val fmt = formatOf(spark, path, metaFormat)
    require(fmt == CanonFormat,
      s"substr index at $path stores canon format $fmt (the packed-long " +
        s"layout); this version reads/writes format $CanonFormat " +
        "(struct<doc_id,pos>). Appending or compacting would mix parquet " +
        "schemas under win/ — REBUILD the index from the corpus " +
        "(SubstrIndex.build) to repair.")
    try validateTokenizer(spark, tok)
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(
        s"persisted tokenizer of the index at $path fails validation " +
          "(the expression whitelist tightened, or meta was edited). The " +
          "repair is a REBUILD with a whitelisted tokenizer (or, if you " +
          "audited the expression yourself, editing meta/ to a whitelisted " +
          s"equivalent): ${e.getMessage}", e)
    }
    (r.getAs[Long]("w").toInt, tok)
  }

  /** The whitespace default — the gated queries' tokenization. */
  val DefaultTokenize: String = "split(text, ' ')"

  /** Sentinel for [[build]]'s `bloomBits`: size the seen-filter from the
    * build corpus' measured distinct window count. */
  val AutoBloomBits: Int = -1

  /** Functions a tokenizer expression may call: deterministic
    * string/array shaping only. Anything else — reflect(),
    * java_method(), UDF names, non-deterministic builtins — is rejected
    * at build and at load. Deliberately WIDE across the deterministic
    * string/array builtins (ADVICE r10: a benign tokenizer outside a
    * narrow list would make a pre-existing index permanently unreadable);
    * the security property is the absence of eval/reflection/IO, not a
    * minimal surface. */
  private val TokenizerFunctionWhitelist: Set[String] = Set(
    // split / case / trim / regex / edit
    "split", "split_part", "lower", "upper", "initcap", "trim", "ltrim",
    "rtrim", "btrim", "lpad", "rpad", "regexp_replace", "regexp_extract",
    "regexp_extract_all", "regexp_substr", "translate", "replace",
    "substring", "substr", "substring_index", "left", "right", "concat",
    "concat_ws", "repeat", "reverse", "sentences", "format_string",
    "chr", "ascii", "length", "char_length", "character_length",
    // array shaping / HOFs
    "filter", "transform", "flatten", "slice", "array", "array_remove",
    "array_compact", "array_distinct", "array_sort", "sort_array",
    "array_union", "array_intersect", "array_except", "array_join",
    "array_repeat", "array_position", "array_contains", "arrays_zip",
    "zip_with", "aggregate", "reduce", "exists", "forall", "element_at",
    "array_append", "array_prepend", "array_insert", "array_size", "size",
    "sequence",
    // null/branch plumbing
    "coalesce", "nullif", "nvl", "nvl2", "if", "ifnull", "isnull",
    "isnotnull", "greatest", "least")

  /** Parse `tokenizeSql` and reject any function call outside the
    * whitelist and any subquery — the guard that makes evaluating a
    * PERSISTED expression (meta read back from disk) safe. Returns the
    * input for chaining. */
  private[graft] def validateTokenizer(spark: SparkSession,
                                       tokenizeSql: String): String = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(tokenizeSql)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"tokenizer expression does not parse: $tokenizeSql", e) }
    parsed.foreach {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val n = f.nameParts.map(_.toLowerCase).mkString(".")
        require(TokenizerFunctionWhitelist.contains(n),
          s"tokenizer expression calls '$n', outside the string/array " +
            s"whitelist (${TokenizerFunctionWhitelist.toSeq.sorted.mkString(", ")})")
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        throw new IllegalArgumentException(
          s"tokenizer expression must not contain subqueries: ${s.sql}")
      case _ => ()
    }
    tokenizeSql
  }

  // -------------------------------------------------------------------
  // Bloom seen-filter over stored window keys (DedupIndex.writeSeenFilter
  // pattern). Invariant: bloom ⊇ keys of every COMMITTED batch — it is
  // OR-grown BEFORE the batch dir lands, so a crash between the two
  // leaves only harmless false positives. Torn/unreadable bloom state
  // degrades reads to the exact path (Try), never to a false negative.
  // -------------------------------------------------------------------

  private def bloomBitsOf(keys: DataFrame, bits: Int, hashes: Int): Seq[Long] =
    keys.agg(expr(s"graft_bloom(k, $bits, $hashes)").as("bf"))
      .collect().head.getSeq[Long](0)

  private def writeBloom(spark: SparkSession, path: String, bf: Seq[Long],
                         bits: Int, hashes: Int): Unit = {
    import spark.implicits._
    Seq(Tuple1(bf)).toDF("bf")
      .repartition(1).write.mode("overwrite").parquet(s"$path/bloom")
    Seq((bits, hashes)).toDF("num_bits", "num_hashes")
      .repartition(1).write.mode("overwrite").json(s"$path/bloom_meta")
  }

  private def bloomMeta(spark: SparkSession, path: String): Option[(Int, Int)] = {
    val (fs, p) = hadoopFs(spark, s"$path/bloom_meta")
    if (!fs.exists(p)) None
    else scala.util.Try {
      val m = spark.read.json(s"$path/bloom_meta").collect().head
      (m.getAs[Long]("num_bits").toInt, m.getAs[Long]("num_hashes").toInt)
    }.toOption
  }

  private def readBloom(spark: SparkSession,
                        path: String): Option[(DataFrame, Int, Int)] =
    bloomMeta(spark, path).flatMap { case (bits, hashes) =>
      scala.util.Try {
        require(hadoopFs(spark, s"$path/bloom")._1
          .exists(new org.apache.hadoop.fs.Path(s"$path/bloom")), "no bloom dir")
        val bf = spark.read.parquet(s"$path/bloom")
        require(bf.count() == 1, "bloom must be exactly one row")
        (bf, bits, hashes)
      }.toOption
    }

  /** Fraction of set bits in the stored seen-filter, if one exists — the
    * saturation gauge: false-positive rate at `h` hashes ≈ fill^h, so
    * fill 0.5 means ~6% of novel windows needlessly reach the exact
    * join. [[growBloom]] warns past [[BloomFillWarn]]; the repair is
    * [[rebuildBloom]] after re-building with more bits (or accepting the
    * fp rate — correctness is unaffected either way). */
  def bloomFillFraction(spark: SparkSession, path: String): Option[Double] =
    readBloom(spark, path).map { case (bf, bits, _) =>
      bf.collect().head.getSeq[Long](0)
        .map(java.lang.Long.bitCount(_).toLong).sum.toDouble / bits
    }

  private val BloomFillWarn = 0.5

  /** Recompute the seen-filter from the full stored key set — the repair
    * path after a torn bloom write (one full index key scan; appends keep
    * it current afterwards). No-op if the index was built bloomless. */
  def rebuildBloom(spark: SparkSession, path: String): Unit =
    bloomMeta(spark, path).foreach { case (bits, hashes) =>
      writeBloom(spark, path,
        bloomBitsOf(spark.read.parquet(s"$path/win").select("k"), bits, hashes),
        bits, hashes)
    }

  /** OR `docs`' window keys into the stored bitset (torn stored state →
    * rebuild from win/ first, so the superset invariant survives any
    * crash history). Skips indexes built without a bloom. */
  private def growBloom(spark: SparkSession, path: String, docs: DataFrame,
                        w: Int, tok: String): Unit = {
    bloomMeta(spark, path).foreach { case (bits, hashes) =>
      val stored: Seq[Long] = readBloom(spark, path) match {
        case Some((bf, _, _)) => bf.collect().head.getSeq[Long](0)
        case None => // torn bloom: rebuild the committed part from win/
          bloomBitsOf(spark.read.parquet(s"$path/win").select("k"), bits, hashes)
      }
      val fresh = bloomBitsOf(windows(docs, w, tok).select("k"), bits, hashes)
      require(fresh.length == stored.length,
        s"bitset length mismatch: ${fresh.length} vs ${stored.length}")
      val merged = fresh.zip(stored).map { case (a, b) => a | b }
      val fill = merged.map(java.lang.Long.bitCount(_).toLong).sum.toDouble / bits
      if (fill > BloomFillWarn)
        System.err.println(f"[substr-index] seen-filter at $path is $fill%.2f full " +
          f"(fp ≈ ${math.pow(fill, hashes)}%.3f at $hashes hashes) — novel windows " +
          "increasingly reach the exact join; rebuild the index with more bloomBits " +
          "(correctness unaffected)")
      writeBloom(spark, path, merged, bits, hashes)
    }
  }

  // -------------------------------------------------------------------
  // Pinned-block tracking: dedupAgainst returns a LAZY frame over a
  // localCheckpoint, so it cannot unpersist its own blocks — callers
  // sweep after the consuming action. compact() consumes internally and
  // sweeps itself. Tracking is scoped PER INDEX PATH (ADVICE r10): two
  // concurrent streams/indexes sweeping per micro-batch must not kill
  // each other's in-flight batch blocks.
  // -------------------------------------------------------------------

  private val pinned =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[RDD[_]]]()

  /** Record checkpoint `cp` under `path` for [[sweep]]; returns `cp`.
    * Atomic per path against a concurrent [[sweep]] of the same path, so
    * a checkpoint is never added to a set that sweep already took. */
  private def track(path: String, cp: DataFrame): DataFrame = {
    val rdd = Scratch.rddOf(cp)
    pinned.compute(path, (_, set) => {
      val s = Option(set).getOrElse(
        java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]())
      s.add(rdd)
      s
    })
    cp
  }

  /** Unpersist the blocks pinned by [[dedupAgainst]] calls of this JVM —
    * all of them, or only those of one index `path` — and return the
    * number released. Call AFTER the returned frame's consuming action
    * (write/collect).
    *
    * NOT safe at arbitrary times: the tracked blocks come from
    * localCheckpoint(), which TRUNCATES lineage — sweeping between
    * materialization and a later re-consumption of a still-live
    * [[dedupAgainst]] frame makes that frame unrecomputable, so the next
    * action on it fails with a checkpoint-block-not-found error (loudly —
    * never a wrong answer). The contract is consume-then-sweep; a frame
    * needed past the sweep must be copied out (write to parquet) first.
    * Concurrent pipelines on DIFFERENT indexes should sweep with their
    * own `path` so they cannot release each other's in-flight blocks. */
  def sweep(spark: SparkSession, path: String): Int =
    Option(pinned.remove(path)).map(Scratch.releaseTracked).getOrElse(0)

  /** JVM-wide sweep (every tracked path) — the harness/bench form. */
  def sweep(spark: SparkSession): Int = {
    var n = 0
    val keys = pinned.keySet().iterator()
    while (keys.hasNext) { n += sweep(spark, keys.next()) }
    n
  }

  private def writeBatch(docs: DataFrame, path: String, w: Int,
                         tokenizeSql: String, version: Long): Unit =
    windows(docs, w, tokenizeSql)
      .groupBy("k")
      .agg(min(struct(col("doc_id"), col("pos"))).as("canon"))
      .write.mode("overwrite").parquet(s"$path/win/batch=$version")

  /** Build (overwrite) the index from a (doc_id, text) frame as batch 0.
    * Wipes ONLY a path that is empty or already holds a substr index.
    * `tokenize` is any whitelisted SQL expression over `text` yielding
    * array<string> — e.g. `split(lower(text), '[^a-z0-9]+')` for
    * case/punctuation-insensitive spans on non-whitespace corpora; it is
    * persisted in meta so appends and serves can never tokenize
    * differently than the build. `bloomBits` sizes the seen-filter
    * bitset: the [[AutoBloomBits]] default measures the build corpus'
    * distinct window count and allocates 16 bits per key (fp ≈ 0.24% at
    * 4 hashes), power-of-two clamped to [2²⁰, 2²⁷] (128 KB – 16 MB);
    * 0 disables the filter; an explicit positive value is used as-is
    * (size to the index's EVENTUAL key count if appends will dominate —
    * [[growBloom]] warns at half-full, [[bloomFillFraction]] reports). */
  def build(docs: DataFrame, path: String, w: Int = 12,
            tokenize: String = DefaultTokenize,
            bloomBits: Int = AutoBloomBits, bloomHashes: Int = 4): Unit = {
    require(w >= 2, s"need window width >= 2 tokens, got $w")
    val spark = docs.sparkSession
    validateTokenizer(spark, tokenize)
    import spark.implicits._
    val (fs, root) = hadoopFs(spark, path)
    if (fs.exists(root)) {
      val children = fs.listStatus(root).map(_.getPath.getName).toSet
      require(children.isEmpty || children.contains("meta") || children.contains("win"),
        s"refusing to wipe $path: it exists but does not look like a substr index " +
          s"(found ${children.take(5).mkString(", ")}); delete it yourself if intended")
      fs.delete(root, true)
    }
    // meta FIRST: a crash mid-build must never leave batches a later
    // params() read chokes on (win-without-meta); meta-without-win fails
    // loudly at the first read and a re-build overwrites it. `format`
    // stamps the canon layout so a later version can refuse (instead of
    // schema-mixing) an index written under an older one.
    Seq((w.toLong, tokenize, CanonFormat)).toDF("w", "tokenize", "format")
      .repartition(1).write.mode("overwrite").json(s"$path/meta")
    formatCache.put(path, CanonFormat)
    val bits =
      if (bloomBits == 0) 0
      else if (bloomBits > 0) bloomBits
      else { // auto: 16 bits per distinct build key, clamped power of two
        val n = windows(docs, w, tokenize)
          .agg(approx_count_distinct(col("k"))).head().getLong(0)
        var b = 1L << 20
        while (b < 16L * math.max(n, 1L) && b < (1L << 27)) b <<= 1
        b.toInt
      }
    if (bits > 0)
      writeBloom(spark, path,
        bloomBitsOf(windows(docs, w, tokenize).select("k"), bits, bloomHashes),
        bits, bloomHashes)
    writeBatch(docs, path, w, tokenize, 0L)
  }

  /** Grow the index with a new batch (next free version — NOT retry-safe;
    * at-least-once callers use [[appendVersion]]). doc_ids must exceed
    * all indexed ones (the monotone-arrival contract). */
  def append(docs: DataFrame, path: String): Unit =
    appendVersion(docs, path,
      allVersions(docs.sparkSession, path).maxOption.getOrElse(0L) + 1)

  /** Idempotent append: a retry of the same version overwrites its own
    * batch dir — exactly-once on at-least-once delivery. The bloom grows
    * BEFORE the batch dir lands (superset invariant; a double OR of the
    * same keys on retry is a no-op). */
  def appendVersion(docs: DataFrame, path: String, version: Long): Unit = {
    require(version >= 1, s"version must be >= 1 (0 is the base build), got $version")
    val spark = docs.sparkSession
    recoverCompact(spark, path)
    val (w, tok) = params(spark, path)
    growBloom(spark, path, docs, w, tok)
    writeBatch(docs, path, w, tok, version)
  }

  /** Merged removal spans (doc_id, span_start, span_end) of `newDocs`
    * against the index AND within the new batch — the
    * batch-over-everything q_dedup_substr_xxh result restricted to the
    * new docs, without re-reading the indexed corpus text. Does NOT
    * append; pipelines mark-then-append ([[appendVersion]]) per batch.
    *
    * Index-side work: the batch's distinct keys probe the bloom (one
    * broadcast bitset, map-side); a batch with ZERO possibly-seen keys
    * never reads `win/` at all, otherwise only the candidate keys
    * semi-join the stored set. Call [[sweep]] after consuming the
    * result (see the block-hygiene note in the class doc). */
  /** Stored-key bytes below which [[dedupAgainst]] skips the bloom: the
    * prefilter costs a bitset read+broadcast plus one extra pass over the
    * batch windows (the empty-candidate short-circuit) — measured ~0.5 s
    * of fixed overhead at local scale, which only pays for itself once
    * the index-side read it can skip is bigger than that. One FS content
    * listing decides; explicit `useBloom` overrides. */
  val BloomMinIndexBytes: Long = 64L << 20

  private def winBytes(spark: SparkSession, path: String): Long =
    scala.util.Try(hadoopFs(spark, s"$path/win")._1
      .getContentSummary(new org.apache.hadoop.fs.Path(s"$path/win"))
      .getLength).getOrElse(0L)

  def dedupAgainst(path: String, newDocs: DataFrame): DataFrame =
    dedupAgainst(path, newDocs, useBloom = None)

  def dedupAgainst(path: String, newDocs: DataFrame,
                   useBloom: Option[Boolean]): DataFrame = {
    val spark = newDocs.sparkSession
    cleanupUncommitted(spark, path)
    val (w, tok) = params(spark, path)
    val sh = track(path, windows(newDocs, w, tok).localCheckpoint())
    // per-key count + batch-canonical via ONE k-partitioned window pass
    // (round 18 — the spansFromWindows move from the batch operator,
    // r17 #5): the groupBy(k) + join-back re-shuffled the batch's window
    // frame a second time for the marking join
    val wk = org.apache.spark.sql.expressions.Window.partitionBy("k")
    val shm = sh
      .withColumn("cnt", count(lit(1)).over(wk))
      .withColumn("bcanon", min(struct(col("doc_id"), col("pos"))).over(wk))
    val bloomWorthIt = useBloom.getOrElse(
      winBytes(spark, path) >= BloomMinIndexBytes)
    // bloom prefilter: candidate keys = batch keys the filter might have
    // seen. None ⇒ provably nothing is in the index — skip reading it.
    val batchKeys = sh.select("k").distinct()
    val candKeys: Option[DataFrame] =
      (if (bloomWorthIt) readBloom(spark, path) else None) match {
      case Some((bf, bits, hashes)) =>
        val c = batchKeys.join(broadcast(bf))
          .filter(expr(graft.functions.BloomAgg.mightContainSql(
            "k", "bf", bits, hashes)))
          .select("k")
        if (c.isEmpty) None else Some(c)
      case None => Some(batchKeys)
    }
    // confirmed-seen keys: stored keys semi-joined by the candidates —
    // the index is streamed map-side against a broadcast candidate set
    // when the batch is mostly novel (AQE picks the build side); the
    // distinct runs over the small survivor set, never the whole index
    // (the pre-bloom form distinct'ed the ENTIRE stored key set per call).
    val seenK = candKeys match {
      case None => sh.select("k").limit(0)
      case Some(c) => spark.read.parquet(s"$path/win").select("k")
        .join(c, Seq("k"), "left_semi").distinct()
    }
    val marks = shm
      .join(seenK.withColumn("in_index", lit(1L)), Seq("k"), "left")
      .filter(col("in_index").isNotNull ||
        (col("cnt") >= 2 &&
          (col("doc_id") =!= col("bcanon.doc_id") ||
            col("pos") =!= col("bcanon.pos"))))
      .select(col("doc_id"), col("pos").as("s0"),
        (col("pos") + (w - 1)).as("e0"))
    mergeIslands(marks)
  }

  /** Gaps-and-islands merge of (doc_id, s0, e0) marks — the same
    * doc_id-partitioned window discipline as the batch operator. */
  private def mergeIslands(marks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("doc_id").orderBy("s0", "e0")
    marks
      .withColumn("pmax",
        max(col("e0")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("pmax").isNull || col("s0") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("fresh"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("s0").as("span_start"), max("e0").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Fold all committed batch dirs into one (global min canon per key) —
    * the maintenance pass that keeps the per-read dir listing and the
    * seen-set scan flat as batches accumulate. Crash-safe via the shared
    * staged-rename swap; sweeps its own checkpoint blocks before
    * returning. Returns the number of dirs folded. */
  def compact(spark: SparkSession, path: String): Int = {
    cleanupUncommitted(spark, path)
    val vs = allVersions(spark, path)
    if (vs.size <= 1) return vs.size
    Scratch.withSweep(spark) {
      val folded = spark.read.parquet(s"$path/win")
        .groupBy("k").agg(min("canon").as("canon"))
        .localCheckpoint()
      val keep = vs.max
      folded.write.mode("overwrite").parquet(s"$path/win_compact/batch=$keep")
      val fs = graft.streaming.VersionedState.fileSystem(spark, path)
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/win"),
        new org.apache.hadoop.fs.Path(s"$path/win_old")),
        s"compact: could not stage out $path/win")
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/win_compact"),
        new org.apache.hadoop.fs.Path(s"$path/win")),
        s"compact: could not swap in $path/win_compact")
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/win_old"), true)
      vs.size
    }
  }
}
