package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Persisted dedup index: the incremental contract (index A, dedup B
  * against it == the batch A∪B result restricted to pairs touching B),
  * append == rebuild, and the Bloom seen-filter's no-false-negative
  * guarantee. */
class DedupIndexSuite extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables(spark, sf, "documents").select("doc_id", "text")
  private def corpusA = docs.filter(col("doc_id") % 5 =!= 0)
  private def batchB = docs.filter(col("doc_id") % 5 === 0)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("incremental == batch: dedup B against index(A) equals batch A∪B restricted to B") {
    val path = tmp("graft-dedup-index")
    DedupIndex.build(corpusA, path)
    val incremental = DedupIndex.dedupAgainst(path, batchB)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // the batch twin over the FULL corpus, restricted to pairs with a B side
    val batch = graft.queries.LlmOps.queries("q_dedup_minhash_sketch_xxh")(spark, sf)
      .filter(col("d1") % 5 === 0 || col("d2") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(incremental === batch,
      s"incremental (${incremental.size} pairs) diverged from batch-restricted (${batch.size})")
    assert(incremental.nonEmpty, "fixture must actually contain cross-batch near-dups")
    // and no pair wholly inside the index leaks out
    assert(incremental.forall { case (d1, d2, _) => d1 % 5 == 0 || d2 % 5 == 0 })
  }

  test("build and appendVersion release their shingle checkpoint; dedupAgainst unchanged") {
    val path = tmp("graft-dedup-release")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    DedupIndex.build(corpusA, path)
    DedupIndex.appendVersion(batchB.filter(col("doc_id") % 10 === 0), path, 1L)
    val after = sc.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, s"build/appendVersion left pinned RDDs: ${after -- before}")
    // the index over A ∪ B1 still serves B2 exactly as the batch operator
    // over the whole corpus, restricted to pairs touching B2
    val incremental = Scratch.withSweep(spark) {
      DedupIndex.dedupAgainst(path, batchB.filter(col("doc_id") % 10 === 5))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val batch = graft.queries.LlmOps.queries("q_dedup_minhash_sketch_xxh")(spark, sf)
      .filter(col("d1") % 10 === 5 || col("d2") % 10 === 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(incremental === batch)
    assert(incremental.nonEmpty, "fixture must actually contain near-dups touching B2")
  }

  test("append == rebuild: growing index(A) by B equals building on A∪B") {
    val grown = tmp("graft-dedup-grown")
    DedupIndex.build(corpusA, grown)
    DedupIndex.append(batchB, grown)
    val full = tmp("graft-dedup-full")
    DedupIndex.build(docs, full)
    // compare CONTENT columns: the physical batch=V partition differs by
    // construction (grown has versions 0+1, full only 0)
    def bands(p: String) = spark.read.parquet(s"$p/bands")
      .select("doc_id", "band", "bkey")
      .orderBy("doc_id", "band").collect().map(_.toSeq).toSeq
    def sizes(p: String) = spark.read.parquet(s"$p/sizes")
      .select("doc_id", "n")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(bands(grown) === bands(full))
    assert(sizes(grown) === sizes(full))
  }

  test("compact folds batches into one partition, dedupAgainst unchanged") {
    val path = tmp("graft-dedup-compact")
    val batchB1 = batchB.filter(col("doc_id") % 10 === 0)
    val batchB2 = batchB.filter(col("doc_id") % 10 === 5)
    DedupIndex.build(corpusA, path)
    DedupIndex.append(batchB1, path)
    val probe = () => DedupIndex.dedupAgainst(path, batchB2)
      .collect().map(_.toSeq).toSeq
    val before = probe()
    val folded = DedupIndex.compact(spark, path)
    assert(folded === 1, s"expected 1 batch folded, got $folded")
    // exactly one batch dir per subtable survives, under the max version
    Seq("bands", "shingles", "sizes").foreach { t =>
      val dirs = new java.io.File(s"$path/$t").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
      assert(dirs === Seq("batch=1"), s"$t: $dirs")
      assert(!new java.io.File(s"$path/${t}_compact").exists())
      assert(!new java.io.File(s"$path/${t}_old").exists())
    }
    // identical serving result, and version numbering continues past max
    assert(probe() === before, "compaction changed the dedup result")
    DedupIndex.append(batchB2, path)
    assert(DedupIndex.isCommitted(spark, path, 2L))
    // compacting a single-batch index is a no-op
    val idle = tmp("graft-dedup-compact-idle")
    DedupIndex.build(corpusA, idle)
    assert(DedupIndex.compact(spark, idle) === 0)
  }

  test("a crashed compact is recovered: stale staging never folds in, renames restore") {
    val path = tmp("graft-dedup-compact-crash")
    DedupIndex.build(corpusA, path)
    DedupIndex.append(batchB.filter(col("doc_id") % 10 === 0), path)
    val probe = () => DedupIndex.dedupAgainst(path,
      batchB.filter(col("doc_id") % 10 === 5)).collect().map(_.toSeq).toSeq
    val before = probe()
    // window (a): a previous attempt wrote staging at an OLD head and died
    spark.read.parquet(s"$path/bands")
      .select("doc_id", "band", "bkey")
      .write.mode("overwrite").parquet(s"$path/bands_compact/batch=0")
    assert(DedupIndex.compact(spark, path) === 1)
    assert(probe() === before, "stale staging leaked into the compacted index")
    // window (b): crash between the renames of one subtable
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/shingles"),
      new org.apache.hadoop.fs.Path(s"$path/shingles_old")))
    // recovery runs at write/maintenance entries (cleanupUncommitted),
    // not on pure reads — the single-writer contract
    DedupIndex.cleanupUncommitted(spark, path)
    assert(probe() === before, "between-renames crash not recovered")
    assert(!new java.io.File(s"$path/shingles_old").exists())
  }

  test("build refuses to wipe a directory that is not an index") {
    val path = tmp("graft-dedup-guard")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "precious.txt"), "unrelated data")
    val e = intercept[IllegalArgumentException](DedupIndex.build(corpusA, path))
    assert(e.getMessage.contains("refusing to wipe"))
    assert(new java.io.File(s"$path/precious.txt").exists())
  }

  test("near-dup pair graph is computed once per (session, corpus) and shared") {
    val a = graft.queries.LlmOps.nearDupPairsShared(spark, sf)
    val b = graft.queries.LlmOps.nearDupPairsShared(spark, sf)
    assert(a eq b, "compositions must reuse the checkpointed pair graph")
    // and it is the same result as the unshared base operator
    val shared = a.collect().map(_.toSeq).toSeq
    val fresh = graft.queries.LlmOps.queries("q_dedup_near")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(shared === fresh)
  }

  test("params round-trip through meta") {
    val path = tmp("graft-dedup-meta")
    val p = DedupIndex.Params(numPerms = 32, numBands = 8, rowsPerBand = 4,
      modulus = 999983L, threshold = 0.7, maxBucket = 128)
    DedupIndex.build(corpusA.limit(50), path, p)
    assert(DedupIndex.params(spark, path) === p)
  }

  test("seen filter: no false negatives, and appends accumulate") {
    val path = tmp("graft-seen")
    DedupIndex.writeSeenFilter(corpusA, path)
    // every indexed doc probes seen -> filterUnseen drops ALL of A
    assert(DedupIndex.filterUnseen(path, corpusA).count() === 0L)
    // fresh content mostly survives (false positives are the documented
    // ~0.1% at these parameters; the fixture has exact duplicates across
    // the A/B split, which the filter MUST also drop — count only docs
    // whose text truly never appears in A)
    val trulyNew = batchB.join(corpusA.select(col("text")), Seq("text"), "left_anti")
    val kept = DedupIndex.filterUnseen(path, batchB).count()
    val lo = (trulyNew.count() * 95) / 100
    assert(kept >= lo && kept <= trulyNew.count(),
      s"kept $kept of ${trulyNew.count()} truly-new docs")
    // after appending B, nothing in A∪B is unseen
    DedupIndex.appendSeenFilter(batchB, path)
    assert(DedupIndex.filterUnseen(path, docs).count() === 0L)
  }
}
