package graft.operators

import graft.SparkSpec
import org.apache.spark.SparkTestHooks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LoopCheckpoint.keyed's large branch, run on the PageRank input with the
  * prepartition threshold lowered to a few KB: the re-checkpoint is
  * key-partitioned, the plain copy's blocks are released, and the results
  * are the small branch's, bit for bit. */
class LoopCheckpointSuite extends SparkSpec {

  private val n = 400L

  private def nodes: DataFrame = spark.range(0, n).toDF("id")

  private def edges: DataFrame = spark.range(0, n)
    .select(explode(array(
      struct(col("id").as("src"), ((col("id") * 7 + 1) % n).as("dst")),
      struct(col("id").as("src"), ((col("id") * 13 + 5) % n).as("dst")))).as("e"))
    .select(col("e.src").as("src"), col("e.dst").as("dst"))
    .filter(col("src") =!= col("dst"))

  /** PageRank's loop-static join input: the degree-annotated edge list. */
  private def degreeEdges: DataFrame = {
    val e = edges
    e.join(e.groupBy("src").agg(count(lit(1)).as("g")), "src")
      .select(col("src"), col("dst"), col("g"))
  }

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    spark.conf.set(LoopCheckpoint.ThresholdKey, bytes.toString)
    try body finally spark.conf.unset(LoopCheckpoint.ThresholdKey)
  }

  private def release(ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

  test("above the threshold: key-partitioned re-checkpoint, plain copy released, same rows") {
    val sc = spark.sparkContext
    val (plain, plainPinned) = LoopCheckpoint.keyed(degreeEdges, "src")
    val firstId = sc.emptyRDD[Int].id
    val before = sc.getPersistentRDDs.keySet
    // keep the repartition's 4 shuffle partitions: AQE would coalesce this
    // small input into one, where key partitioning holds trivially
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val (keyed, keyedPinned) =
      try withThreshold(4096)(LoopCheckpoint.keyed(degreeEdges, "src"))
      finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val lastId = sc.emptyRDD[Int].id
    try {
      assert(keyedPinned.nonEmpty)
      // only the re-checkpoint stays pinned ...
      assert(sc.getPersistentRDDs.keySet.diff(before).toSet === keyedPinned)
      // ... and the plain copy made in between holds no block any more
      val leftovers = () => SparkTestHooks.rddsWithBlocks()
        .filter(id => id > firstId && id < lastId && !keyedPinned.contains(id))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (leftovers().nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(leftovers().isEmpty, s"plain-copy blocks still stored: ${leftovers()}")
      // key-partitioned and sorted: each src lives in one partition, in
      // ascending runs (the property the checkpointed rows carry; under AQE
      // the plan reports it as UnknownPartitioning)
      val parts = keyed.rdd.mapPartitionsWithIndex((pid, it) =>
        Iterator.single(pid -> it.map(_.getLong(0)).toVector)).collect()
      assert(parts.count(_._2.nonEmpty) > 1, "re-checkpoint collapsed to one partition")
      parts.foreach { case (pid, srcs) =>
        assert(srcs === srcs.sorted, s"partition $pid is not sorted on src")
      }
      val homes = parts.flatMap { case (pid, srcs) => srcs.distinct.map(_ -> pid) }
      assert(homes.map(_._1).distinct.length === homes.length,
        "a src value is split across partitions")
      assert(rows(keyed) === rows(plain))
    } finally release(plainPinned ++ keyedPinned)
  }

  test("below the threshold the plain checkpoint is returned and stays pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (_, pinned) = LoopCheckpoint.keyed(degreeEdges, "src")
    try {
      assert(pinned.nonEmpty)
      assert(sc.getPersistentRDDs.keySet.diff(before).toSet === pinned)
    } finally release(pinned)
  }

  test("PageRank ranks are bit-identical when the edge list is pre-partitioned") {
    def ranks(): Seq[(Long, Double)] = Scratch.withSweep(spark) {
      PageRank.run(nodes, edges, iters = 8).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    }
    val base = ranks()
    val low = withThreshold(4096)(ranks())
    assert(low.map { case (id, r) => (id, java.lang.Double.doubleToRawLongBits(r)) } ===
      base.map { case (id, r) => (id, java.lang.Double.doubleToRawLongBits(r)) })
  }
}
