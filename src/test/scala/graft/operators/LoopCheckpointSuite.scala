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
    val plain = LoopCheckpoint.keyed(degreeEdges, "src")
    val plainPinned = Set(Scratch.rddOf(plain).id)
    val firstId = sc.emptyRDD[Int].id
    val before = sc.getPersistentRDDs.keySet
    // keep the repartition's 4 shuffle partitions: AQE would coalesce this
    // small input into one, where key partitioning holds trivially
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val keyed =
      try withThreshold(4096)(LoopCheckpoint.keyed(degreeEdges, "src"))
      finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val keyedPinned = Set(Scratch.rddOf(keyed).id)
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
    val pinned = Set(Scratch.rddOf(LoopCheckpoint.keyed(degreeEdges, "src")).id)
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

  test("Scratch.release unpersists exactly the frame's own checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = spark.range(0, 50).toDF("id").localCheckpoint()
    // made between creating cp and releasing it, lazy like IvfIndex's
    val bystander = spark.range(0, 30).toDF("id").localCheckpoint(eager = false)
    val bystanderId = Scratch.rddOf(bystander).id
    try {
      assert(sc.getPersistentRDDs.keySet.diff(before).toSet ===
        Set(Scratch.rddOf(cp).id, bystanderId))
      Scratch.release(cp)
      assert(sc.getPersistentRDDs.keySet.diff(before).toSet === Set(bystanderId))
      assert(bystander.count() === 30)
    } finally release(Set(bystanderId))
  }

  test("Scratch.rddOf refuses a frame that is not a checkpoint, naming the plan node") {
    val cp = spark.range(0, 3).toDF("id").localCheckpoint()
    try {
      val plain = intercept[IllegalArgumentException](Scratch.rddOf(spark.range(3).toDF()))
      assert(plain.getMessage.contains("Range"), plain.getMessage)
      val derived = intercept[IllegalArgumentException](Scratch.rddOf(cp.select("id")))
      assert(derived.getMessage.contains("Project"), derived.getMessage)
    } finally Scratch.release(cp)
  }

  test("keyed above the threshold never releases a concurrent pipeline's checkpoints") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val firstId = sc.emptyRDD[Int].id
    // thread B: its own eager checkpoints, made and consumed back to back
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val theirs = new java.util.concurrent.ConcurrentLinkedQueue[(DataFrame, Long)]()
    val other = new Thread(() =>
      try {
        var i = 0L
        while (!stop.get() && i < 400) {
          val cp = spark.range(0, 10 + i % 7).toDF("id").localCheckpoint()
          theirs.add(cp -> cp.count())
          i += 1
        }
      } catch { case t: Throwable => failure.set(t) })
    other.start()
    val mine =
      try withThreshold(4096)((1 to 20).map(_ => LoopCheckpoint.keyed(degreeEdges, "src")))
      finally { stop.set(true); other.join() }
    val lastId = sc.emptyRDD[Int].id
    val frames = scala.jdk.CollectionConverters.IterableHasAsScala(theirs).asScala.toSeq
    val kept = (frames.map(_._1) ++ mine).map(Scratch.rddOf(_).id).toSet
    try {
      assert(failure.get() === null)
      assert(frames.nonEmpty)
      frames.foreach { case (cp, n) => assert(cp.count() === n) }
      // every plain copy of the 20 keyed calls is released ...
      assert(sc.getPersistentRDDs.keySet.diff(before).toSet === kept)
      // ... and holds no block any more
      val leftovers = () => SparkTestHooks.rddsWithBlocks()
        .filter(id => id > firstId && id < lastId && !kept.contains(id))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (leftovers().nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(leftovers().isEmpty, s"plain-copy blocks still stored: ${leftovers()}")
    } finally release(kept)
  }
}
