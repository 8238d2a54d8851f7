package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.ml.AdaBoostMH

/** R1 ingest -> R4 stump search end-to-end: the FIXTURES §3 examples written
  * as a text file must train to the same golden stump. */
class MultiLabelTextSuite extends SparkSpec {

  private def fixtureFile: String = {
    val f = Files.createTempFile("mlpoints", ".txt")
    // FIXTURES §3: labels encoded as the positive set of the +-1 vectors
    Files.writeString(f,
      """# hand-computed AdaBoost.MH fixture (K=2, dim=2)
        |0 0:1.0 1:5.0
        |0 0:2.0 1:8.0
        |1 0:3.0 1:6.0
        |
        |- 0:4.0 1:7.0
        |""".stripMargin)
    f.toString
  }

  test("parses labels, sparse features, comments, blanks and the empty set") {
    val ds = MultiLabelText.read(spark, fixtureFile, dim = 2, numLabels = 2)
    val rows = ds.collect().sortBy(_.features(0))
    assert(rows.length === 4)
    assert(rows(0).labels.toSeq === Seq(0))
    assert(rows(3).labels.toSeq === Seq.empty)
    assert(rows(1).features.toSeq === Seq(2.0, 8.0))
  }

  test("malformed fields fail loudly with the line quoted") {
    val e = intercept[IllegalArgumentException] {
      MultiLabelText.parseLine("0 0=1.5", dim = 2, numLabels = 2)
    }
    assert(e.getMessage.contains("0=1.5"))
    val e2 = intercept[IllegalArgumentException] {
      MultiLabelText.parseLine("7 0:1.0", dim = 2, numLabels = 2)
    }
    assert(e2.getMessage.contains("out of range"))
  }

  test("ingested fixture trains to the FIXTURES §3 golden stump") {
    val ds = MultiLabelText.read(spark, fixtureFile, dim = 2, numLabels = 2)
    val pts = MultiLabelText.toTrainPoints(ds, numLabels = 2)
    val grids = Array(Array(1.5, 2.5, 3.5), Array(5.5, 6.5, 7.5))
    val stumps = AdaBoostMH.trainCore(spark, pts, grids, numBins = 4, k = 2, numRounds = 1)
    assert(stumps.head.featureIndex === 0)
    assert(stumps.head.threshold === 2.5)
    assert(stumps.head.votes.toSeq === Seq(-1, 1))
    assert(math.abs(stumps.head.alpha - 0.9729550745276566) < 1e-12)
  }

  test("toTrainPoints: one parse job, zipWithIndex ids and 1/(m*k) weights across partitions") {
    val dir = Files.createTempDirectory("mlparts")
    // three files -> three partitions of 3, 1 and 2 points; comments and
    // blanks take no id
    Files.writeString(dir.resolve("a.txt"), "0 0:1.0\n# c\n1 0:2.0\n- 0:3.0\n")
    Files.writeString(dir.resolve("b.txt"), "\n0,1 0:4.0 1:1.0\n")
    Files.writeString(dir.resolve("c.txt"), "1 1:5.0\n0 0:6.0\n")
    val ds = MultiLabelText.read(spark, dir.toString, dim = 2, numLabels = 2)
    assert(ds.rdd.getNumPartitions > 1)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tally = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.SparkTestHooks.drainListeners(sc)
    sc.addSparkListener(tally)
    val pts =
      try {
        val p = MultiLabelText.toTrainPoints(ds, numLabels = 2)
        org.apache.spark.SparkTestHooks.drainListeners(sc)
        p
      } finally sc.removeSparkListener(tally)
    assert(jobs.get() === 1)
    val got = pts.collect()
    val expected = ds.rdd.zipWithIndex().collect()
    assert(got.map(_.id).toSeq === (0L until 6L))
    assert(got.map(p => (p.id, p.x.toSeq)).toSeq ===
      expected.map { case (p, id) => (id, p.features.toSeq) }.toSeq)
    assert(got.forall(_.w.forall(_ == 1.0 / (6 * 2))))
    assert(got.map(_.y.toSeq).toSeq === expected.map { case (p, _) =>
      Seq(0, 1).map(l => if (p.labels.contains(l)) 1 else -1) }.toSeq)
  }
}
