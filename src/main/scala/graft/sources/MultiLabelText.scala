package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.ml.TrainPoint

/** R1 ingest (SURVEY §2.1): parse text lines into multi-labeled points, the
  * reference's input format reconstructed as LibSVM-multilabel-style:
  *
  *   label,label,...  idx:value  idx:value ...
  *
  * e.g. "0,3 0:1.5 7:-0.25" = labels {0,3} positive, sparse features;
  * a lone "-" in the label field means the empty label set (all -1).
  * Lines starting with '#' and blank lines are skipped (permissive mode);
  * malformed fields raise with the offending line quoted — ingest errors
  * should fail loudly, not corrupt weights downstream.
  *
  * Scale: spark.read.textFile is a splittable narrow scan; parsing is
  * per-partition with no shuffle. Dense materialization is bounded by `dim`
  * (the boosting histogram pass needs O(dim) per row anyway).
  */
object MultiLabelText {

  case class MultiLabeledPoint(labels: Array[Int], features: Array[Double])

  def parseLine(line: String, dim: Int, numLabels: Int): Option[MultiLabeledPoint] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) return None
    val parts = t.split("\\s+")
    val labels =
      if (parts.head == "-") Array.empty[Int]
      else parts.head.split(",").map { s =>
        val l = s.toInt
        require(l >= 0 && l < numLabels, s"label $l out of range [0,$numLabels) in: $line")
        l
      }
    val x = new Array[Double](dim)
    val seen = new Array[Boolean](dim)
    parts.tail.foreach { kv =>
      val i = kv.indexOf(':')
      require(i > 0, s"expected idx:value, got '$kv' in: $line")
      val idx = kv.substring(0, i).toInt
      require(idx >= 0 && idx < dim, s"feature index $idx out of range [0,$dim) in: $line")
      require(!seen(idx), s"duplicate feature index $idx in: $line")
      seen(idx) = true
      x(idx) = kv.substring(i + 1).toDouble
    }
    Some(MultiLabeledPoint(labels, x))
  }

  def read(spark: SparkSession, path: String, dim: Int,
           numLabels: Int): Dataset[MultiLabeledPoint] = {
    import spark.implicits._
    spark.read.textFile(path)
      .flatMap(parseLine(_, dim, numLabels))
  }

  /** Adapter into the boosting core: +-1 label vectors, uniform weights.
    * Parses the text in ONE job, which counts each partition's points: m is
    * their sum, and partition p's ids start at the sum of the counts before
    * it — the ids `zipWithIndex` would give. The returned RDD parses again
    * when it is read. */
  def toTrainPoints(ds: Dataset[MultiLabeledPoint], numLabels: Int): RDD[TrainPoint] = {
    val rows = ds.rdd
    val counts = rows.sparkContext.runJob(rows, (it: Iterator[MultiLabeledPoint]) => {
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    })
    val m = counts.sum
    require(m > 0, "empty training input: no parseable points (weights would be 1/0)")
    val w0 = 1.0 / (m * numLabels)
    val starts = counts.scanLeft(0L)(_ + _)
    rows.mapPartitionsWithIndex { (pid, it) =>
      var id = starts(pid) - 1
      it.map { p =>
        id += 1
        val pos = p.labels.toSet
        TrainPoint(id, p.features,
          Array.tabulate(numLabels)(l => if (pos(l)) 1 else -1),
          Array.fill(numLabels)(w0))
      }
    }
  }
}
