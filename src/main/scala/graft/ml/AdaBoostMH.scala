package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{IntParam, Param, ParamMap, ParamValidators}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One weak hypothesis: h(x)_l = alpha * votes(l) * sign(x(featureIndex) > threshold).
  * Mirrors the decision-stump base learner of AdaBoost.MH (Schapire & Singer
  * 1999/2000; the MultiBoost package, JMLR 2012).
  */
case class DecisionStump(featureIndex: Int, threshold: Double,
                         alpha: Double, votes: Array[Int])

/** Multi-labeled training example: y(l) in {-1,+1}, one unnormalized weight
  * per (example,label) pair kept packed in a single array — never exploded
  * into (example x label) rows. */
case class TrainPoint(id: Long, x: Array[Double], y: Array[Int], w: Array[Double])

/** Multi-class/multi-label AdaBoost.MH over binned decision stumps.
  *
  * Scale design: every feature is binned ONCE, when the fit starts. The
  * training state is then a persisted RDD of packed [[AdaBoostMH.Block]]s:
  * 4,096 points each, one unsigned byte per (point, feature) bin, one byte
  * per (point, label) sign and one double per (point, label) weight, about
  * 154 bytes per point on the 64-feature, 10-label benchmark shape. Each
  * boosting round is ONE distributed pass over those bytes building a flat
  * (feature x bin x label) edge histogram per partition (64*16*10 doubles on
  * the harness data), merged on the driver — the gradient-histogram pattern.
  * No explode, no shuffle inside the loop, no per-point objects. Weights
  * stay UNNORMALIZED: the round's normalizer W falls out of the same
  * histogram pass. The reweighted blocks are a lazy, persisted map over the
  * previous round's blocks that shares their bins and labels and replaces
  * only the weights; the stump's `x > theta` test is a byte compare against
  * a driver-side bin cut (see [[AdaBoostMH.cutOf]]). The NEXT round's
  * histogram pass is also the job that materializes them: a fit of T
  * rounds runs T jobs.
  *
  * Determinism: partition partials merge in partition-index order; edge
  * argmax is computed on values rounded to 1e-9 with ties broken by
  * (featureIndex, threshold) ascending (SURVEY §7.4 pin). The blocked
  * kernels add the same products in the same order as a per-point loop
  * over the raw features would, so every stump is bit-identical to it.
  */
object AdaBoostMH {

  val NumLabels = 10 // label cardinality of the harness `embeddings` table

  /** Per-dimension equi-width threshold grids from global min/max.
    * (At 100 TB: same single aggregation; approx_percentile quantile bins
    * would replace equi-width without changing anything downstream.) */
  def thresholdGrid(df: DataFrame, numBins: Int): Array[Array[Double]] = {
    val stats = df
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("j")
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    stats.map { case (_, lo, hi) =>
      (1 until numBins).map(b => lo + b * (hi - lo) / numBins).toArray
    }
  }

  /** Quantile threshold grids — the 100 TB path for skewed features: same
    * single aggregation shape and the same downstream histogram (bestStump
    * already iterates each dim's actual threshold count), but splits follow
    * the data distribution. approx_percentile is a mergeable sketch, so
    * this stays one pass at any scale. Not used by the oracle-matching
    * queries (equi-width is exactly mirrorable in DuckDB; the sketch isn't). */
  def thresholdGridQuantile(df: DataFrame, numBins: Int,
                            accuracy: Int = 10000): Array[Array[Double]] = {
    val probs = (1 until numBins).map(_.toDouble / numBins).mkString(", ")
    df.select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("j")
      .agg(expr(s"approx_percentile(CAST(x AS DOUBLE), array($probs), $accuracy)").as("qs"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray
        // the sketch's merge order wobbles interpolated quantiles at the
        // last ulp (~1e-13) across input partitionings; bin boundaries are
        // approximate by construction, so round to 9dp and the trained
        // model is partition-invariant (AdaBoostMHSuite pins it)
        .map(v => java.math.BigDecimal.valueOf(v)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue())
        .distinct.sorted))
      .sortBy(_._1)
      .map(_._2)
  }

  /** bin(x) = #thresholds strictly below x (binary search), in 0..numBins-1. */
  private[ml] def binOf(ts: Array[Double], x: Double): Int = {
    var lo = 0; var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The bin cut of the stump test `x > theta` for `theta` drawn from the
    * sorted grid `ts`: `binOf(ts, x) >= cutOf(ts, theta)` exactly when
    * `x > theta`. For non-NaN theta the cut is #{t <= theta}: every t <=
    * theta is below any x > theta, while for x <= theta the threshold
    * theta itself is counted by the cut but not by binOf. That holds for
    * duplicate thresholds, +-0.0 (equal under both tests) and +-Inf, and a
    * NaN x has bin 0 below every such cut. No x is greater than a NaN
    * theta, so its cut lies above every bin. */
  private[ml] def cutOf(ts: Array[Double], theta: Double): Int =
    if (theta.isNaN) ts.length + 1 else ts.count(_ <= theta)

  /** Bins are stored as unsigned bytes, so a fit takes at most 256. */
  private[ml] val MaxBins = 256

  /** Points per [[Block]]: large enough that per-block costs vanish, small
    * enough that no block array grows with the partition. */
  private[ml] val BlockSize = 4096

  /** Up to [[BlockSize]] training points, packed: `bins(i*dims + j)` is the
    * unsigned bin of point i's feature j, `y(i*k + l)` its +-1 label sign
    * and `w(i*k + l)` its unnormalized weight. Reweighting replaces only
    * `w`; `bins` and `y` are shared by every round's blocks. */
  private[ml] case class Block(n: Int, bins: Array[Byte], y: Array[Byte], w: Array[Double])

  /** Bin every point once and pack each partition into [[Block]]s, filled
    * as the partition's iterator streams (a partition is never held whole).
    * Lazy: the first job over the result runs it. Each grid must have at
    * most MaxBins - 1 thresholds, so every bin fits in a byte. */
  private[ml] def blockify(points: RDD[TrainPoint], grids: Array[Array[Double]],
                           k: Int): RDD[Block] = {
    val dims = grids.length
    points.mapPartitions { it =>
      new Iterator[Block] {
        def hasNext: Boolean = it.hasNext
        def next(): Block = {
          val bins = new Array[Byte](BlockSize * dims)
          val y = new Array[Byte](BlockSize * k)
          val w = new Array[Double](BlockSize * k)
          var n = 0
          while (n < BlockSize && it.hasNext) {
            val p = it.next()
            var j = 0
            while (j < dims) {
              bins(n * dims + j) = binOf(grids(j), p.x(j)).toByte
              j += 1
            }
            var l = 0
            while (l < k) {
              require(p.y(l) == 1 || p.y(l) == -1,
                s"label sign ${p.y(l)} at label $l of point ${p.id} is not +-1")
              y(n * k + l) = p.y(l).toByte
              w(n * k + l) = p.w(l)
              l += 1
            }
            n += 1
          }
          if (n == BlockSize) Block(n, bins, y, w)
          else Block(n, java.util.Arrays.copyOf(bins, n * dims),
            java.util.Arrays.copyOf(y, n * k), java.util.Arrays.copyOf(w, n * k))
        }
      }
    }
  }

  private type HistPartial = (Array[Double], Array[Double], Double)

  /** Executor-level tree fan-in: at P partitions the driver receives
    * min(P, MergeBranch) partials (~82 KB each on the harness shape), not
    * P — the difference between KBs and ~800 MB per round at 10k
    * partitions. 16 keeps the tree one level deep up to 256 partitions. */
  private[ml] val MergeBranch = 16

  /** Add partial `b` into `a` (a is a fresh deserialized copy post-shuffle /
    * post-collect, so in-place mutation is safe) — always called with the
    * lower-partition-id side on the left, preserving the deterministic
    * ascending-pid merge order at every tree level. */
  private def mergePartial(a: HistPartial, b: HistPartial): HistPartial = {
    val (ha, sa, wa) = a
    val (hb, sb, wb) = b
    var i = 0
    while (i < ha.length) { ha(i) += hb(i); i += 1 }
    var l = 0
    while (l < sa.length) { sa(l) += sb(l); l += 1 }
    (ha, sa, wa + wb)
  }

  /** One pass: flat hist[((j*numBins)+bin)*k + l] = sum of w*y over points
    * falling in that bin, plus per-label totals S(l) and global mass W.
    * Each point's w*y products are formed once and added to S and to its
    * bin in every feature, in point order, exactly as a per-point loop
    * would. Partials are merged through a deterministic tree (groups of
    * MergeBranch consecutive partition ids per level, each group merged in
    * ascending-pid order), so driver load is O(MergeBranch), not O(P),
    * and the merge sequence — hence every stump — is identical on every
    * run for a given partitioning. */
  private[ml] def histogramPass(rdd: RDD[Block], grids: Array[Array[Double]],
                                numBins: Int, k: Int): (Array[Double], Array[Double], Double) = {
    val dims = grids.length
    var parts: RDD[(Int, HistPartial)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val hist = new Array[Double](dims * numBins * k)
      val s = new Array[Double](k)
      val wy = new Array[Double](k)
      var wTot = 0.0
      it.foreach { b =>
        var i = 0
        while (i < b.n) {
          var l = 0
          while (l < k) {
            val wl = b.w(i * k + l)
            wy(l) = wl * b.y(i * k + l)
            s(l) += wy(l)
            wTot += wl
            l += 1
          }
          var j = 0
          while (j < dims) {
            val base = (j * numBins + (b.bins(i * dims + j) & 0xFF)) * k
            var l2 = 0
            while (l2 < k) {
              hist(base + l2) += wy(l2)
              l2 += 1
            }
            j += 1
          }
          i += 1
        }
      }
      Iterator.single((pid, (hist, s, wTot)))
    }
    var width = rdd.getNumPartitions
    while (width > MergeBranch) {
      parts = parts
        .map { case (pid, p) => (pid / MergeBranch, (pid, p)) }
        .groupByKey(math.max(1, width / MergeBranch))
        .map { case (gid, group) =>
          (gid, group.toArray.sortBy(_._1).map(_._2).reduceLeft(mergePartial))
        }
      width = (width + MergeBranch - 1) / MergeBranch
    }
    parts.collect().sortBy(_._1).map(_._2).reduceLeft(mergePartial)
  }

  /** Driver-side argmax over the histogram: best stump for this round.
    * gamma_l(j, theta_b) = (2 * sum_{x>theta_b} w*y - S_l) / W. Throws,
    * naming the round and W, when no stump has a finite edge (W = 0 or
    * not finite makes every gamma NaN). */
  private[ml] def bestStump(hist: Array[Double], s: Array[Double], wTot: Double,
                            grids: Array[Array[Double]], numBins: Int, k: Int,
                            round: Int = 1): DecisionStump = {
    var best: DecisionStump = null
    var bestGamma = Double.NegativeInfinity
    val gammaL = new Array[Double](k)
    for (j <- grids.indices) {
      val acc = new Array[Double](k)
      var b = grids(j).length - 1 // theta index, scanning top-down
      while (b >= 0) {
        val base = (j * numBins + (b + 1)) * k
        var l = 0
        while (l < k) { acc(l) += hist(base + l); l += 1 }
        var g = 0.0
        l = 0
        while (l < k) {
          gammaL(l) = (2.0 * acc(l) - s(l)) / wTot
          g += math.abs(gammaL(l))
          l += 1
        }
        val gr = math.rint(g * 1e9) / 1e9 // 1e-9 rounding: stable argmax
        val theta = grids(j)(b)
        // ties: (featureIndex, threshold) ascending; j already scans
        // ascending but theta scans descending, so compare explicitly
        val wins = gr > bestGamma || (gr == bestGamma && best != null &&
          j == best.featureIndex && theta < best.threshold)
        if (wins) {
          bestGamma = gr
          val votes = gammaL.map(gl => if (math.rint(gl * 1e9) >= 0) 1 else -1)
          val gCap = math.min(g, 1.0 - 1e-12)
          val alpha = 0.5 * math.log((1.0 + gCap) / (1.0 - gCap))
          best = DecisionStump(j, theta, alpha, votes)
        }
        b -= 1
      }
    }
    if (best == null)
      throw new IllegalStateException(
        s"AdaBoost.MH round $round: no stump has a finite edge (total weight W = $wTot)")
    best
  }

  /** Below this total weight the next round's weights are scaled up by an
    * exact power of two. Every round multiplies the mass by Z_t <= 1, and on
    * separable data Z_t is about 7e-7 (alpha at its gamma cap), so without
    * it W underflows to 0 after about 53 rounds. Scaling by 2^e is exact
    * for normal doubles and gamma = edge / W is scale-free, so only runs
    * that reach the threshold see it, and their stumps are those of exact
    * arithmetic. */
  private[ml] val RescaleBelow: Double = Math.scalb(1.0, -500)

  /** Generic boosting loop over arbitrary multi-labeled points.
    *
    * Bins every feature once: the points become persisted [[Block]]s
    * (see [[blockify]]), and the input RDD is read only by the first
    * round. Every later round streams the packed bytes: the histogram
    * pass reads each (point, feature) bin, and the reweight decides the
    * stump's `x > theta` as `bin >= cutOf(grids(f), theta)`, computed once
    * on the driver. Both keep the arithmetic, and its order, of a
    * per-point loop over the raw features, so the stumps are those of that
    * loop bit for bit. `numBins` may be at most 256, since bins are bytes.
    *
    * One Spark job per round: round t's histogram pass is the first job
    * over the blocks reweighted in round t-1 (round 1's over the freshly
    * binned blocks), so it also materializes them (and, every 5th round,
    * their local checkpoint, marked before that job so lineage stays cut).
    * The superseded blocks are released only after that pass, and the
    * last round reweights nothing. */
  def trainCore(spark: SparkSession, points: RDD[TrainPoint],
                grids: Array[Array[Double]], numBins: Int, k: Int,
                numRounds: Int): Array[DecisionStump] = {
    require(numBins <= MaxBins,
      s"AdaBoost.MH stores bins as bytes: numBins = $numBins exceeds $MaxBins")
    grids.zipWithIndex.foreach { case (ts, j) =>
      require(ts.length < numBins,
        s"feature $j has ${ts.length} thresholds; numBins = $numBins allows ${numBins - 1}")
    }
    val dims = grids.length
    var rdd = blockify(points, grids, k).persist(StorageLevel.MEMORY_AND_DISK)
    var prev: RDD[Block] = null
    val stumps = Array.newBuilder[DecisionStump]
    for (t <- 1 to numRounds) {
      val (hist, s, wTot) = histogramPass(rdd, grids, numBins, k)
      if (prev != null) prev.unpersist(blocking = false)
      val st = bestStump(hist, s, wTot, grids, numBins, k, t)
      stumps += st
      if (t < numRounds) {
        val scale = if (wTot < RescaleBelow) -Math.getExponent(wTot) else 0
        prev = rdd
        // the stump (~120 bytes) rides the closure: no broadcast per round
        val f = st.featureIndex
        val cut = cutOf(grids(f), st.threshold)
        val alpha = st.alpha
        val votes = st.votes
        rdd = prev.map { b =>
          val nw = new Array[Double](b.n * k)
          var i = 0
          while (i < b.n) {
            val phi = if ((b.bins(i * dims + f) & 0xFF) >= cut) 1 else -1
            var l = 0
            while (l < k) {
              val o = i * k + l
              nw(o) = b.w(o) * math.exp(-alpha * votes(l) * b.y(o) * phi)
              if (scale != 0) nw(o) = Math.scalb(nw(o), scale)
              l += 1
            }
            i += 1
          }
          b.copy(w = nw)
        }.persist(StorageLevel.MEMORY_AND_DISK)
        // cut lineage before it grows one lambda per round
        if (t % 5 == 0) rdd.localCheckpoint()
      }
    }
    rdd.unpersist(blocking = false)
    stumps.result()
  }

  /** Train on the harness `embeddings` schema (one-vs-all label encoding). */
  def train(spark: SparkSession, df: DataFrame, numRounds: Int,
            numBins: Int = 16, quantileBins: Boolean = false): Array[DecisionStump] = {
    val grids =
      if (quantileBins) thresholdGridQuantile(df, numBins)
      else thresholdGrid(df, numBins)
    val m = df.count()
    val w0 = 1.0 / (m * NumLabels)
    val points = df
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"),
        col("label").cast("int"))
      .rdd.map { r =>
        val label = r.getInt(2)
        // fail loudly, like MultiLabelText.parseLine: an out-of-range label
        // would otherwise silently become an all-negative label vector and
        // corrupt the training weights
        require(label >= 0 && label < NumLabels,
          s"label $label out of range [0,$NumLabels) for vec_id ${r.getLong(0)}")
        TrainPoint(r.getLong(0), r.getSeq[Double](1).toArray,
          Array.tabulate(NumLabels)(l => if (l == label) 1 else -1),
          Array.fill(NumLabels)(w0))
      }
    trainCore(spark, points, grids, numBins, NumLabels, numRounds)
  }

  /** Persist a trained model as parquet: one row per boosting round, in
    * round order (`t`). Parquet, not JSON/pickle: the model is data — it
    * survives language/version changes, is splittable, and loads anywhere
    * the engine runs. Doubles round-trip exactly through parquet. */
  def saveModel(spark: SparkSession, stumps: Array[DecisionStump], path: String): Unit = {
    import spark.implicits._
    stumps.zipWithIndex.toSeq
      .map { case (st, t) => (t, st.featureIndex, st.threshold, st.alpha, st.votes.toSeq) }
      .toDF("t", "feature_index", "threshold", "alpha", "votes")
      .repartition(1) // a model is KBs; never shard it
      .write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: SparkSession, path: String): Array[DecisionStump] =
    spark.read.parquet(path)
      .select("t", "feature_index", "threshold", "alpha", "votes")
      .collect()
      .sortBy(_.getInt(0))
      .map(r => DecisionStump(r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getSeq[Int](4).toArray))

  /** F(x)_l = sum_t alpha_t * v_tl * phi_t(x); argmax label, ties -> lowest. */
  def scoreVector(stumps: Array[DecisionStump], x: Seq[Double], k: Int): Array[Double] = {
    val f = new Array[Double](k)
    stumps.foreach { st =>
      val phi = if (x(st.featureIndex) > st.threshold) 1 else -1
      var l = 0
      while (l < k) { f(l) += st.alpha * st.votes(l) * phi; l += 1 }
    }
    f
  }

  def predictUdf(stumps: Array[DecisionStump]) = udf { x: Seq[Double] =>
    val f = scoreVector(stumps, x, NumLabels)
    var best = 0
    var l = 1
    while (l < NumLabels) { if (f(l) > f(best)) best = l; l += 1 }
    best
  }

  /** Column form of scoreVector + argmax — the hot scoring path: one
    * [[graft.functions.StumpEnsembleArgmax]] expression carrying the model
    * as packed arrays, so the plan has one node over `v` at any T and each
    * row runs one T·K loop inside whole-stage codegen. F_l(x) folds the
    * stumps in round order from the first term with the same double
    * additions as scoreVector (alpha_t·v_tl is one driver-side product,
    * phi flips its IEEE sign exactly), and argmax resolves ties to the
    * lowest label — so predictions are identical to predictUdf on every
    * FINITE, fully-populated input (AdaBoostMHSuite pins it on real data).
    * Edge semantics follow Spark SQL's double ordering: a NaN feature is
    * GREATER than any threshold (+w vote; the Scala UDF's `>` is false on
    * NaN). A null array or a null element votes -w (the UDF would throw),
    * and an array shorter than a stump's feature index throws an error
    * naming that index. `v` may be any numeric array; it is widened to
    * array<double>, which is exact. */
  def predictColumn(stumps: Array[DecisionStump], v: Column): Column = {
    val k = NumLabels
    val weight = Array.tabulate(stumps.length * k) { i =>
      val st = stumps(i / k)
      st.alpha * st.votes(i % k)
    }
    org.apache.spark.sql.GraftSqlBridge.column(graft.functions.StumpEnsembleArgmax(
      org.apache.spark.sql.GraftSqlBridge.expression(v.cast("array<double>")),
      stumps.map(_.featureIndex).toIndexedSeq, stumps.map(_.threshold).toIndexedSeq,
      weight.toIndexedSeq, k))
  }
}

/** ml.Pipeline-compatible wrapper around [[AdaBoostMH]]. */
class AdaBoostMHClassifier(override val uid: String)
  extends Estimator[AdaBoostMHModel] {

  def this() = this(Identifiable.randomUID("adaboost_mh"))

  val numRounds = new IntParam(this, "numRounds", "boosting rounds",
    ParamValidators.gtEq(1))
  setDefault(numRounds, 10)
  def setNumRounds(v: Int): this.type = set(numRounds, v)

  val numBins = new IntParam(this, "numBins", "threshold bins per feature",
    ParamValidators.inRange(2, AdaBoostMH.MaxBins))
  setDefault(numBins, 16)
  def setNumBins(v: Int): this.type = set(numBins, v)

  val predictionCol = new Param[String](this, "predictionCol", "output column")
  setDefault(predictionCol, "pred_label")

  override def fit(ds: Dataset[_]): AdaBoostMHModel = {
    val df = ds.toDF()
    val stumps = AdaBoostMH.train(df.sparkSession, df, $(numRounds), $(numBins))
    new AdaBoostMHModel(uid, stumps).setParent(this)
      .set(predictionCol, $(predictionCol))
  }

  override def copy(extra: ParamMap): AdaBoostMHClassifier = defaultCopy(extra)

  override def transformSchema(schema: StructType): StructType =
    schema.add(StructField($(predictionCol), IntegerType, nullable = false))
}

class AdaBoostMHModel(override val uid: String, val stumps: Array[DecisionStump])
  extends Model[AdaBoostMHModel] {

  val predictionCol = new Param[String](this, "predictionCol", "output column")
  setDefault(predictionCol, "pred_label")

  override def transform(ds: Dataset[_]): DataFrame =
    ds.toDF().withColumn($(predictionCol),
      AdaBoostMH.predictColumn(stumps, col("embedding").cast("array<double>")))

  override def copy(extra: ParamMap): AdaBoostMHModel =
    copyValues(new AdaBoostMHModel(uid, stumps).setParent(parent), extra)

  override def transformSchema(schema: StructType): StructType =
    schema.add(StructField($(predictionCol), IntegerType, nullable = false))
}
