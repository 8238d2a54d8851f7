package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ridge regression over SPARSE long-format features — the d ≥ 2^18 path
  * the dense [[LinearProbe]] cannot take (its normal-equation Gram is
  * (d+1)² driver cells; at fastText-style hashed-TF widths that is 10s of
  * GBs). Solves (XᵀX + λI)·w = Xᵀy MATRIX-FREE by conjugate gradient
  * (Hestenes–Stiefel 1952): the Gram matrix is never materialized — each
  * CG iteration needs only the product XᵀX·p, computed as ONE distributed
  * pass over the per-document feature arrays (fold q_doc = Σ v·p[dim]
  * against the broadcast direction vector, then re-explode and grid-sum
  * v·q_doc per dim). Driver state is four vectors over the ACTIVE
  * dimensions (the dims that occur in the corpus — inactive dims have
  * w = 0 exactly: the regularized system is block-diagonal across them),
  * so a 2^18-bucket probe costs ~2 MB of driver memory and `iters`
  * aggregation passes, never a d² anything.
  *
  * Small-side fast path ([[DenseLimit]]): at ≤384 active dims the sparse
  * Gram is ONE grid-exact distributed pass + a driver LU solve — `iters`
  * separate CG jobs would be pure scheduler overhead for a solve that is
  * driver micro-work. The suite pins the two solvers' 1e-6 agreement on
  * an overlap system; the path choice depends only on the deterministic
  * active-dim count.
  *
  * Scale shape at 100 TB: the grouped feature frame is built once (one
  * shuffle) and checkpointed; each iteration is one scan + one
  * shuffle-by-dim + one ≤(D+1)-row collect. The direction vector rides
  * the fold expression as an object reference
  * ([[graft.functions.SparseDotRef]] — the PqEncode codebook pattern),
  * NOT a plan literal: a typedLit of D+1 doubles was ~2 MB of plan per
  * iteration at 2^18 dims and ~16 MB at the 2^21 cap, re-shipped and
  * re-codegen'd 16× per fit (VERDICT r12 #3) — plan size, not driver
  * memory, was the practical width ceiling.
  *
  * Determinism: per-document folds run over SORTED feature arrays (fixed
  * order -> fixed IEEE sum), cross-document sums go through the 1e-9
  * grid-long discipline ([[LinearProbe]]'s gridSum — exact in any order),
  * and the CG recurrence is fixed driver arithmetic on those exact
  * inputs — the model is byte-identical across partitionings
  * (suite-pinned). CG is run a FIXED `iters` budget (no data-dependent
  * early stop beyond an exact-zero residual, which is itself
  * deterministic); on a λ-regularized normalized-TF system the iterates
  * are well inside calibration noise of the exact solve long before the
  * default budget (SparseRidgeSuite pins the small-system near-identity
  * vs a driver-side exact solve).
  */
object SparseRidge {

  /** Active dims (ascending), their weights, and the bias. A dim not in
    * `dims` has weight exactly 0. */
  final case class Model(dims: Array[Long], weights: Array[Double],
                         bias: Double)

  private val Grid = 1e9
  private def gridSum(c: org.apache.spark.sql.Column) =
    sum(floor(c * lit(Grid) + lit(0.5)))

  /** Hard cap on active width: past ~2^21 the per-iteration plan literal
    * and driver vectors stop being "meta-sized" and the right tool is a
    * blocked solver. 2^18-bucket hashed-TF probes sit 8× under it. */
  val MaxActiveDims: Int = 1 << 21

  /** (id, array<struct<j,v>>, y) with the bias slot appended — j is the
    * DENSE index of the doc's dims in the sorted active-dim order, the
    * array is sorted by j (fixed fold order), and every doc carries the
    * trailing (D, 1.0) bias entry. With labels, the join is FROM the
    * label side: a labeled doc with no feature rows enters as a
    * bias-only observation (x = 0 everywhere, bias slot 1.0) — the dense
    * [[LinearProbe]]'s zero-vector behavior, so the two probes fit the
    * same train population (ADVICE r12 #4: the wide fit silently dropped
    * empty/all-cancelled docs from the bias estimate while still scoring
    * and calibrating them). The SERVING shape — [[score]] keeps it: the
    * dimIdx join also restricts the fold to the model's dims, preserving
    * the documented absent-doc contract. */
  private def grouped(feat: DataFrame, labels: Option[DataFrame],
                      dimIdx: DataFrame, d: Int): DataFrame = {
    val g = feat
      .join(broadcast(dimIdx), "dim")
      .groupBy("id")
      .agg(concat(
        sort_array(collect_list(struct(col("j"), col("v").cast("double").as("v")))),
        array(struct(lit(d).as("j"), lit(1.0).as("v")))).as("fs"))
    labels match {
      case Some(l) => l.select(col("id"), col("y").cast("double").as("y"))
        .join(g, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("fs"),
            array(struct(lit(d).as("j"), lit(1.0).as("v")))).as("fs"),
          col("y"))
      case None => g
    }
  }

  /** The bias sentinel of the RAW-dim fit frame: sorts after every real
    * dim would (it is appended after the sort anyway) and can collide
    * with no hashed-TF bucket. */
  private val BiasDim: Long = Long.MaxValue

  /** The FIT-side grouped frame, keyed by RAW dims (round-18 prefix
    * fusion, guide §2.3): (id, array<struct<dim:long, v:double>>, y),
    * array sorted by dim — the same order as [[grouped]]'s dense-index
    * sort (dim → j is monotone), so every in-row fold is bit-identical —
    * with the (BiasDim, 1.0) entry appended last exactly like the (D,
    * 1.0) slot. Because no dense index is needed, the fit no longer
    * scans the feature frame for a dims-collect before grouping: the
    * active-dim set falls out of the b-vector aggregation over THIS
    * frame (one driver round-trip carries dims, b and the doc count),
    * and the folds resolve slots by binary search
    * ([[graft.functions.SparseDotDimRef]]). Same bias-only fallback for
    * labeled docs without feature rows. */
  private def groupedRaw(feat: DataFrame, labels: DataFrame): DataFrame = {
    val biasOnly = array(struct(lit(BiasDim).as("dim"), lit(1.0).as("v")))
    val dim = col("dim").cast("long")
    val g = feat
      .filter(col("dim").isNotNull)
      .select(col("id"),
        // a real dim equal to the sentinel would merge into the bias slot
        when(dim === BiasDim, raise_error(lit(
          s"sparse ridge: feature dim $BiasDim is reserved for the bias term")))
          .otherwise(dim).as("dim"),
        col("v").cast("double").as("v"))
      .groupBy("id")
      .agg(concat(
        sort_array(collect_list(struct(col("dim"), col("v")))),
        biasOnly).as("fs"))
    labels.select(col("id"), col("y").cast("double").as("y"))
      .join(g, Seq("id"), "left")
      .select(col("id"), coalesce(col("fs"), biasOnly).as("fs"), col("y"))
  }

  /** One matrix-free product u = ((XᵀX)/n + (λ/n)I)·p over the grouped
    * frame: q_doc = ⟨x_doc, p⟩ by an in-row fold (deterministic — sorted
    * array), then u_j = (Σ_docs v_dj·q_doc)/n by grid-long sums. The CG
    * recurrence runs on the MEAN-scaled system (A/n, b/n) — CG is
    * scale-invariant, so the iterates are identical to the raw system's,
    * but the residuals (and with them the direction vector p and the
    * fold values q) stay O(1) instead of O(n): grid-long terms are then
    * bounded by ~|v·q|·1e9 ≈ 1e9-1e10, putting the per-dim sum's
    * overflow ceiling at ~1e9 contributing docs per dim (the raw-space
    * recurrence would overflow at ~1e8 docs because q grows with ‖b‖).
    * Returns a dense vector over the D+1 slots. */
  private def matVec(g: DataFrame, dims: Array[Long], p: Array[Double],
                     lambda: Double, n: Long): Array[Double] = {
    val u = g
      .select(col("fs"), sparseDotDim(col("fs"), dims, p).as("q"))
      .select(explode(col("fs")).as("f"), col("q"))
      .groupBy(col("f.dim").as("dim")).agg(gridSum(col("f.v") * col("q")).as("u"))
      .collect()
    val out = Array.ofDim[Double](p.length)
    u.foreach(r => out(slotOf(dims, r.getLong(0))) = r.getLong(1) / Grid / n)
    var j = 0
    while (j < out.length) { out(j) += lambda / n * p(j); j += 1 }
    out
  }

  /** Driver-side twin of the fold's slot rule: BiasDim → the trailing
    * bias slot, anything else → its rank in the sorted active dims. */
  private def slotOf(dims: Array[Long], dim: Long): Int =
    if (dim == BiasDim) dims.length
    else {
      val s = java.util.Arrays.binarySearch(dims, dim)
      require(s >= 0, s"sparse ridge: dim $dim not in the active set")
      s
    }

  /** Past this many ACTIVE dims the solver goes matrix-free; at or under
    * it the sparse Gram is collected and solved closed-form in ONE
    * distributed pass (the small-side fast path: a (D+1)² ≤ ~150k-cell
    * driver solve is micro-work, while `iters` separate CG jobs are pure
    * scheduler overhead at that width). 384³/3 flops and ≤148k grid
    * cells — comfortably meta-sized; the CG path is what scales to 2^18
    * and is exercised by every fixture wider than this. */
  val DenseLimit: Int = 384

  /** Fit on (id, dim, v) sparse features and (id, y) targets. EVERY doc
    * in `labels` weighs in: one with no feature rows enters as a
    * bias-only observation (the dense probe's zero-vector behavior —
    * see [[grouped]]); restrict `labels`, not `feat`, to choose the
    * train population.
    *
    * `Model.dims` is the active-dim set OF THE TRAIN POPULATION: a dim
    * occurring only in feat rows of docs absent from `labels` never
    * reaches the fit (such dims previously entered as exact-zero
    * weights — scores are identical either way, since an absent dim
    * folds as weight 0).
    *
    * `denseLimit` picks the solver: active dims ≤ denseLimit → one-pass
    * sparse-Gram collect + exact driver LU; above → fixed-`iters`
    * matrix-free CG. The choice depends only on the active-dim COUNT
    * (deterministic), and the suite pins the two solvers agree to 1e-6
    * on an overlap system — at probe scale the difference is far inside
    * calibration noise. Pass denseLimit = 0 to force CG. */
  def fit(feat: DataFrame, labels: DataFrame, lambda: Double = 1.0,
          iters: Int = 16, denseLimit: Int = DenseLimit): Model = {
    require(lambda > 0, s"need lambda > 0, got $lambda")
    require(iters >= 1, s"need iters >= 1, got $iters")
    // the iterate passes re-scan this frame: checkpoint it and release
    // exactly that checkpoint in finally (never a blanket JVM-wide sweep)
    val g = groupedRaw(feat, labels).localCheckpoint()
    try {
      // FUSED fit prefix (round 18, guide §2.3 / VERDICT r17 next #5):
      // one aggregation over the grouped frame carries b = Xᵀy per dim,
      // the per-dim row count, AND — as its key set — the active-dim
      // list itself. Through round 17 the prefix was three sequential
      // driver round-trips (dims distinct-collect over the raw feature
      // frame, grouped checkpoint, b collect); the dims pass is gone —
      // at 100 TB that is a whole scan + shuffle of the feature frame
      // per fit. The bias sentinel's count IS the training-doc count
      // (every doc carries exactly one bias entry — the r17 fusion).
      val bRows = g
        .select(explode(col("fs")).as("f"), col("y"))
        .groupBy(col("f.dim").as("dim"))
        .agg(gridSum(col("f.v") * col("y")).as("b"), count(lit(1)).as("c"))
        .collect()
      val dims = bRows.map(_.getLong(0)).filter(_ != BiasDim).sorted
      require(dims.nonEmpty, "sparse ridge: empty feature frame")
      require(dims.length <= MaxActiveDims,
        s"sparse ridge: ${dims.length} active dims exceeds $MaxActiveDims — " +
          "use a smaller hash-bucket count or a blocked solver")
      val d = dims.length
      val b = Array.ofDim[Double](d + 1)
      var nDocs = 0L
      bRows.foreach { r =>
        b(slotOf(dims, r.getLong(0))) = r.getLong(1) / Grid
        if (r.getLong(0) == BiasDim) nDocs = r.getLong(2)
      }
      val w =
        if (d + 1 <= denseLimit) solveDense(g, b, dims, lambda)
        else cgLoop(g, b, dims, lambda, iters, math.max(1L, nDocs))
      Model(dims, w.take(d), w(d))
    } finally graft.operators.Scratch.release(g)
  }

  /** Small-side path: the sparse Gram XᵀX as per-doc dim-pair products
    * (Σ_doc L_doc² rows through ONE shuffle, grid-exact), collected and
    * LU-solved on the driver. Grid terms are |v·v| ≤ 1 (normalized
    * features), so the per-cell long sum's overflow ceiling is ~9e9
    * contributing docs — the fitViaExplode witness's ceiling, fine for a
    * fast path that only fires at ≤384 dims. */
  private def solveDense(g: DataFrame, b: Array[Double], dims: Array[Long],
                         lambda: Double): Array[Double] = {
    val d = dims.length
    val cells = g
      .select(explode(col("fs")).as("f1"), col("fs"))
      .select(col("f1"), explode(col("fs")).as("f2"))
      .groupBy(col("f1.dim").as("d1"), col("f2.dim").as("d2"))
      .agg(gridSum(col("f1.v") * col("f2.v")).as("c"))
      .collect()
    val a = Array.ofDim[Double](d + 1, d + 1)
    cells.foreach(r =>
      a(slotOf(dims, r.getLong(0)))(slotOf(dims, r.getLong(1))) = r.getLong(2) / Grid)
    var i = 0
    while (i <= d) { a(i)(i) += lambda; i += 1 }
    luSolve(a, b.clone())
  }

  /** In-place LU solve with partial pivoting (A and b are ours). */
  private def luSolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = a.length
    for (k <- 0 until n) {
      val piv = (k until n).maxBy(i => math.abs(a(i)(k)))
      val (ta, tb) = (a(k), b(k)); a(k) = a(piv); a(piv) = ta
      b(k) = b(piv); b(piv) = tb
      for (i <- k + 1 until n) {
        val f = a(i)(k) / a(k)(k)
        var j = k
        while (j < n) { a(i)(j) -= f * a(k)(j); j += 1 }
        b(i) -= f * b(k)
      }
    }
    val w = Array.ofDim[Double](n)
    for (k <- n - 1 to 0 by -1) {
      var s = b(k)
      var j = k + 1
      while (j < n) { s -= a(k)(j) * w(j); j += 1 }
      w(k) = s / a(k)(k)
    }
    w
  }

  /** Matrix-free conjugate gradient from w = 0 — the ≥2^18 path. Runs on
    * the mean-scaled system (see [[matVec]]): same iterates, O(1)
    * residual magnitudes. `n` is the training-doc count. */
  private def cgLoop(g: DataFrame, b: Array[Double], dims: Array[Long],
                     lambda: Double, iters: Int, n: Long): Array[Double] = {
    val w = Array.ofDim[Double](b.length)
    val r = b.map(_ / n) // b/n — the scaled right-hand side
    var p = r.clone()
    var rr = r.map(x => x * x).sum
    var it = 0
    while (it < iters && rr > 0.0) {
      val u = matVec(g, dims, p, lambda, n)
      val pu = p.indices.map(j => p(j) * u(j)).sum
      if (pu <= 0.0) it = iters // numerically spent — keep the iterate
      else {
        val alpha = rr / pu
        var j = 0
        while (j < w.length) {
          w(j) += alpha * p(j); r(j) -= alpha * u(j); j += 1
        }
        val rr2 = r.map(x => x * x).sum
        val beta = rr2 / rr
        p = r.indices.map(j => r(j) + beta * p(j)).toArray
        rr = rr2
        it += 1
      }
    }
    w
  }

  /** Persist a fitted model (+ Platt calibration scalars) as KB-to-MB
    * parquet — one row per active dim plus a one-row meta — the
    * [[LinearProbe.saveModel]] discipline lifted to the sparse width:
    * serving scores against a FROZEN probe without refitting. */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                path: String, calib: (Double, Double) = (0.0, 0.0)): Unit = {
    import spark.implicits._
    model.dims.zip(model.weights).toSeq.toDF("dim", "w")
      .repartition(1).write.mode("overwrite").parquet(s"$path/weights")
    Seq((model.bias, calib._1, calib._2)).toDF("bias", "a", "b")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[saveModel]] model and its calibration scalars. Mirrors the
    * fit-time contract at load (the LinearProbe.loadModel discipline): an
    * empty or non-finite frozen artifact fails HERE, never as wrong
    * scores downstream. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): (Model, (Double, Double)) = {
    val rows = spark.read.parquet(s"$path/weights")
      .select("dim", "w").collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, s"sparse ridge: empty model at $path")
    require(rows.forall(r => java.lang.Double.isFinite(r.getDouble(1))),
      s"sparse ridge: non-finite weight in the frozen model at $path — " +
        "the artifact is corrupt; refit and re-save")
    val dims = rows.map(_.getLong(0))
    require(dims.distinct.length == dims.length,
      s"sparse ridge: duplicate dims in the frozen model at $path")
    val m = spark.read.parquet(s"$path/meta").select("bias", "a", "b").head()
    require(java.lang.Double.isFinite(m.getDouble(0)),
      s"sparse ridge: non-finite bias in the frozen model at $path")
    (Model(dims, rows.map(_.getDouble(1)), m.getDouble(0)),
      (m.getDouble(1), m.getDouble(2)))
  }

  /** Score (id, dim, v) rows against a model: (id, score) with
    * score = ⟨x, w⟩ + bias, one in-row fold per doc against the weight
    * literal — no join against the corpus, no UDF. Docs absent from
    * `feat` — and docs whose every dim is unseen by the model (the dim
    * filter eats all their rows; unseen dims have weight exactly 0) —
    * are absent here; their score is exactly `model.bias`, and callers
    * that must emit every doc left-join and coalesce to it (the
    * qualityProbeWide wrappers do). */
  def score(feat: DataFrame, model: Model): DataFrame = {
    val d = model.dims.length
    val dimIdx = {
      val spark = feat.sparkSession
      import spark.implicits._
      model.dims.zipWithIndex.toSeq.toDF("dim", "j")
    }
    grouped(feat, None, dimIdx, d)
      .select(col("id"), sparseDot(col("fs"), model.weights :+ model.bias).as("score"))
  }

  /** The in-row sparse fold ⟨fs, vec⟩ — the vector rides as an object
    * reference, never a plan literal (see the class doc). */
  private def sparseDot(fs: org.apache.spark.sql.Column,
                        vec: Array[Double]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SparseDotRef(
        org.apache.spark.sql.GraftSqlBridge.expression(fs),
        vec.toIndexedSeq))

  /** The RAW-dim fit fold ⟨fs, vec⟩ — slots resolved by binary search
    * over the sorted active dims ([[graft.functions.SparseDotDimRef]];
    * dims and vector ride as object references, never plan literals). */
  private def sparseDotDim(fs: org.apache.spark.sql.Column, dims: Array[Long],
                           vec: Array[Double]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SparseDotDimRef(
        org.apache.spark.sql.GraftSqlBridge.expression(fs),
        dims.toIndexedSeq, vec.toIndexedSeq))
}
