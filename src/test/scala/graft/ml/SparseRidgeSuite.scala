package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SparseRidgeSuite extends SparkSpec {

  /** Exact driver-side solve of (XᵀX + λI)w = Xᵀy — the witness CG must
    * match on a small system (Gaussian elimination, partial pivoting). */
  private def exactSolve(rows: Seq[(Array[Double], Double)], lambda: Double): Array[Double] = {
    val d = rows.head._1.length
    val a = Array.ofDim[Double](d, d)
    val b = Array.ofDim[Double](d)
    rows.foreach { case (x, y) =>
      for (i <- 0 until d) {
        b(i) += x(i) * y
        for (j <- 0 until d) a(i)(j) += x(i) * x(j)
      }
    }
    for (i <- 0 until d) a(i)(i) += lambda
    // in-place elimination
    for (k <- 0 until d) {
      val piv = (k until d).maxBy(i => math.abs(a(i)(k)))
      val (ta, tb) = (a(k), b(k)); a(k) = a(piv); a(piv) = ta
      b(k) = b(piv); b(piv) = tb
      for (i <- k + 1 until d) {
        val f = a(i)(k) / a(k)(k)
        for (j <- k until d) a(i)(j) -= f * a(k)(j)
        b(i) -= f * b(k)
      }
    }
    val w = Array.ofDim[Double](d)
    for (k <- d - 1 to 0 by -1) {
      var s = b(k)
      for (j <- k + 1 until d) s -= a(k)(j) * w(j)
      w(k) = s / a(k)(k)
    }
    w
  }

  /** A small dense-ish system in sparse long format: 40 rows, dims 0..5
    * (plus the solver's implicit bias), deterministic values. */
  private def smallSystem: (DataFrame, DataFrame, Seq[(Array[Double], Double)]) = {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val x = Array.tabulate(6)(j => ((i * 7 + j * 13) % 11 - 5) / 5.0)
      val y = if (x(1) - 0.5 * x(4) + 0.25 > 0) 1.0 else 0.0
      (i.toLong, x, y)
    }
    val feat = rows.flatMap { case (id, x, _) =>
      x.zipWithIndex.collect { case (v, j) if v != 0.0 => (id, j.toLong, v) }
    }.toDF("id", "dim", "v")
    val labels = rows.map { case (id, _, y) => (id, y) }.toDF("id", "y")
    // the exact witness augments with the bias coordinate the solver adds
    val aug = rows.map { case (_, x, y) => (x :+ 1.0, y) }
    (feat, labels, aug)
  }

  test("CG fit (denseLimit = 0) matches the exact normal-equation solve on a small system") {
    val (feat, labels, aug) = smallSystem
    val m = SparseRidge.fit(feat, labels, lambda = 1.0, iters = 16, denseLimit = 0)
    val exact = exactSolve(aug, lambda = 1.0)
    assert(m.dims.toSeq === (0L until 6L))
    val got = m.weights :+ m.bias
    got.zip(exact).zipWithIndex.foreach { case ((g, e), j) =>
      assert(math.abs(g - e) < 1e-6, s"w($j): CG $g vs exact $e")
    }
  }

  test("dense fast path == CG on the overlap system (1e-6), and == the exact witness") {
    val (feat, labels, aug) = smallSystem
    val dense = SparseRidge.fit(feat, labels) // 7 slots <= DenseLimit
    val cg = SparseRidge.fit(feat, labels, iters = 16, denseLimit = 0)
    val exact = exactSolve(aug, lambda = 1.0)
    val (dw, cw) = (dense.weights :+ dense.bias, cg.weights :+ cg.bias)
    dw.indices.foreach { j =>
      assert(math.abs(dw(j) - cw(j)) < 1e-6, s"w($j): dense ${dw(j)} vs CG ${cw(j)}")
      assert(math.abs(dw(j) - exact(j)) < 1e-6, s"w($j): dense ${dw(j)} vs exact ${exact(j)}")
    }
  }

  test("fit and score are deterministic across partitionings — both solver paths") {
    val (feat, labels, _) = smallSystem
    for (limit <- Seq(0, SparseRidge.DenseLimit)) {
      val a = SparseRidge.fit(feat, labels, denseLimit = limit)
      val b = SparseRidge.fit(feat.repartition(7), labels.repartition(3), denseLimit = limit)
      assert(a.dims.toSeq === b.dims.toSeq)
      assert(a.weights.toSeq === b.weights.toSeq && a.bias === b.bias,
        s"model changed under repartitioning (denseLimit=$limit)")
      val s1 = SparseRidge.score(feat, a).orderBy("id").collect().map(_.toSeq).toSeq
      val s2 = SparseRidge.score(feat.repartition(5), a).orderBy("id").collect().map(_.toSeq).toSeq
      assert(s1 === s2, s"scores changed under repartitioning (denseLimit=$limit)")
    }
  }

  /** The WIDTH claim (VERDICT r11 missing #2): a corpus whose label is a
    * pure VOCABULARY signal — class-1 docs carry 2 signal words among 18
    * shared-noise words, class 0 carries 20 noise words; token counts and
    * distinct ratios identical across classes. At 16 hash buckets the
    * signal words collide with ~32 of 512 noise words each and the signed
    * sums bury them; at 2^18 buckets every word owns a coordinate. Same
    * solver, same docs — only the feature width moves. */
  private def vocabDocs = {
    import spark.implicits._
    (0L until 400L).map { i =>
      val noise = (0 until 20).map(j => s"n${(i * 17 + j * 31 + j * j) % 512}")
      val text =
        if (i % 2 == 0) (noise.take(18) ++ Seq(s"sig${i % 8}", s"sig${(i + 3) % 8}")).mkString(" ")
        else noise.mkString(" ")
      (i, text, if (i % 2 == 0) 1.0 else 0.0)
    }.toDF("doc_id", "text", "y")
  }

  private def holdoutAcc(buckets: Long): Double = {
    val docs = vocabDocs
    val feat = graft.queries.LlmOps.hashedTfXxh(
        docs.select("doc_id", "text"), buckets)
      .select(col("doc_id").as("id"), col("dim"), col("v"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("id"), col("y"))
    val m = SparseRidge.fit(feat.join(train.select("id"), "id"), train)
    val scored = SparseRidge.score(feat, m)
      .join(docs.select(col("doc_id").as("id"), col("y")), "id")
      .filter(col("id") % 5 === 0)
      .select((col("score") >= 0.5).cast("double").as("pred"), col("y"))
      .collect()
    scored.count(r => r.getDouble(0) == r.getDouble(1)).toDouble / scored.length
  }

  test("capacity: the vocabulary signal separates at 2^18 buckets, not at 16") {
    val wide = holdoutAcc(1L << 18)
    val narrow = holdoutAcc(16L)
    assert(wide >= 0.9, s"wide probe failed to recover the planted vocabulary: $wide")
    assert(narrow <= wide - 0.15,
      s"the 16-bucket width unexpectedly matched the wide probe: narrow $narrow vs wide $wide")
  }

  /** The word-ORDER claim (the bigram feature map): doc pairs share an
    * IDENTICAL token multiset — the label is whether alpha and beta are
    * adjacent — so the unigram features of the two pair members are
    * equal rows with opposite labels and NO unigram width can beat
    * chance, while the bigram map separates on the "alpha beta" term. */
  private def adjacencyDocs = {
    import spark.implicits._
    (0L until 400L).map { i =>
      val pair = i / 2
      val noise = (0 until 16).map(j => s"n${(pair * 13 + j * 7) % 64}")
      val text =
        if (i % 2 == 1) (Seq("alpha", "beta") ++ noise).mkString(" ")
        else (Seq("alpha") ++ noise.take(8) ++ Seq("beta") ++ noise.drop(8)).mkString(" ")
      (i, text, (i % 2).toDouble)
    }.toDF("doc_id", "text", "y")
  }

  private def adjacencyAcc(ngrams: Int): Double = {
    val docs = adjacencyDocs
    val feat = graft.queries.LlmOps.hashedTfXxh(
        docs.select("doc_id", "text"), 1L << 18, ngrams)
      .select(col("doc_id").as("id"), col("dim"), col("v"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("id"), col("y"))
    val m = SparseRidge.fit(feat.join(train.select("id"), "id"), train)
    val scored = SparseRidge.score(feat, m)
      .join(docs.select(col("doc_id").as("id"), col("y")), "id")
      .filter(col("id") % 5 === 0)
      .select((col("score") >= 0.5).cast("double").as("pred"), col("y"))
      .collect()
    scored.count(r => r.getDouble(0) == r.getDouble(1)).toDouble / scored.length
  }

  test("word order: bigram features separate an adjacency label unigrams provably cannot") {
    val bi = adjacencyAcc(ngrams = 2)
    val uni = adjacencyAcc(ngrams = 1)
    assert(bi >= 0.9, s"bigram probe failed to recover the adjacency signal: $bi")
    // pair members have EQUAL unigram rows with opposite labels — chance
    // is the ceiling, modulo holdout wobble
    assert(uni <= 0.65, s"unigram probe beat chance on an order-only label: $uni")
  }

  test("SparseDotRef score is bit-identical to the typedLit fold it replaced") {
    import spark.implicits._
    val (feat, labels, _) = smallSystem
    val m = SparseRidge.fit(feat, labels)
    val viaRef = SparseRidge.score(feat, m).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the pre-r13 literal path, rebuilt inline: same grouped frame, the
    // fold against a typedLit weight array — the pin is exact equality
    val d = m.dims.length
    val dimIdx = m.dims.zipWithIndex.toSeq.toDF("dim", "j")
    val wl = typedLit((m.weights :+ m.bias).toSeq)
    val viaLit = feat.join(broadcast(dimIdx), "dim").groupBy("id")
      .agg(concat(
        sort_array(collect_list(struct(col("j"), col("v").cast("double").as("v")))),
        array(struct(lit(d).as("j"), lit(1.0).as("v")))).as("fs"))
      .select(col("id"), aggregate(col("fs"), lit(0.0),
        (acc, f) => acc + f.getField("v") * element_at(wl, f.getField("j") + 1)).as("score"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaRef === viaLit, "reference-object fold diverged from the literal fold")
  }

  test("score plans carry no array literal at feature width (the weights ride as a reference)") {
    val (feat, labels, _) = smallSystem
    val m = SparseRidge.fit(feat, labels)
    val plan = SparseRidge.score(feat, m).queryExecution.analyzed
    val bigArrayLits = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
             l.value != null &&
             l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
               .numElements() > 8 => l
      })
    assert(bigArrayLits.isEmpty,
      s"weight-sized array literal leaked into the score plan: ${bigArrayLits.take(1)}")
  }

  test("a labeled doc with no feature rows enters the fit as a bias-only observation") {
    import spark.implicits._
    val (feat, labels, aug) = smallSystem
    // doc 99 has a label but NO feature rows; the exact witness sees it
    // as the zero vector with the bias coordinate — the dense LinearProbe
    // behavior the wide fit must match (ADVICE r12 #4)
    val labels2 = labels.unionByName(Seq((99L, 1.0)).toDF("id", "y"))
    val aug2 = aug :+ ((Array.fill(6)(0.0) :+ 1.0, 1.0))
    val exact = exactSolve(aug2, lambda = 1.0)
    for (limit <- Seq(0, SparseRidge.DenseLimit)) {
      val m = SparseRidge.fit(feat, labels2, lambda = 1.0, iters = 16, denseLimit = limit)
      val got = m.weights :+ m.bias
      got.zip(exact).zipWithIndex.foreach { case ((g, e), j) =>
        assert(math.abs(g - e) < 1e-6,
          s"w($j) with a bias-only doc (denseLimit=$limit): got $g vs exact $e")
      }
    }
  }

  test("SparseDotRef compiles under codegen-fallback-disabled in BOTH nullability shapes") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // non-nullable child — the r13 bug's trigger (nullSafeCodeGen's
      // else branch replaces ev.isNull AFTER template interpolation;
      // referencing it left an undeclared identifier and a silent
      // interpreter fallback): the CG fit path drives exactly this shape
      val (feat, labels, _) = smallSystem
      val m = SparseRidge.fit(feat, labels, iters = 4, denseLimit = 0)
      assert(SparseRidge.score(feat, m).count() === 40)
      // element-nullable child: the null-check/break branches must also
      // compile, and a null element nulls the fold (never a partial sum)
      val vec = IndexedSeq(2.0, 3.0)
      def dot(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SparseDotRef(
            org.apache.spark.sql.GraftSqlBridge.expression(c), vec))
      val rows = Seq(0, 1).toDF("i").select(col("i"),
        when(col("i") === 0,
          array(struct(lit(0).as("j"), lit(1.0).as("v")),
            lit(null).cast("struct<j:int,v:double>")))
        .otherwise(
          array(struct(lit(0).as("j"), lit(1.0).as("v")),
            struct(lit(1).as("j"), lit(0.5).as("v")))).as("fs"))
        .select(col("i"), dot(col("fs")).as("s"))
        .orderBy("i").collect()
      assert(rows(0).isNullAt(1), "a null element must null the fold")
      assert(rows(1).getDouble(1) === 1.0 * 2.0 + 0.5 * 3.0)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("SparseDotDimRef: codegen-fallback-disabled, slot rule, miss fails loud") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // the raw-dim fit fold (round-18 prefix fusion): slots resolved by
      // binary search over the sorted active dims, the Long.MaxValue
      // bias sentinel maps to the trailing slot, and the fold equals the
      // dense-index fold on the same logical rows
      val dims = IndexedSeq(7L, 100L, 4096L)
      val vec = IndexedSeq(2.0, 3.0, 5.0, 11.0) // 3 dims + bias
      def dot(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SparseDotDimRef(
            org.apache.spark.sql.GraftSqlBridge.expression(c), dims, vec))
      val rows = Seq(1).toDF("i").select(
        dot(array(
          struct(lit(7L).as("dim"), lit(1.0).as("v")),
          struct(lit(4096L).as("dim"), lit(0.5).as("v")),
          struct(lit(Long.MaxValue).as("dim"), lit(1.0).as("v")))).as("s"))
        .collect()
      assert(rows(0).getDouble(0) === 1.0 * 2.0 + 0.5 * 5.0 + 1.0 * 11.0)
      // a dim outside the active set is a caller bug — loud, not a 0
      val err = intercept[Exception] {
        Seq(1).toDF("i").select(
          dot(array(struct(lit(8L).as("dim"), lit(1.0).as("v")))).as("s"))
          .collect()
      }
      assert(err.getMessage.contains("not in the") ||
        Option(err.getCause).exists(_.getMessage.contains("not in the")))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("a feature dim equal to the bias sentinel fails instead of merging into the bias") {
    import spark.implicits._
    val feat = Seq((1L, 3L, 1.0), (2L, Long.MaxValue, 1.0)).toDF("id", "dim", "v")
    val labels = Seq((1L, 1.0), (2L, 0.0)).toDF("id", "y")
    val e = intercept[Exception] { SparseRidge.fit(feat, labels) }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("reserved for the bias term")), e.toString)
  }

  test("degenerate inputs fail fast") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("id", "dim", "v")
    val labels = Seq((1L, 1.0)).toDF("id", "y")
    intercept[IllegalArgumentException] { SparseRidge.fit(empty, labels) }
    intercept[IllegalArgumentException] {
      SparseRidge.fit(Seq((1L, 0L, 1.0)).toDF("id", "dim", "v"), labels, lambda = 0.0)
    }
  }
}
