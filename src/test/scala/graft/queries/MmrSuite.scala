package graft.queries

import graft.SparkSpec

/** [[LlmOps.mmrRerank]] against hand-worked greedy selections on a
  * crafted shortlist (λ=0.5, worked by hand from the MMR recurrence
  * mmr(c) = λ·rel(c) − (1−λ)·max over picked p of sim(c, p)):
  * the near-duplicate of the top pick must be SKIPPED, ties must break
  * to the lowest c_id, and λ=1 must degrade to pure relevance. */
class MmrSuite extends SparkSpec {

  import org.apache.spark.sql.functions._

  // q=1: 10 (rel .9) and 11 (rel .89) are near-dups (sim .99); 12/13 are
  // diverse. Greedy at λ=.5: pick 10 (mmr .45); then 11 scores
  // .445−.495=−.05 while 12/13 TIE at .2 → 12 by id; then 13 at
  // .2−.5·max(.0,.2)=.1. The pure-rel runner-up 11 never makes it.
  private def cands = {
    import spark.implicits._
    Seq((1L, 10L, 0.9), (1L, 11L, 0.89), (1L, 12L, 0.5), (1L, 13L, 0.4))
      .toDF("q_id", "c_id", "rel")
  }

  private def sims = {
    import spark.implicits._
    val half = Seq(
      (1L, 10L, 11L, 0.99), (1L, 10L, 12L, 0.1), (1L, 10L, 13L, 0.0),
      (1L, 11L, 12L, 0.1), (1L, 11L, 13L, 0.0), (1L, 12L, 13L, 0.2))
    (half ++ half.map { case (q, a, b, s) => (q, b, a, s) })
      .toDF("q_id", "a", "b", "sim")
  }

  test("hand-computed greedy: near-dup of the top pick skipped, tie to lowest id") {
    val got = LlmOps.mmrRerank(cands, sims, k = 3, lambda = 0.5)
      .orderBy("q_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 1L, 10L, 0.45), // pure relevance seed
      (1L, 2L, 12L, 0.2),  // beats 13 only on the c_id tie-break
      (1L, 3L, 13L, 0.1))) // 11 (rel rank 2!) never selected: mmr −0.05
  }

  test("lambda = 1 degrades to pure relevance top-k") {
    val got = LlmOps.mmrRerank(cands, sims, k = 3, lambda = 1.0)
      .orderBy("q_id", "rn")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 10L, 0.9), (2L, 11L, 0.89), (3L, 12L, 0.5)))
  }

  test("k-center: hand-worked greedy on a 2-d fixture; min-dist sequence non-increasing") {
    import spark.implicits._
    // seed = id 0 (lowest). (0,1) is orthogonal to it -> picked 2nd;
    // (.7,.7) sits between -> 3rd; (.99,.14) hugs the seed -> last.
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.99, 0.14)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(0.7, 0.7)))
      .toDF("vec_id", "embedding")
    val got = LlmOps.kCenterSample(emb, k = 4).orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.map(_._2).toSeq === Seq(0L, 2L, 3L, 1L))
    assert(got.head._3.isEmpty, "seed carries no distance")
    // Gonzalez invariant: each pick's min-dist to the selected set is
    // non-increasing (the greedy always takes the current farthest)
    val minds = got.flatMap(_._3)
    assert(minds.zip(minds.drop(1)).forall { case (a, b) => b <= a + 1e-12 },
      s"min-dist sequence must be non-increasing: ${minds.toSeq}")
    // k beyond the corpus exhausts it
    assert(LlmOps.kCenterSample(emb, k = 10).count() === 4L)
  }

  test("queries are independent groups; k beyond the shortlist returns what exists") {
    import spark.implicits._
    // q=2 reverses the relevance order — its greedy must not see q=1's picks
    val c2 = cands.unionByName(
      Seq((2L, 10L, 0.4), (2L, 11L, 0.89), (2L, 12L, 0.9)).toDF("q_id", "c_id", "rel"))
    val s2 = sims.unionByName(sims.filter(col("a") =!= 13 && col("b") =!= 13)
      .withColumn("q_id", lit(2L)))
    val got = LlmOps.mmrRerank(c2, s2, k = 3, lambda = 0.5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      }
    assert(got(1L) === Seq(10L, 12L, 13L))
    assert(got(2L).head === 12L, s"q=2 must seed from ITS OWN relevance: ${got(2L)}")
    assert(!got(2L).contains(13L), "q=2 has no candidate 13")
    // k larger than the shortlist: the selection simply exhausts it
    val exhausted = LlmOps.mmrRerank(cands, sims, k = 10, lambda = 0.5)
      .filter(col("q_id") === 1).count()
    assert(exhausted === 4L)
  }

  test("NaN relevance degrades identically on both paths (no crash)") {
    import spark.implicits._
    // an all-zero embedding yields 0/0 = NaN cosine; Spark's round()
    // passes NaN through — the driver-side r6 must too, not throw
    val c = Seq((1L, 10L, Double.NaN), (1L, 11L, 0.5), (1L, 12L, 0.4))
      .toDF("q_id", "c_id", "rel")
    val s = Seq((1L, 10L, 11L, 0.1), (1L, 11L, 10L, 0.1),
      (1L, 10L, 12L, 0.1), (1L, 12L, 10L, 0.1),
      (1L, 11L, 12L, 0.2), (1L, 12L, 11L, 0.2)).toDF("q_id", "a", "b", "sim")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rn").collect().map(r => (r.getLong(2), r.getDouble(3).isNaN)).toSeq
    val local = ids(LlmOps.mmrRerank(c, s, k = 3, lambda = 0.5))
    spark.conf.set("spark.graft.mmr.localLimit", "0")
    try assert(local === ids(LlmOps.mmrRerank(c, s, k = 3, lambda = 0.5)))
    finally spark.conf.unset("spark.graft.mmr.localLimit")
  }

  test("a localLimit at Int.MaxValue - 1 or above fails loudly, naming the setting") {
    spark.conf.set("spark.graft.mmr.localLimit", (Int.MaxValue - 1L).toString)
    val e =
      try intercept[IllegalArgumentException] { LlmOps.mmrRerank(cands, sims, k = 3, lambda = 0.5) }
      finally spark.conf.unset("spark.graft.mmr.localLimit")
    assert(e.getMessage.contains("spark.graft.mmr.localLimit"), e.getMessage)
  }

  test("driver-side fast path equals the distributed loop bit-for-bit (fixture + real corpus)") {
    def run(df: => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("q_id", "rn").collect().map(_.toSeq.toVector).toSeq
    def both(c: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame,
             k: Int, lambda: Double): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val local = run(LlmOps.mmrRerank(c, s, k, lambda)) // default limit: local
      spark.conf.set("spark.graft.mmr.localLimit", "0")  // force distributed
      try (local, run(LlmOps.mmrRerank(c, s, k, lambda)))
      finally spark.conf.unset("spark.graft.mmr.localLimit")
    }
    val (lf, df) = both(cands, sims, k = 3, lambda = 0.5)
    assert(lf === df, "paths diverged on the hand fixture")
    // the real gate inputs: q_search_mmr's shortlists at sf0.001 — runs
    // the rounding/tiebreak arithmetic over organic doubles
    graft.functions.VectorFunctions.register(spark)
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), expr("CAST(embedding AS array<double>)").as("v"))
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("v").as("qe"))
    val c = e.filter(col("vec_id") >= 10).select(col("vec_id").as("c_id"), col("v").as("ce"))
    val cos = "graft_dot(%s, %s) / sqrt(graft_dot(%s, %s) * graft_dot(%s, %s))"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rel").desc, col("c_id"))
    val cand2 = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        round(expr(cos.format("qe", "ce", "qe", "qe", "ce", "ce")), 4).as("rel"))
      .withColumn("rn0", row_number().over(w)).filter(col("rn0") <= 20)
      .select("q_id", "c_id", "rel")
    val cv = cand2.join(c, "c_id").select("q_id", "c_id", "ce")
    val sims2 = cv.select(col("q_id"), col("c_id").as("a"), col("ce").as("va"))
      .join(cv.select(col("q_id"), col("c_id").as("b"), col("ce").as("vb")), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(expr(cos.format("va", "vb", "va", "va", "vb", "vb")), 4).as("sim"))
    val (lr, dr) = both(cand2, sims2, k = 5, lambda = 0.7)
    assert(lr.nonEmpty && lr === dr, "paths diverged on the sf0.001 shortlists")
  }
}
