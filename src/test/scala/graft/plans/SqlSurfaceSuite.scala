package graft.plans

import graft.SparkSpec
import graft.operators.{AsOfJoin, GroupLimits}
import org.apache.spark.sql.functions._

/** SQL table-valued access to the whole operators: the SQL round trip must
  * equal the Scala API exactly, plan the same custom exec, and reject bad
  * arguments with messages naming the SQL function. */
class SqlSurfaceSuite extends SparkSpec {

  private def orders = graft.Tables(spark, "/root/testdata/sf0.001", "orders")
    .select("o_custkey", "o_orderkey", "o_totalprice")

  test("graft_topk_per_key: TABLE(...) form equals the Scala API, plans the heap exec") {
    orders.createOrReplaceTempView("sql_orders")
    val sql = spark.sql(
      """SELECT * FROM graft_topk_per_key(
        |  TABLE(SELECT * FROM sql_orders), 'o_custkey', 'o_totalprice DESC, o_orderkey', 3)
        |""".stripMargin)
    assert(sql.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      sql.queryExecution.executedPlan.toString)
    val scala0 = GroupLimits.topKPerKey(orders, Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
    assert(sql.orderBy("o_custkey", "o_orderkey").collect().map(_.toSeq).toSeq ===
      scala0.orderBy("o_custkey", "o_orderkey").collect().map(_.toSeq).toSeq)
  }

  test("graft_topk_per_key: table-name string form and with_ties") {
    val s = spark
    import s.implicits._
    Seq((1L, 10L, 30.0), (1L, 11L, 30.0), (1L, 12L, 50.0), (1L, 13L, 20.0),
      (2L, 20L, 5.0)).toDF("k", "id", "v").createOrReplaceTempView("sql_ties")
    val sql = spark.sql(
      "SELECT * FROM graft_topk_per_key('sql_ties', 'k', 'v DESC', 2, true)")
    // rank()<=2 keeps BOTH 30.0 ties in key 1
    val got = sql.orderBy("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L)))
  }

  test("graft_asof_backward: SQL round trip equals the Scala operator") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 150L, "c"))
      .toDF("user_id", "ts", "tag")
    val right = Seq((1L, 90L, 7L, 1.0), (1L, 200L, 8L, 2.0), (2L, 160L, 9L, 3.0))
      .toDF("user_id", "ts", "event_id", "value")
    left.createOrReplaceTempView("sql_asof_l")
    right.createOrReplaceTempView("sql_asof_r")
    val sql = spark.sql(
      """SELECT * FROM graft_asof_backward(
        |  TABLE(SELECT * FROM sql_asof_l), TABLE(SELECT * FROM sql_asof_r),
        |  'user_id', 'ts', 'ts', 'event_id')""".stripMargin)
    val api = AsOfJoin.asofBackward(left, right, "user_id", "ts", "ts", "event_id")
    assert(sql.columns.toSeq === api.columns.toSeq)
    assert(sql.orderBy("user_id", "ts").collect().map(_.toSeq).toSeq ===
      api.orderBy("user_id", "ts").collect().map(_.toSeq).toSeq)
    // backward-inclusive semantics spot check: left (1, 200) sees right ts=200
    val m = sql.filter(col("user_id") === 1 && col("ts") === 200).collect()(0)
    assert(m.getAs[Long]("r_event_id") === 8L)
    // left (2, 150) has no right row at or before 150 -> nulls
    val none = sql.filter(col("user_id") === 2).collect()(0)
    assert(none.isNullAt(none.fieldIndex("r_event_id")))
  }

  test("table-name strings go through the SQL identifier parser (backticked dotted names)") {
    import spark.implicits._
    // a view whose NAME contains a dot: a naive '.'-split would resolve it
    // as schema `my` table `view` and fail; backticks must keep it 1-part
    Seq((1L, 10L, 2.0), (1L, 11L, 1.0), (2L, 20L, 5.0))
      .toDF("k", "id", "v").createOrReplaceTempView("sql_dotted_base")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW `my.view` AS SELECT * FROM sql_dotted_base")
    val rows = spark.sql(
      "SELECT * FROM graft_topk_per_key('`my.view`', 'k', 'v DESC', 1)")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 10L), (2L, 20L)))
  }

  test("argument validation names the SQL function") {
    orders.createOrReplaceTempView("sql_orders")
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_topk_per_key(TABLE(SELECT * FROM sql_orders), 'o_custkey', 'o_totalprice SIDEWAYS', 3)").collect())
    assert(e1.getMessage.contains("graft_topk_per_key"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof_backward('sql_orders', 'sql_orders', 'o_custkey', 'o_orderkey')").collect())
    assert(e2.getMessage.contains("graft_asof_backward"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_dedup_against('somewhere')").collect())
    assert(e3.getMessage.contains("graft_dedup_against"), e3.getMessage)
    val e4 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_ivf_search('somewhere', 'sql_orders', 5)").collect())
    assert(e4.getMessage.contains("graft_ivf_search"), e4.getMessage)
  }

  test("graft_dedup_against: SQL round trip equals the Scala index operator") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val corpusA = docs.filter(col("doc_id") % 5 =!= 0)
    val batchB = docs.filter(col("doc_id") % 5 === 0)
    val path = java.nio.file.Files.createTempDirectory("graft-sql-dedup-idx").toString
    graft.operators.DedupIndex.build(corpusA, path)
    batchB.createOrReplaceTempView("sql_dedup_batch")
    val sql = spark.sql(
      s"SELECT * FROM graft_dedup_against('$path', TABLE(SELECT * FROM sql_dedup_batch))")
    val api = graft.operators.DedupIndex.dedupAgainst(path, batchB)
    assert(sql.columns.toSeq === api.columns.toSeq)
    val got = sql.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = api.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty, "fixture must actually contain cross-batch near-dups")
  }

  test("graft_ivf_search: SQL round trip equals the Scala index operator") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = emb.filter(col("vec_id") >= 10)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft-sql-ivf-idx").toString
    graft.ml.IvfIndex.buildIndex(corpus, k = 8, iters = 3, dir)
    queries.createOrReplaceTempView("sql_ivf_q")
    val sql = spark.sql(
      s"SELECT * FROM graft_ivf_search('$dir', TABLE(SELECT * FROM sql_ivf_q), 5, 2)")
    val api = graft.ml.IvfIndex.searchIndex(spark, dir, queries, topK = 5, nprobe = 2)
    assert(sql.columns.toSeq === api.columns.toSeq)
    val got = sql.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val want = api.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got === want)
    assert(got.nonEmpty)
    // the 5-arg FILTERED form (allowlist TABLE) round-trips too
    emb.filter(col("vec_id") >= 10 && col("label") === 3).select("vec_id")
      .createOrReplaceTempView("sql_ivf_allow")
    val sqlF = spark.sql(
      s"SELECT * FROM graft_ivf_search('$dir', TABLE(SELECT * FROM sql_ivf_q), 5, 8, " +
        "TABLE(SELECT * FROM sql_ivf_allow))")
    val apiF = graft.ml.IvfIndex.searchIndex(spark, dir, queries, topK = 5,
      nprobe = 8, allowed = Some(spark.table("sql_ivf_allow")))
    val gotF = sqlF.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val wantF = apiF.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(gotF === wantF)
    assert(gotF.nonEmpty)
    val allowedIds = spark.table("sql_ivf_allow").collect().map(_.getLong(0)).toSet
    assert(gotF.map(_._3).forall(allowedIds.contains))
  }

  test("graft_pq_search: SQL round trip equals the Scala IVF-PQ operator") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = emb.filter(col("vec_id") >= 10)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft-sql-pq-idx").toString
    graft.ml.IvfIndex.buildPqIndex(corpus, k = 8, iters = 3,
      m = 16, ksub = 16, pqIters = 3, dir)
    queries.createOrReplaceTempView("sql_pq_q")
    val sql = spark.sql(
      s"SELECT * FROM graft_pq_search('$dir', TABLE(SELECT * FROM sql_pq_q), 5, 2)")
    val api = graft.ml.IvfIndex.searchPqIndex(spark, dir, queries, topK = 5, nprobe = 2)
    assert(sql.columns.toSeq === api.columns.toSeq)
    val got = sql.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val want = api.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got === want)
    assert(got.nonEmpty)
    // the 5-arg re-rank form round-trips too (keepFloat build)
    val dirRr = java.nio.file.Files.createTempDirectory("graft-sql-pq-rr").toString
    graft.ml.IvfIndex.buildPqIndex(corpus, k = 8, iters = 3,
      m = 16, ksub = 16, pqIters = 3, dirRr, keepFloat = true)
    val sqlRr = spark.sql(
      s"SELECT * FROM graft_pq_search('$dirRr', TABLE(SELECT * FROM sql_pq_q), 5, 2, 25)")
    val apiRr = graft.ml.IvfIndex.searchPqIndex(spark, dirRr, queries,
      topK = 5, nprobe = 2, rerank = 25)
    val gotRr = sqlRr.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val wantRr = apiRr.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(gotRr === wantRr)
    assert(gotRr.nonEmpty)
  }

  test("graft_mmr: SQL round trip equals the Scala diversity re-rank") {
    import spark.implicits._
    Seq((1L, 10L, 0.9), (1L, 11L, 0.89), (1L, 12L, 0.5), (1L, 13L, 0.4))
      .toDF("q_id", "c_id", "rel").createOrReplaceTempView("sql_mmr_cands")
    val half = Seq(
      (1L, 10L, 11L, 0.99), (1L, 10L, 12L, 0.1), (1L, 10L, 13L, 0.0),
      (1L, 11L, 12L, 0.1), (1L, 11L, 13L, 0.0), (1L, 12L, 13L, 0.2))
    (half ++ half.map { case (q, a, b, s) => (q, b, a, s) })
      .toDF("q_id", "a", "b", "sim").createOrReplaceTempView("sql_mmr_sims")
    val sql = spark.sql(
      "SELECT * FROM graft_mmr(TABLE(SELECT * FROM sql_mmr_cands), " +
        "TABLE(SELECT * FROM sql_mmr_sims), 3, 0.5)")
    val api = graft.queries.LlmOps.mmrRerank(
      spark.table("sql_mmr_cands"), spark.table("sql_mmr_sims"),
      k = 3, lambda = 0.5)
    assert(sql.columns.toSeq === api.columns.toSeq)
    val got = sql.orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = api.orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === want)
    assert(got.map(_._3) === Seq(10L, 12L, 13L)) // the hand-worked greedy
    // default-lambda 3-arg form parses and runs
    assert(spark.sql("SELECT * FROM graft_mmr(TABLE(SELECT * FROM sql_mmr_cands), " +
      "TABLE(SELECT * FROM sql_mmr_sims), 2)").count() === 2L)
  }

  test("graft_kcenter: SQL round trip equals the Scala sampler") {
    import spark.implicits._
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.99, 0.14)),
        (2L, Seq(0.0, 1.0)), (3L, Seq(0.7, 0.7)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("sql_kc_emb")
    val sql = spark.sql(
      "SELECT * FROM graft_kcenter(TABLE(SELECT * FROM sql_kc_emb), 3)")
    val api = graft.queries.LlmOps.kCenterSample(spark.table("sql_kc_emb"), k = 3)
    assert(sql.columns.toSeq === api.columns.toSeq)
    val got = sql.orderBy("rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === api.orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(got.map(_._2) === Seq(0L, 2L, 3L)) // the hand-worked greedy
  }

  test("graft_domain_cap: SQL round trip equals the Scala operator incl. the blocklist") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    docs.createOrReplaceTempView("sql_dc_docs")
    val sql = spark.sql("SELECT * FROM graft_domain_cap(" +
      "TABLE(SELECT * FROM sql_dc_docs), 15, 'src2, src17')")
    val api = graft.queries.LlmOps.domainCap(docs, cap = 15,
      blocked = Seq("src2", "src17"))
    assert(sql.columns.toSeq === api.columns.toSeq)
    def key(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val got = key(sql)
    assert(got === key(api) && got.nonEmpty)
    assert(!got.exists(r => r(1) == "src2" || r(1) == "src17"))
  }

  test("graft_domain_cap_url / graft_registrable_domain / graft_frontier_batches round trips") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://www.ex.co.uk/a", "alpha beta gamma delta"),
      (2L, "https://news.ex.co.uk/b", "alpha beta"),
      (3L, "http://blocked.com/x", "alpha beta gamma"),
      (4L, "https://y.github.io/p", "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "url", "text")
    docs.createOrReplaceTempView("sql_dcu_docs")
    val sql = spark.sql("SELECT * FROM graft_domain_cap_url(" +
      "TABLE(SELECT * FROM sql_dcu_docs), 1, 'blocked.com')")
    val api = graft.queries.LlmOps.domainCapUrl(docs, cap = 1,
      blockedDomains = Seq("blocked.com"))
    assert(sql.columns.toSeq === api.columns.toSeq)
    def key(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val got = key(sql)
    assert(got === key(api) && got.nonEmpty)
    // www/news share the ex.co.uk quota (cap 1 keeps one of them),
    // the blocklist is domain-keyed, github.io user survives
    assert(!got.exists(_(1) == "blocked.com"))
    assert(got.count(_(1) == "ex.co.uk") === 1)

    val dom = spark.sql("SELECT * FROM graft_registrable_domain(" +
      "TABLE(SELECT url FROM sql_dcu_docs))").orderBy("url")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(dom === Seq(
      ("blocked.com", "blocked.com"),
      ("news.ex.co.uk", "ex.co.uk"),
      ("www.ex.co.uk", "ex.co.uk"),
      ("y.github.io", "y.github.io")))

    docs.select(graft.queries.LlmOps.canonicalizeUrl(col("url")).as("canon"))
      .createOrReplaceTempView("sql_fb_links")
    val fb = spark.sql("SELECT * FROM graft_frontier_batches(" +
      "TABLE(SELECT * FROM sql_fb_links), 1)")
    val fbApi = graft.queries.LlmOps.frontierBatches(
      spark.table("sql_fb_links"), perBatch = 1)
    assert(fb.columns.toSeq === fbApi.columns.toSeq)
    assert(fb.orderBy("canon").collect().map(_.toSeq).toSeq ===
      fbApi.orderBy("canon").collect().map(_.toSeq).toSeq)
    // per_batch=1: the two ex.co.uk links land in different batches
    assert(fb.filter(col("domain") === "ex.co.uk")
      .select("batch").distinct().count() === 2L)
  }

  test("graft_bpe: SQL round trip equals the Scala trainer on the Sennrich fixture") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      .createOrReplaceTempView("sql_bpe_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_bpe(TABLE(SELECT * FROM sql_bpe_docs), 4)")
    val got = sql.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, "e", "s", 9L), (2L, "es", "t", 9L),
      (3L, "l", "o", 7L), (4L, "lo", "w", 7L)))
  }

  test("graft_fuzzy_contamination: SQL round trip equals the Scala operator") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("sql_fc_train")
    docs.filter(col("doc_id") % 10 === 0).createOrReplaceTempView("sql_fc_eval")
    val sql = spark.sql(
      """SELECT * FROM graft_fuzzy_contamination(
        |  TABLE(SELECT * FROM sql_fc_train),
        |  TABLE(SELECT * FROM sql_fc_eval), 0.3)""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val api = graft.queries.LlmOps.fuzzyContamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
      .collect().map(_.toSeq).toSeq
    assert(sql === api && sql.nonEmpty)
  }

  test("graft_quality_probe: SQL round trip equals the Scala operator") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    docs.createOrReplaceTempView("sql_qp_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_quality_probe(TABLE(SELECT * FROM sql_qp_docs))")
      .collect().map(_.toSeq).toSeq
    val api = graft.queries.LlmOps.qualityProbe(docs)
      .collect().map(_.toSeq).toSeq
    assert(sql === api && sql.nonEmpty)
  }

  test("graft_quality_probe_wide: SQL round trip equals the Scala operator") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    docs.createOrReplaceTempView("sql_qpw_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_quality_probe_wide(TABLE(SELECT * FROM sql_qpw_docs))")
      .collect().map(_.toSeq).toSeq
    val api = graft.queries.LlmOps.qualityProbeWide(docs)
      .collect().map(_.toSeq).toSeq
    assert(sql === api && sql.nonEmpty)
  }

  test("graft_shard_assign: SQL round trip equals the Scala operator, non-default args") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    docs.createOrReplaceTempView("sql_shard_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_shard_assign(TABLE(SELECT * FROM sql_shard_docs), 8, 32) ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq
    val api = graft.queries.LlmOps.shardAssignment(docs, numShards = 8,
        orderBuckets = 32).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(sql === api && sql.nonEmpty)
  }

  test("graft_semantic_dedup: SQL round trip equals the Scala operator on a hand-worked fixture") {
    import spark.implicits._
    // one cluster around +x, one around +y; 10/11 near-dup in cluster 0
    // (11 closer to the centroid, so 10 — the edge example — is kept)
    Seq((10L, Seq(1.0, 0.05)), (11L, Seq(0.98, 0.02)),
        (12L, Seq(0.02, 1.0)), (13L, Seq(0.6, 0.62)))
      .toDF("vec_id", "v").createOrReplaceTempView("sql_sem_emb")
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cent_id", "centv").createOrReplaceTempView("sql_sem_cent")
    val sql = spark.sql("SELECT * FROM graft_semantic_dedup(" +
      "TABLE(SELECT * FROM sql_sem_emb), TABLE(SELECT * FROM sql_sem_cent), 0.99)")
    val api = graft.queries.LlmOps.semanticDedup(
      spark.table("sql_sem_emb"), spark.table("sql_sem_cent"), tau = 0.99)
    assert(sql.columns.toSeq === api.columns.toSeq)
    def key(df: org.apache.spark.sql.DataFrame) = df.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    val got = key(sql)
    assert(got === key(api))
    val kept = got.filter(_._5).map(_._1)
    assert(!kept.contains(11L) && kept.toSet === Set(10L, 12L, 13L),
      s"hand-worked SemDeDup keep set drifted: $got")
  }

  test("graft_ivf_staleness / graft_pca_staleness: SQL rows equal the Scala gauges") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = emb.filter(col("vec_id") >= 10)
    // IVF drift report
    val idxDir = java.nio.file.Files.createTempDirectory("graft-sql-stale-ivf").toString
    graft.ml.IvfIndex.buildIndex(corpus, k = 4, iters = 2, idxDir)
    val (bn, nn, mb, mn, ratio) = graft.ml.IvfIndex.staleness(spark, idxDir)
    val ivfRow = spark.sql(s"SELECT * FROM graft_ivf_staleness('$idxDir')").collect()
    assert(ivfRow.length === 1)
    assert((ivfRow.head.getLong(0), ivfRow.head.getLong(1), ivfRow.head.getDouble(2),
      ivfRow.head.getDouble(3), ivfRow.head.getDouble(4)) === ((bn, nn, mb, mn, ratio)))
    // PCA projection drift
    val pcaDir = java.nio.file.Files.createTempDirectory("graft-sql-stale-pca").toString + "/m"
    val model = graft.ml.Pca.fitRandomized(corpus, k = 8)
    graft.ml.Pca.saveModel(spark, model, pcaDir)
    val (n, cap, tot, frac) = graft.ml.Pca.staleness(corpus, model)
    corpus.createOrReplaceTempView("sql_stale_emb")
    val pcaRow = spark.sql(
      s"SELECT * FROM graft_pca_staleness('$pcaDir', TABLE(SELECT * FROM sql_stale_emb))")
      .collect()
    assert(pcaRow.length === 1)
    assert((pcaRow.head.getLong(0), pcaRow.head.getDouble(1), pcaRow.head.getDouble(2),
      pcaRow.head.getDouble(3)) === ((n, cap, tot, frac)))
    assert(frac > 0 && frac <= 1.0)
  }

  test("graft_probe_staleness: SQL row equals the Scala gauge") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sql-stale-probe")
      .toString + "/m"
    graft.queries.LlmOps.qualityProbeWideFreeze(docs, dir, buckets = 1L << 14)
    val (fitN, serveN, fm, sm, sd, shift) =
      graft.queries.LlmOps.qualityProbeWideStaleness(docs, dir)
    docs.createOrReplaceTempView("sql_stale_probe_docs")
    val row = spark.sql(
      s"SELECT * FROM graft_probe_staleness('$dir', TABLE(SELECT * FROM sql_stale_probe_docs))")
      .collect()
    assert(row.length === 1)
    assert((row.head.getLong(0), row.head.getLong(1), row.head.getDouble(2),
      row.head.getDouble(3), row.head.getDouble(4), row.head.getDouble(5))
      === ((fitN, serveN, fm, sm, sd, shift)))
    assert(shift === 0.0, "self-staleness through SQL must be exactly 0")
  }

  test("graft_knn_search: SQL round trip equals the Scala graph operator") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = emb.filter(col("vec_id") >= 50)
    val queries = emb.filter(col("vec_id") < 50)
    // the graph is any (id, nbr, sim) table — here the Scala build's,
    // registered as a view so SQL-only consumers can do the same
    val g = graft.ml.KnnGraph.build(corpus, k = 5, iters = 1).localCheckpoint()
    g.createOrReplaceTempView("sql_knn_graph")
    corpus.createOrReplaceTempView("sql_knn_corpus")
    queries.createOrReplaceTempView("sql_knn_q")
    val sql = spark.sql(
      """SELECT * FROM graft_knn_search('sql_knn_graph', 'sql_knn_corpus',
        |  TABLE(SELECT * FROM sql_knn_q), 5, 15, 2)""".stripMargin)
    val api = graft.ml.KnnGraph.search(g, corpus, queries, k = 5, beam = 15, rounds = 2)
    assert(sql.columns.toSeq === api.columns.toSeq)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    assert(sql.collect().map(key).toSet === api.collect().map(key).toSet)
    assert(sql.count() > 0)
    // argument validation names the function
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_knn_search('sql_knn_graph', 'sql_knn_corpus', 5)").collect())
    assert(e.getMessage.contains("graft_knn_search"), e.getMessage)
  }

  test("graft_knn_search_index: SQL by path equals the Scala searchIndex") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = emb.filter(col("vec_id") >= 50)
    val queries = emb.filter(col("vec_id") < 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-sql-idx").toString
    graft.ml.KnnGraph.buildIndex(corpus, k = 5, iters = 1, dir)
    queries.createOrReplaceTempView("sql_knn_idx_q")
    val sql = spark.sql(
      s"""SELECT * FROM graft_knn_search_index('$dir',
         |  TABLE(SELECT * FROM sql_knn_idx_q), 5, 15, 2)""".stripMargin)
    val api = graft.ml.KnnGraph.searchIndex(spark, dir, queries,
      k = 5, beam = 15, rounds = 2)
    assert(sql.columns.toSeq === api.columns.toSeq)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    assert(sql.collect().map(key).toSet === api.collect().map(key).toSet)
    assert(sql.count() > 0)
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_knn_search_index('$dir', 5)").collect())
    assert(e.getMessage.contains("graft_knn_search_index"), e.getMessage)
  }

  test("graft_pagerank: SQL round trip equals the Scala operator, default + explicit damping") {
    import spark.implicits._
    Seq(1L, 2L, 3L, 4L, 9L).toDF("id").createOrReplaceTempView("sql_pr_nodes")
    Seq(2L -> 1L, 3L -> 1L, 4L -> 1L, 1L -> 2L).toDF("src", "dst")
      .createOrReplaceTempView("sql_pr_edges")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), math.round(r.getDouble(1) * 1e12))
    val sql = spark.sql(
      "SELECT * FROM graft_pagerank('sql_pr_nodes', 'sql_pr_edges', 8)")
    val api = graft.operators.PageRank.run(
      spark.table("sql_pr_nodes"), spark.table("sql_pr_edges"), iters = 8)
    assert(sql.columns.toSeq === api.columns.toSeq)
    assert(sql.collect().map(key).toSet === api.collect().map(key).toSet)
    // an undecorated SQL fractional literal (DECIMAL) works as damping
    val damped = spark.sql(
      "SELECT * FROM graft_pagerank('sql_pr_nodes', 'sql_pr_edges', 8, 0.7)")
    val dampedApi = graft.operators.PageRank.run(
      spark.table("sql_pr_nodes"), spark.table("sql_pr_edges"),
      iters = 8, damping = 0.7)
    assert(damped.collect().map(key).toSet === dampedApi.collect().map(key).toSet)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_pagerank('sql_pr_nodes')").collect())
    assert(e.getMessage.contains("graft_pagerank"), e.getMessage)
  }

  test("graft_connected_components: SQL round trip equals the Scala operator") {
    import spark.implicits._
    // two components {1,2,3} and {7,8}, self-loop and dup edges ignored
    Seq(1L -> 2L, 2L -> 3L, 7L -> 8L, 8L -> 7L, 3L -> 3L).toDF("u", "v")
      .createOrReplaceTempView("sql_cc_edges")
    val sql = spark.sql(
      "SELECT * FROM graft_connected_components(TABLE(SELECT * FROM sql_cc_edges))")
    val (api, _) = graft.operators.ConnectedComponents.run(spark.table("sql_cc_edges"))
    assert(sql.columns.toSeq === api.columns.toSeq)
    val got = sql.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === api.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_connected_components('sql_cc_edges', 2)").collect())
    assert(e.getMessage.contains("graft_connected_components"), e.getMessage)
  }

  test("graft_label_propagation: SQL round trip equals the Scala operator") {
    import spark.implicits._
    Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id").createOrReplaceTempView("sql_lp_nodes")
    Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
      .toDF("src", "dst").createOrReplaceTempView("sql_lp_edges")
    val sql = spark.sql(
      "SELECT * FROM graft_label_propagation('sql_lp_nodes', 'sql_lp_edges', 4)")
    val api = graft.operators.LabelPropagation.run(
      spark.table("sql_lp_nodes"), spark.table("sql_lp_edges"), iters = 4)
    assert(sql.columns.toSeq === api.columns.toSeq)
    assert(sql.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      api.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_label_propagation('sql_lp_nodes')").collect())
    assert(e.getMessage.contains("graft_label_propagation"), e.getMessage)
  }

  test("graft_linear_probe: SQL round trip equals the Scala probe") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    emb.filter(col("vec_id") % 5 =!= 0).createOrReplaceTempView("sql_probe_train")
    emb.filter(col("vec_id") % 5 === 0).createOrReplaceTempView("sql_probe_score")
    val sql = spark.sql(
      "SELECT * FROM graft_linear_probe(TABLE(SELECT * FROM sql_probe_train), " +
        "TABLE(SELECT * FROM sql_probe_score))")
    val model = graft.ml.LinearProbe.fit(spark.table("sql_probe_train"))
    val api = graft.ml.LinearProbe.predict(spark.table("sql_probe_score"), model)
    assert(sql.columns.toSeq === api.columns.toSeq)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "pred", "margin").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(key(sql) === key(api))
    // explicit lambda: both literal spellings (DECIMAL and DOUBLE) accepted
    val reg = spark.sql(
      "SELECT * FROM graft_linear_probe('sql_probe_train', 'sql_probe_score', 0.5)")
    val regApi = graft.ml.LinearProbe.predict(spark.table("sql_probe_score"),
      graft.ml.LinearProbe.fit(spark.table("sql_probe_train"), lambda = 0.5))
    assert(key(reg) === key(regApi))
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_linear_probe('sql_probe_train')").collect())
    assert(e.getMessage.contains("graft_linear_probe"), e.getMessage)
  }

  test("graft_pca: SQL round trip equals the Scala projection") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    emb.createOrReplaceTempView("sql_pca_emb")
    val sql = spark.sql(
      "SELECT vec_id, proj FROM graft_pca(TABLE(SELECT * FROM sql_pca_emb), 2, true)")
    val api = graft.ml.Pca.transform(spark.table("sql_pca_emb"),
      graft.ml.Pca.fit(spark.table("sql_pca_emb"), 2), whiten = true)
      .select("vec_id", "proj")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).map(v => math.round(v * 1e9)))).toSet
    assert(rows(sql) === rows(api))
    // 4th arg selects the randomized solver — same one-code-path contract
    val sqlRnd = spark.sql(
      "SELECT vec_id, proj FROM graft_pca(TABLE(SELECT * FROM sql_pca_emb), 2, true, true)")
    val apiRnd = graft.ml.Pca.transform(spark.table("sql_pca_emb"),
      graft.ml.Pca.fitRandomized(spark.table("sql_pca_emb"), 2), whiten = true)
      .select("vec_id", "proj")
    assert(rows(sqlRnd) === rows(apiRnd))
    // the 4th arg also takes a solver NAME: 'matfree' = the d²-nowhere path
    val sqlMf = spark.sql(
      "SELECT vec_id, proj FROM graft_pca(TABLE(SELECT * FROM sql_pca_emb), 2, true, 'matfree')")
    val apiMf = graft.ml.Pca.transform(spark.table("sql_pca_emb"),
      graft.ml.Pca.fitMatFree(spark.table("sql_pca_emb"), 2), whiten = true)
      .select("vec_id", "proj")
    assert(rows(sqlMf) === rows(apiMf))
    val badSolver = intercept[Exception](spark.sql(
      "SELECT * FROM graft_pca(TABLE(SELECT * FROM sql_pca_emb), 2, true, 'qr')").collect())
    assert(badSolver.getMessage.contains("solver"), badSolver.getMessage)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_pca('sql_pca_emb')").collect())
    assert(e.getMessage.contains("graft_pca"), e.getMessage)
  }

  test("graft_community_labels: SQL by path equals the Scala labels read") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("sql-cidx").toString
    graft.operators.CommunityIndex.build(
      (1L to 4L).toDF("id"),
      Seq(1L -> 2L, 3L -> 4L).toDF("src", "dst"), path)
    graft.operators.CommunityIndex.append(
      spark.emptyDataFrame.select(lit(0L).as("id")).limit(0),
      Seq(2L -> 3L).toDF("src", "dst"), path)
    val sql = spark.sql(s"SELECT * FROM graft_community_labels('$path') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val api = graft.operators.CommunityIndex.labels(spark, path)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sql === api && sql.size === 4)
    // one more delta (edge 1-3) collapses everything into one community;
    // keepVersions=3 keeps all three watermarks for the AS-OF reads
    graft.operators.CommunityIndex.append(
      spark.emptyDataFrame.select(lit(0L).as("id")).limit(0),
      Seq(1L -> 3L).toDF("src", "dst"), path, keepVersions = 3)
    val head = spark.sql(s"SELECT * FROM graft_community_labels('$path')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(head(2L) === head(3L), s"head should be one community: $head")
    // optional version arg = the AS-OF read: version 0 predates the
    // bridges, so 2 and 3 still sit in different communities there
    val asOf = spark.sql(
      s"SELECT * FROM graft_community_labels('$path', 0) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val apiAt = graft.operators.CommunityIndex.labelsAt(spark, path, 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(asOf === apiAt)
    assert(asOf.toMap.apply(2L) !== asOf.toMap.apply(3L),
      s"v0 should predate the merge: $asOf")
    val pruned = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_community_labels('$path', 99)").collect())
    assert(pruned.getMessage.contains("not committed"), pruned.getMessage)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_community_labels('/definitely/not/an/index')").collect())
    assert(e.getMessage.contains("community index"), e.getMessage)
    // versions are Long watermarks with gaps allowed: a BIGINT version
    // literal reads a snapshot committed above Int.MaxValue
    graft.operators.CommunityIndex.advance(path, 3000000000L,
      spark.emptyDataFrame.select(lit(0L).as("id")).limit(0),
      Seq(4L -> 5L).toDF("src", "dst"), keepVersions = 3)
    val big = spark.sql(
      s"SELECT * FROM graft_community_labels('$path', 3000000000) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val apiBig = graft.operators.CommunityIndex.labelsAt(spark, path, 3000000000L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(big === apiBig && big.size === 5, big)
  }

  test("table-function registry: names are distinct and each one is registered") {
    val names = SqlSurface.tableFunctions.map(_._1)
    assert(names.size === 32 && names.distinct === names, names)
    val registry = spark.sessionState.tableFunctionRegistry
    names.foreach(n => assert(
      registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n))
    // a name given twice is refused where the registry is built, by name
    val twice = intercept[IllegalArgumentException](SqlSurface.distinctNames(
      Seq("graft_a" -> 1, "graft_b" -> 2, "graft_a" -> 3)))
    assert(twice.getMessage.contains("graft_a") && !twice.getMessage.contains("graft_b"),
      twice.getMessage)
  }

  test("graft_substr_spans: SQL round trip equals the gated query; args validated") {
    val sf = "/root/testdata/sf0.001"
    graft.Tables(spark, sf, "documents").createOrReplaceTempView("sql_substr_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_substr_spans(TABLE(SELECT * FROM sql_substr_docs)) " +
        "ORDER BY doc_id, span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val api = graft.SparkEntry.queries("q_dedup_substr")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sql === api && sql.nonEmpty)
    // explicit window + hashed keys reproduce the xxh production twin
    val sqlHash = spark.sql(
      "SELECT * FROM graft_substr_spans(TABLE(SELECT * FROM sql_substr_docs), 12, true) " +
        "ORDER BY doc_id, span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sqlHash === api)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_substr_spans(TABLE(SELECT * FROM sql_substr_docs), 1)").collect())
    assert(e.getMessage.contains("window"), e.getMessage)
  }

  test("graft_curate: SQL pipeline composition equals the gated q_curate") {
    val sf = "/root/testdata/sf0.001"
    graft.Tables(spark, sf, "documents").createOrReplaceTempView("sql_curate_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_curate(TABLE(SELECT * FROM sql_curate_docs))")
    val gate = graft.SparkEntry.queries("q_curate")(spark, sf)
    assert(sql.columns.toSeq === gate.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3))).toSet
    assert(rows(sql) === rows(gate),
      "graft_curate diverged from the gated curation pipeline")
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_curate('sql_curate_docs', 2)").collect())
    assert(e.getMessage.contains("graft_curate"), e.getMessage)
  }

  test("graft_asof_nearest and graft_asof_backward_split: SQL round trips equal the Scala operators") {
    import spark.implicits._
    Seq((1L, 10L, 100L), (1L, 11L, 200L), (2L, 20L, 50L))
      .toDF("k", "lid", "t").createOrReplaceTempView("sql_an_left")
    Seq((1L, 5L, 90L), (1L, 6L, 110L), (2L, 9L, 60L))
      .toDF("k", "rid", "t").createOrReplaceTempView("sql_an_right")
    val nearest = spark.sql(
      "SELECT * FROM graft_asof_nearest(TABLE(SELECT * FROM sql_an_left), " +
        "'sql_an_right', 'k', 'lid', 't', 't', 'rid')")
    val nearestApi = graft.operators.AsOfJoin.asofNearest(
      spark.table("sql_an_left"), spark.table("sql_an_right"),
      "k", "lid", "t", "t", "rid")
    assert(nearest.columns.toSeq === nearestApi.columns.toSeq)
    assert(nearest.collect().map(_.toSeq).toSet ===
      nearestApi.collect().map(_.toSeq).toSet)
    // slot width as a LONG literal (6h in micros overflows Int)
    val split = spark.sql(
      "SELECT * FROM graft_asof_backward_split('sql_an_left', 'sql_an_right', " +
        "'k', 't', 't', 'rid', 21600000000)")
    val splitApi = graft.operators.AsOfJoin.asofBackwardSplit(
      spark.table("sql_an_left"), spark.table("sql_an_right"),
      "k", "t", "t", "rid", 21600000000L)
    assert(split.columns.toSeq === splitApi.columns.toSeq)
    assert(split.collect().map(_.toSeq).toSet ===
      splitApi.collect().map(_.toSeq).toSet)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof_nearest('sql_an_left')").collect())
    assert(e.getMessage.contains("graft_asof_nearest"), e.getMessage)
  }
}
