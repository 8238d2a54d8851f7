package graft.operators


import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ScaleJoinsSuite extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the in-memory catalog forgets tables across JVMs but the managed
    // location persists; remove it so saveAsTable doesn't refuse
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  test("bucketed fact-fact join plans with zero exchanges") {
    // warehouse.dir is static conf: the session's own (set per forked test
    // group by the build, else cwd spark-warehouse/) takes this catalog write
    Seq("b_lineitem", "b_orders").foreach(dropTable)
    val li = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val or = Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    ScaleJoins.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    ScaleJoins.writeBucketed(or, "b_orders", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ScaleJoins.bucketedEquiJoin(spark, "b_lineitem", "b_orders",
        "l_orderkey", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free plan:\n$plan")
      // and it still computes the right thing
      val expected = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dropHotKeys removes only over-cap groups and keeps everything else") {
    import spark.implicits._
    // key "hot" has 20 rows, "warm" exactly cap rows (kept: cap is
    // inclusive), "cold" one row; compound key variant below
    val df = ((1 to 20).map(i => ("hot", i)) ++ (1 to 5).map(i => ("warm", i)) ++
      Seq(("cold", 99))).toDF("k", "v")
    val kept = ScaleJoins.dropHotKeys(df, Seq("k"), cap = 5)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(kept === ((1 to 5).map(i => ("warm", i)) ++ Seq(("cold", 99))).toSet)
    // compound key: only the (1, "a") group exceeds the cap
    val df2 = ((1 to 4).map(i => (1, "a", i)) ++ Seq((1, "b", 5), (2, "a", 6)))
      .toDF("k1", "k2", "v")
    val kept2 = ScaleJoins.dropHotKeys(df2, Seq("k1", "k2"), cap = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(kept2 === Set((1, "b", 5), (2, "a", 6)))
  }

  test("salted join returns exactly the plain-join result under skew") {
    import spark.implicits._
    // pathological skew: 90% of the large side hits one key
    val large = (1 to 2000).map(i => (if (i <= 1800) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (1900L, "cold"), (9999L, "unmatched")).toDF("sk", "name")
    val plain = large.join(small, col("k") === col("sk"))
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    val salted = ScaleJoins.saltedJoin(large, small, "k", "sk", numSalts = 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.size === 1801) // 1800 hot + 1 cold
  }

  test("AQE splits a skewed sort-merge join at runtime (OptimizeSkewedJoin)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // 95% of the left side hits one key; thresholds lowered so the local
    // fixture trips the same skew handling a hot key trips at 100 TB
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val large = (1 to 200000).map(i => (if (i % 20 != 0) 1L else i.toLong, s"pad-$i-${"x" * 40}"))
        .toDF("k", "v")
      val right = (1L to 20000L).map(k => (k, s"r$k")).toDF("rk", "rv")
      val joined = large.join(right, col("k") === col("rk"))
      // execute THROUGH this DataFrame's own QueryExecution (count() would
      // build a fresh one and leave this plan un-adapted)
      val n = joined.collect().length
      // 190000 hot rows match rk=1; cold keys are multiples of 20, of which
      // those <= 20000 (1000 keys) match
      assert(n === 190000 + 1000)
      val adaptive = joined.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }.get
      val finalPlan = adaptive.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a runtime skew-split join:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join is deterministic across runs") {
    import spark.implicits._
    val large = (1 to 500).map(i => (i.toLong % 7, i)).toDF("k", "v")
    val small = (0L to 6L).map(k => (k, s"n$k")).toDF("sk", "name")
    val a = ScaleJoins.saltedJoin(large, small, "k", "sk", 4)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    val b = ScaleJoins.saltedJoin(large.repartition(13), small, "k", "sk", 4)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
