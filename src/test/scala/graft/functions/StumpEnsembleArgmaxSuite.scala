package graft.functions

import graft.SparkSpec
import graft.ml.{AdaBoostMH, AdaBoostMHModel, DecisionStump}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Edge semantics and plan shape of the stump-ensemble scoring expression
  * behind AdaBoostMH.predictColumn. */
class StumpEnsembleArgmaxSuite extends SparkSpec {

  private val k = AdaBoostMH.NumLabels

  // one stump on feature 2: x(2) > 0.5 votes +1 for label 0 and -1 for the
  // rest (argmax 0); otherwise every vote flips and labels 1..9 tie at +1
  // (argmax 1, the lowest)
  private val one = Array(DecisionStump(2, 0.5, 1.0, Array.tabulate(k)(l => if (l == 0) 1 else -1)))

  private def rows(xs: Seq[Any]*): DataFrame = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val data = xs.zipWithIndex.map { case (x, i) =>
      Row(i, if (x == null) null else x.map(_.asInstanceOf[java.lang.Double]))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def predict(stumps: Array[DecisionStump], df: DataFrame): Seq[Int] =
    df.select(col("id"), AdaBoostMH.predictColumn(stumps, col("embedding")).as("p"))
      .collect().sortBy(_.getInt(0)).map(_.getInt(1)).toSeq

  private def randomStumps(t: Int, seed: Long): Array[DecisionStump] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(t)(DecisionStump(rnd.nextInt(64), rnd.nextGaussian() * 0.5,
      rnd.nextDouble(), Array.fill(k)(if (rnd.nextBoolean()) 1 else -1)))
  }

  test("a NaN feature votes +w; -0.0 equals a 0.0 threshold; null array and null element vote -w") {
    val zero = Array(one.head.copy(threshold = 0.0))
    val df = rows(Seq(0.0, 0.0, 1.0), Seq(0.0, 0.0, 0.0), Seq(0.0, 0.0, Double.NaN),
      null, Seq(0.0, 0.0, null))
    assert(predict(one, df) === Seq(0, 1, 0, 1, 1))
    // Spark's double ordering: -0.0 is not greater than 0.0, NaN is
    assert(predict(zero, rows(Seq(0.0, 0.0, -0.0), Seq(0.0, 0.0, Double.NaN))) === Seq(1, 0))
  }

  test("a null array still gets a label: every vote is -w") {
    // the reference scorer on an all -Inf row, where no comparison holds,
    // casts exactly the votes a null array must
    val st = randomStumps(25, seed = 3)
    val got = predict(st, rows(null)).head
    val f = AdaBoostMH.scoreVector(st, Seq.fill(64)(Double.NegativeInfinity), k)
    assert(got === f.indices.maxBy(l => (f(l), -l)))
  }

  test("an array too short for a stump throws, naming the feature index") {
    val e = intercept[Exception](predict(one, rows(Seq(1.0, 2.0))))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("feature index 2")), e.toString)
  }

  test("interpreted eval agrees with the generated code") {
    val st = randomStumps(40, seed = 5)
    val rnd = new scala.util.Random(11)
    val xs: Seq[Seq[Any]] = Seq.fill(50)(Seq.fill(64)(rnd.nextGaussian() * 0.5)) ++
      Seq(null, Seq.fill(64)(Double.NaN), Seq.fill(64)(null))
    val df = rows(xs: _*)
    val compiled = predict(st, df)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(key => key -> spark.conf.getOption(key))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try predict(st, df) finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
    assert(interpreted === compiled)
  }

  test("plan: no UDF, one expression node whatever T, predictions identical to predictUdf") {
    val df = spark.range(0, 500).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(((id * 37 + j * 17) % 101 - 50) / 50.0 AS FLOAT))")
        .as("embedding"))
    def treeSize(t: Int): Int = {
      val st = randomStumps(t, seed = t)
      val scored = new AdaBoostMHModel("m", st).transform(df)
      val plan = scored.queryExecution.executedPlan.toString
      assert(!plan.contains("UDF"), plan)
      val u = df.select(col("vec_id"),
        AdaBoostMH.predictUdf(st)(col("embedding").cast("array<double>")).as("u"))
      assert(scored.join(u, "vec_id").filter(col("u") =!= col("pred_label")).count() === 0L)
      scored.queryExecution.analyzed.collect {
        case p => p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    }
    assert(treeSize(10) === treeSize(400))
  }
}
