package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Argmax label of a decision-stump ensemble over an `array<double>`
  * feature row: the scoring kernel of [[graft.ml.AdaBoostMH]].
  *
  * The model rides the expression as three packed primitive arrays,
  * attached through `ctx.addReferenceObj` (the [[PqEncode]] /
  * [[SparseDotRef]] pattern): `feature(t)` and `threshold(t)` per round,
  * and `weight(t·k + l)` = α_t·v_tl per (round, label). The expression
  * tree is one node over its child whatever the number of rounds T, so
  * planning and codegen cost O(1) in T; each row runs one T·K loop. The
  * T·K-branch `when` tree it replaces grew the plan with every round.
  *
  * Arithmetic, fixed so that predictions stay bit-identical:
  *   - F_l folds the terms ±α_t·v_tl in round order, starting FROM the
  *     first term (starting from 0.0 would turn a −0.0 sum into +0.0);
  *   - x_j > θ_t is Spark's double ordering: NaN is greater than every
  *     threshold, and −0.0 equals 0.0;
  *   - argmax takes the first label whose F_l is the maximum under the
  *     same ordering, so ties go to the lowest label.
  *
  * Edge semantics: a null array or a null element is "not greater", a
  * −w vote, so a null row still gets a label (the result is never null).
  * An array too short for a stump's feature index throws, naming the
  * index: a model applied to the wrong feature width is a caller error.
  *
  * The generated code calls [[StumpEnsembleArgmax.score]], the same
  * method the interpreted path calls, so the two cannot diverge.
  */
case class StumpEnsembleArgmax(child: Expression, feature: IndexedSeq[Int],
                               threshold: IndexedSeq[Double],
                               weight: IndexedSeq[Double], numLabels: Int)
  extends UnaryExpression {

  @transient private lazy val featureArr: Array[Int] = feature.toArray
  @transient private lazy val thresholdArr: Array[Double] = threshold.toArray
  @transient private lazy val weightArr: Array[Double] = weight.toArray

  override def prettyName: String = "stump_ensemble_argmax"

  // the packed arrays hold T·K numbers; print the shape, not the model
  override def toString: String =
    s"$prettyName($child, rounds=${feature.length}, labels=$numLabels)"
  override def sql: String =
    s"$prettyName(${child.sql}, ${feature.length}, $numLabels)"

  override def checkInputDataTypes(): TypeCheckResult =
    if (feature.isEmpty || numLabels < 1 || threshold.length != feature.length ||
        weight.length != feature.length * numLabels)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: need T >= 1 rounds, K >= 1 labels, T thresholds and T*K weights; " +
        s"got T=${feature.length}, K=$numLabels, ${threshold.length} thresholds, " +
        s"${weight.length} weights")
    else child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double>, got ${other.sql}")
    }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    StumpEnsembleArgmax.score(child.eval(input).asInstanceOf[ArrayData],
      featureArr, thresholdArr, weightArr, numLabels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val featureRef = ctx.addReferenceObj("stumpFeature", featureArr, "int[]")
    val thresholdRef = ctx.addReferenceObj("stumpThreshold", thresholdArr, "double[]")
    val weightRef = ctx.addReferenceObj("stumpWeight", weightArr, "double[]")
    val kernel = "graft.functions.StumpEnsembleArgmax$.MODULE$.score"
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = $kernel(${c.isNull} ? null : ${c.value},
      |  $featureRef, $thresholdRef, $weightRef, $numLabels);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): StumpEnsembleArgmax =
    copy(child = newChild)
}

object StumpEnsembleArgmax {

  /** argmax_l Σ_t (x(feature(t)) > threshold(t) ? +1 : −1)·weight(t·k + l),
    * with the fold order, comparison and tie rule of the class doc. `x`
    * may be null (every vote −w). */
  def score(x: ArrayData, feature: Array[Int], threshold: Array[Double],
            weight: Array[Double], k: Int): Int = {
    val n = if (x == null) 0 else x.numElements()
    val f = new Array[Double](k)
    var t = 0
    while (t < feature.length) {
      val j = feature(t)
      val up = x != null && {
        if (j < 0 || j >= n)
          throw new IllegalArgumentException(
            s"stump_ensemble_argmax: feature index $j is out of range for an array of $n elements")
        !x.isNullAt(j) && SQLOrderingUtil.compareDoubles(x.getDouble(j), threshold(t)) > 0
      }
      val base = t * k
      var l = 0
      while (l < k) {
        val w = weight(base + l)
        val term = if (up) w else -w
        f(l) = if (t == 0) term else f(l) + term
        l += 1
      }
      t += 1
    }
    var best = 0
    var l = 1
    while (l < k) {
      if (SQLOrderingUtil.compareDoubles(f(l), f(best)) > 0) best = l
      l += 1
    }
    best
  }
}
