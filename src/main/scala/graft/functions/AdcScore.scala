package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native codegen PQ asymmetric-distance (ADC) accumulation — the
  * fused twin of the per-pair HOF fold
  * `aggregate(sequence(1, m), 0.0, (acc, s) ->
  *    acc + lut[s][codes[s] + 1])`,
  * which evaluates ~m interpreted element_at chains per (query,
  * vector) pair — the inner loop of the compressed-domain ANN scan
  * (~180 µs/pair measured at r13; this is the op the PQ design exists
  * to make cheap).
  *
  * Arithmetic replicated exactly: acc starts at 0.0 and adds
  * lut[s][codes[s]] for s = 0..m−1 in order (serial IEEE adds, same
  * order as the sequence fold). Null lut/codes → null like the HOF.
  * A lut and codes of different lengths, a null element or an
  * out-of-range code cannot occur by construction (encode emits exactly
  * m in-range codes, the LUT has m rows of nCode entries); on such
  * inputs this returns null.
  */
case class AdcScore(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType | LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_adc_score requires (array<array<double>>, array<int|long>), got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc_score"

  private lazy val codesAreLong = right.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(lutAny: Any, codesAny: Any): Any =
    AdcScore.compute(lutAny.asInstanceOf[ArrayData],
      codesAny.asInstanceOf[ArrayData], codesAreLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val res = ctx.freshName("adc")
      s"""
         |Object $res = graft.functions.AdcScore.compute($lut, $codes, $codesAreLong);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) $res).doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AdcScore = copy(left = newLeft, right = newRight)
}

object AdcScore {

  /** Shared eval/codegen kernel; null (boxed) when the lengths differ or
    * a lookup falls outside the table, mirroring the HOF fold's poisoned
    * accumulator. */
  def compute(lut: ArrayData, codes: ArrayData, codesAreLong: Boolean): java.lang.Double = {
    val m = codes.numElements()
    if (lut.numElements() != m) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s) || lut.isNullAt(s)) return null
      val c = if (codesAreLong) codes.getLong(s).toInt else codes.getInt(s)
      val row = lut.getArray(s)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      acc += row.getDouble(c)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Column-API entry point. */
  def apply(lut: Column, codes: Column): Column =
    Bridge.column(AdcScore(Bridge.expression(lut), Bridge.expression(codes)))

  /** SQL registration: `graft_adc_score(lut, codes)`. */
  val registration: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("graft_adc_score"),
    new ExpressionInfo(classOf[AdcScore].getName, "graft_adc_score"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_adc_score takes (lut, codes)")
      AdcScore(children(0), children(1))
    })
}
