package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen random-hyperplane LSH bucket — the single-pass twin
  * of `Similarity.lshBucketDyn`'s HOF chain, which evaluates
  * nPlanes × dims interpreted expression nodes per vector
  * (element_at + the hyperplane-component integer hash + a fold
  * allocation per element; ~0.5 ms/vector measured at r13 across the
  * ANN / semantic-dedup family).
  *
  * Arithmetic is replicated EXACTLY (LshBucketSpec pins it against
  * the HOF twin): component(jj, i) =
  * ((jj·64 + i) · 2654435761) mod 1000000007 as double / 1000000007.0
  * − 0.5 (integer ops in long, one IEEE division); d_j = Σ_i
  * emb[i]·component(j+offset, i) accumulated serially in ascending i
  * (same IEEE order as the HOF fold); bit j set iff d_j ≥ 0.
  *
  * Null/edge semantics mirror the HOF forms bit-for-bit and make the
  * result provably NON-NULL (callers' coalesce(−1) never fires in
  * either form): nPlanes null or ≤ 0 → 0; null array, null element or
  * null offset → every d_j is null → no bit set → 0. More than 63 planes
  * is an error (a literal count fails analysis, a column value fails
  * the task): bit j is `1L << j`, which wraps past the sign bit. */
case class LshBucket(emb: Expression, nPlanes: Expression,
                     planeOffset: Expression) extends TernaryExpression {

  override def first: Expression = emb
  override def second: Expression = nPlanes
  override def third: Expression = planeOffset

  override def checkInputDataTypes(): TypeCheckResult = (emb.dataType,
      nPlanes.dataType, planeOffset.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType, IntegerType) =>
      val fixed = if (nPlanes.foldable) Option(nPlanes.eval()) else None
      if (fixed.exists(_.asInstanceOf[Int] > LshBucket.MaxPlanes))
        TypeCheckResult.TypeCheckFailure(s"graft_lsh_bucket supports at most " +
          s"${LshBucket.MaxPlanes} planes, got ${fixed.get}")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bucket requires (array<float|double>, int, int), got $other")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lsh_bucket"

  // lazy: children may be unresolved at construction (copy/transform)
  private lazy val isFloat = emb.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val nP = nPlanes.eval(input)
    if (nP == null || nP.asInstanceOf[Int] <= 0) return 0L
    val off = planeOffset.eval(input)
    if (off == null) return 0L
    val arr = emb.eval(input)
    if (arr == null) return 0L
    LshBucket.compute(arr.asInstanceOf[ArrayData], nP.asInstanceOf[Int],
      off.asInstanceOf[Int], isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val embGen = emb.genCode(ctx)
    val nPGen = nPlanes.genCode(ctx)
    val offGen = planeOffset.genCode(ctx)
    val flag = if (isFloat) "true" else "false"
    ev.copy(isNull = FalseLiteral, code =
      code"""
            |${embGen.code}
            |${nPGen.code}
            |${offGen.code}
            |long ${ev.value} = 0L;
            |if (!${embGen.isNull} && !${nPGen.isNull} && !${offGen.isNull} &&
            |    ${nPGen.value} > 0) {
            |  ${ev.value} = graft.functions.LshBucket.compute(
            |    ${embGen.value}, ${nPGen.value}, ${offGen.value}, $flag);
            |}
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): LshBucket =
    copy(emb = newFirst, nPlanes = newSecond, planeOffset = newThird)
}

object LshBucket {

  /** Planes that fit a non-negative long bucket id. */
  val MaxPlanes = 63

  /** Shared eval/codegen kernel — see the class doc for the exact
    * arithmetic contract. A null element zeroes every plane's sum in
    * the HOF form, so it returns 0 outright. */
  def compute(arr: ArrayData, nPlanes: Int, offset: Int,
              isFloat: Boolean): Long = {
    require(nPlanes <= MaxPlanes,
      s"graft_lsh_bucket supports at most $MaxPlanes planes, got $nPlanes")
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return 0L; i += 1 }
    val v = new Array[Double](n)
    i = 0
    if (isFloat) while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    else while (i < n) { v(i) = arr.getDouble(i); i += 1 }
    var bucket = 0L
    var j = 0
    while (j < nPlanes) {
      val jj = (j + offset).toLong
      var d = 0.0
      i = 0
      while (i < n) {
        val c = ((jj * 64L + (i + 1)) * 2654435761L) % 1000000007L
        d += v(i) * (c.toDouble / 1000000007.0 - 0.5)
        i += 1
      }
      if (d >= 0) bucket += 1L << j
      j += 1
    }
    bucket
  }

  /** Column-API entry point (dynamic plane count / offset). */
  def apply(emb: Column, nPlanes: Column, planeOffset: Column): Column =
    Bridge.column(LshBucket(Bridge.expression(emb),
      Bridge.expression(nPlanes), Bridge.expression(planeOffset)))

  /** SQL registration: `graft_lsh_bucket(emb, nPlanes, offset)`. */
  val registration: (org.apache.spark.sql.catalyst.FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("graft_lsh_bucket"),
    new ExpressionInfo(classOf[LshBucket].getName, "graft_lsh_bucket"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "graft_lsh_bucket takes (emb, nPlanes, offset)")
      LshBucket(children(0), children(1), children(2))
    })
}
