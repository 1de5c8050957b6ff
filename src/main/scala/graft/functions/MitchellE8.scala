package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegralDivide, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{least, lit}
import org.apache.spark.sql.types.{DataType, DecimalType, LongType}

/** Mitchell log2 with `bits` fraction bits ([[graft.ops.TextStats.E8Bits]]
  * for eighth-bit, [[graft.ops.TextStats.E256Bits]] for 1/256-bit) as
  * ONE codegen'd expression — the only way a Spark plan computes a
  * Mitchell log. It compiles to one static call of
  * [[graft.ops.TextStats.mitchellLong]] around
  * `Long.numberOfLeadingZeros`. The SQL CASE ladders
  * ([[graft.ops.TextStats.mitchellE8Sql]], `mitchellE256Sql`, ~130
  * generated branches per call) are the DuckDB twin's form and the
  * specs' reference: a projection that inlines several of them (q181's
  * Dunning G² carries 16 logs) blows janino's 64 KB method limit and
  * silently drops the whole stage to interpreted execution.
  * `MitchellE8Spec` pins this expression to the ladder and the mirror at
  * both resolutions. Below the domain floor 2^20 it returns the mirror's
  * clamped value, where the ladder extrapolates.
  */
case class MitchellE8(child: Expression, bits: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = s"graft_mitchell_e${1 << bits}"

  override protected def nullSafeEval(input: Any): Any =
    graft.ops.TextStats.mitchellLong(input.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.ops.TextStats.mitchellLong($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): MitchellE8 =
    copy(child = newChild)
}

object MitchellE8 {
  /** Eighth-bit form over a bigint column — [[graft.ops.TextStats.mitchellE8Sql]]. */
  def apply(c: Column): Column = of(c, graft.ops.TextStats.E8Bits)

  /** 1/256-bit form over a bigint column — [[graft.ops.TextStats.mitchellE256Sql]]. */
  def e256(c: Column): Column = of(c, graft.ops.TextStats.E256Bits)

  private def of(c: Column, bits: Int): Column =
    GraftBridge.column(MitchellE8(GraftBridge.expression(c), bits))

  /** log2(num / den) in eighth-bits, the smoothed-surprisal form every
    * Spark plan uses: m8(q) − 8·SHIFT over the fixed-point ratio
    * q = [[ratioQ]](num, den). Domain rules, one place for all callers:
    *  - the product num·2^SHIFT runs in DECIMAL(38,0) (HUGEINT in the
    *    twin), so corpus-scale counts cannot wrap before the division;
    *  - q is clamped to ≤ 2^62, so a ratio in [2^42, 2^43) saturates
    *    at 42 bits; the quotient itself lands in BIGINT, so the ratio
    *    must stay below 2^43;
    *  - num ≤ den gives 0: the Mitchell log clamps q < 2^SHIFT to the
    *    domain floor, so no caller wraps the ratio in a
    *    `greatest(…, 2^SHIFT)` of its own (the twin's ladder needs it:
    *    it extrapolates below the floor);
    *  - den = 0 and null inputs are the caller's guard
    *    (`greatest(n, 1)`, `+ 1` smoothing, counts): the division is
    *    not protected here, and `least` reads a null quotient as the
    *    cap.
    */
  def log2Ratio(num: Column, den: Column): Column =
    apply(ratioQ(num, den)) - lit(8L * graft.ops.TextStats.LmShift)

  /** [[log2Ratio]] in 1/256-bit units (m256(q) − 256·SHIFT), same domain
    * rules — for ratios near 1, where an eighth-bit is too coarse.
    */
  def log2RatioE256(num: Column, den: Column): Column =
    e256(ratioQ(num, den)) - lit(256L * graft.ops.TextStats.LmShift)

  /** The fixed-point ratio under [[log2Ratio]]:
    * least((CAST(num AS DECIMAL(38,0)) · 2^SHIFT) div den, 2^62), a
    * bigint. Exposed for callers that also RANK by the ratio itself
    * (ranking by its log would merge ties).
    */
  private[graft] def ratioQ(num: Column, den: Column): Column = {
    val scaled = num.cast(DecimalType(38, 0)) * lit(1L << graft.ops.TextStats.LmShift)
    least(GraftBridge.column(IntegralDivide(GraftBridge.expression(scaled),
      GraftBridge.expression(den))), lit(1L << 62))
  }

  /** Eighth-bit integer log2 of a POSITIVE count column — the native
    * form of [[graft.ops.TextStats.log2E8Sql]]:
    * m8(n·2^SHIFT) − 8·SHIFT. Same domain contract as the SQL emitter
    * (n ≥ 1; n·2^20 must stay under 2^63).
    */
  def log2E8(n: Column): Column = {
    val shift = graft.ops.TextStats.LmShift
    apply(n * lit(1L << shift)) - lit(8L * shift)
  }
}
