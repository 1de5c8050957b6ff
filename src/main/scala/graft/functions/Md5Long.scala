package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** First 8 bytes of md5(input), big-endian, as a signed long — the
  * native form of the oracle-parity element hash.
  *
  * Spark's built-in `md5` renders a 32-char hex string and `conv`
  * re-parses it (and `DigestUtils.md5Hex` instantiates a fresh
  * MessageDigest per row); hashing a 100 TB corpus through that path
  * spends more time in allocation than in MD5. This expression keeps a
  * thread-local digest and emits the long directly, inside whole-stage
  * codegen. Value identity with the oracle side:
  * `hash(s) = int(md5_hex(s)[0..16), 16)` reinterpreted as signed —
  * i.e. `hash & (2^61-1)` equals [[HashFns.duckB1]] of the hex digest.
  */
case class Md5Long(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_long"

  override protected def nullSafeEval(input: Any): Any =
    Md5Long.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Long.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long =
    copy(child = newChild)
}

object Md5Long {
  private val digests: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 digest bytes, big-endian. Called from generated code. */
  def hash(s: UTF8String): Long = hashBytes(s.getBytes)

  /** Raw-bytes form, same thread-local digest (used off-plan too —
    * [[HashFns.hash61Bytes]]).
    */
  def hashBytes(bytes: Array[Byte]): Long = hashBytes(digests.get(), bytes)

  /** This thread's digest, for a caller hashing many values in a loop:
    * pass it to the two-argument [[hashBytes]] to skip the per-value
    * thread-local lookup. It must stay on the thread that fetched it.
    */
  def digest(): MessageDigest = digests.get()

  /** [[hashBytes]] with a digest from [[digest]]. */
  def hashBytes(md: MessageDigest, bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }

  /** Column form. */
  def apply(c: Column): Column = GraftBridge.column(Md5Long(GraftBridge.expression(c)))
}
