package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The `DetRand` draws as plain JVM arithmetic. Each function replays the
  * Column composition it replaced — same operations, same order, same
  * `java.lang.Math`/`StrictMath` calls Spark's generated code makes — so a
  * draw is bit-identical to it (and to the DuckDB twins, up to the libm
  * skew `gauss` already had). `EngineProperties`'
  * `detrand.kernel.equals.composed` checks this against a verbatim copy of
  * the old Column form.
  */
object DetRandKernel {
  private final val M = 2147483648.0 // 2^31

  /** `x - floor(x / 2^31) * 2^31`, with Spark's `floor` (double → long). */
  private def fmod(x: Double): Double = x - java.lang.Math.floor(x / M).toLong.toDouble * M

  private def lcg(x: Double): Double = fmod(x * 69069.0 + 12345.0)

  def u01(key: Double, stream: Int): Double = {
    val seed = fmod(key * 40503.0 + stream.toDouble * 30011.0 + 12345.0)
    (lcg(lcg(fmod(seed * (69069.0 + 2.0 * stream)))) + 0.5) / M
  }

  /** Box–Muller over streams 2s and 2s+1. */
  def gauss(key: Double, stream: Int): Double = {
    val u1 = u01(key, 2 * stream)
    val u2 = u01(key, 2 * stream + 1)
    java.lang.Math.sqrt(-2.0 * java.lang.StrictMath.log(u1)) *
      java.lang.Math.cos(2.0 * math.Pi * u2)
  }

  /** Fully qualified name for generated code (static forwarders). */
  private[plans] val Name: String = getClass.getName.stripSuffix("$")
}

/** Uniform (0,1) draw of `key` (cast to DOUBLE) on `stream`, evaluated by
  * [[DetRandKernel.u01]] in generated code and in interpreted eval alike.
  * Null key → null.
  */
case class DetU01(child: Expression, stream: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DoubleType] = Seq(DoubleType)

  override protected def nullSafeEval(key: Any): Any =
    DetRandKernel.u01(key.asInstanceOf[Double], stream)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, k => s"${DetRandKernel.Name}.u01($k, $stream)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Standard-normal draw of `key` (cast to DOUBLE) on the Box–Muller stream
  * pair (2s, 2s+1), via [[DetRandKernel.gauss]]. Null key → null.
  */
case class DetGauss(child: Expression, stream: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DoubleType] = Seq(DoubleType)

  override protected def nullSafeEval(key: Any): Any =
    DetRandKernel.gauss(key.asInstanceOf[Double], stream)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, k => s"${DetRandKernel.Name}.gauss($k, $stream)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
