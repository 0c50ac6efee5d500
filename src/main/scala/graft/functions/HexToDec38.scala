package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DecimalType}
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** Static hex-parsing kernel shared by the interpreted and codegen paths.
  * (Scala object methods compile to static forwarders, so generated Java can
  * call `graft.functions.HexUtil.parseHexDec38(...)` directly.) */
object HexUtil {
  private val MAX38 = BigInt("9" * 38)

  /** Parse a (optionally 0x-prefixed) hex string into Decimal(38,0); null on
    * malformed input, negative values (this decodes uint256), or magnitude
    * beyond 38 digits (the engine's documented ceiling, SURVEY.md §1.2). */
  def parseHexDec38(s: UTF8String): Decimal = {
    if (s == null) return null
    var str = s.toString.trim
    if (str.startsWith("0x") || str.startsWith("0X")) str = str.substring(2)
    if (str.isEmpty || str.length > 96) return null
    try {
      val v = BigInt(str, 16)
      // BigInt(_, 16) accepts a sign; a uint256 decoder must not
      if (v.signum < 0 || v > MAX38) null else Decimal(BigDecimal(v), 38, 0)
    } catch {
      case _: NumberFormatException => null
      case _: ArithmeticException => null
    }
  }
}

/** `hex_to_dec38(col)` — native Catalyst expression decoding hex-encoded
  * uint256 values (the reference's difficulty/value columns arrive as decimal
  * strings today, but upstream RPC payloads are 0x-hex;
  * convert_blocks_to_parquet.py:38-39 pins the decimal(38,0) target type).
  *
  * A real Expression rather than a Scala udf(): inputs stay UTF8String (no
  * Row boxing), the call participates in whole-stage codegen via doGenCode,
  * and null-handling is the engine's (NullIntolerant contract). */
case class HexToDec38(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HexUtil.parseHexDec38(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HexUtil.parseHexDec38($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): HexToDec38 =
    copy(child = newChild)

  override def prettyName: String = "hex_to_dec38"
}

object HexToDec38 {
  /** Builder with an arity check: a zero-arg call must surface as a clear
    * error, not NoSuchElementException; extra args must not be dropped. */
  def build(exprs: Seq[Expression]): HexToDec38 = {
    require(exprs.length == 1,
      s"hex_to_dec38 expects exactly 1 argument, got ${exprs.length}")
    HexToDec38(exprs.head)
  }

  /** Register `hex_to_dec38` in the session's function registry so SQL and
    * `expr("hex_to_dec38(...)")` resolve it. Idempotent: a repeat call is a
    * no-op, because re-registering logs a "replaced a previously registered
    * function" warning on every query that calls this. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("hex_to_dec38")))
      registry.createOrReplaceTempFunction("hex_to_dec38", build, "built-in")
  }
}
