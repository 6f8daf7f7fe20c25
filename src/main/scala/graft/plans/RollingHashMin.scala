package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd winnowing fingerprint: minimum over all 8-codepoint
  * windows of the polynomial hash h(w) = fold((acc*B + c) mod P)
  * with B=257, P=1e9+7 — value-identical to
  * `graft.Oracles.rollingFingerprintHof` (the specs' HOF
  * spelling) and to the DuckDB oracle, but O(len) via the true
  * rolling update h' = (h - c_lead*B^7)*B + c_new (mod P) in a
  * primitive loop instead of O(window*len) interpreted lambdas.
  * Null for texts shorter than the window. */
case class RollingHashMin(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash_min expects string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (s.numChars() < RollingHashHelper.W) null
    else RollingHashHelper.compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numChars() < ${RollingHashHelper.W}) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.RollingHashHelper.compute($c);
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): RollingHashMin =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash_min"
}

object RollingHashMin {
  def apply(c: Column): Column =
    ColumnBridge.column(RollingHashMin(ColumnBridge.expression(c)))
}

/** Static helper (top-level object → static forwarder, callable from
  * Janino-generated code). Modular arithmetic kept in [0, P) at every
  * step so the rolling recurrence reproduces the per-window fold
  * bit-for-bit. */
object RollingHashHelper {
  final val B = 257L
  final val P = 1000000007L
  final val W = 8
  /** B^(W-1) mod P, the leading-term weight dropped at each slide. */
  final val BW1: Long = {
    var x = 1L
    var i = 0
    while (i < W - 1) { x = x * B % P; i += 1 }
    x
  }

  def compute(s: UTF8String): Long = {
    val cps = s.toString.codePoints().toArray
    var h = 0L
    var i = 0
    while (i < W) { h = (h * B + cps(i)) % P; i += 1 }
    var min = h
    val n = cps.length
    while (i < n) {
      val lead = cps(i - W) * BW1 % P
      h = (h - lead + P) % P              // h, lead both in [0, P)
      h = (h * B + cps(i)) % P
      if (h < min) min = h
      i += 1
    }
    min
  }
}
