package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.operators.DetParams

/** Codegen'd MinHash signature over an already-hashed shingle array:
  * slot i = min over elements h of pmod(h*a_i + b_i, P), for the K
  * affine maps in [[graft.operators.DetParams]].
  *
  * Why: the built-in spelling
  * (`graft.Oracles.minhashFromHashes` in the specs, kept as this
  * expression's value-parity oracle) evaluates K interpreted
  * `array_min(transform(...))` passes per document — K full walks of
  * the shingle array through non-codegen HOF eval. This expression
  * makes ONE primitive pass, updating all K minima per element.
  * MinHash signatures sit on every document at corpus scale; this is
  * the inner loop of d2/d2b/d4.
  *
  * Null handling matches the HOF spelling: null elements are skipped
  * (`transform` maps them to null, `array_min` ignores nulls); an
  * array with no non-null elements yields all-null slots; a NULL
  * input array yields a NON-null array of K nulls (the HOF's outer
  * `array(...)` constructor never returns null), so this expression
  * is never null.
  *
  * Domain: element values in [0, 2^32) (md5Hash32 outputs) — with
  * a < 2^30 the affine map then stays below 2^62. Outside that domain
  * the HOF spelling raises an ANSI overflow error while this
  * expression wraps; inside it the two are value-identical. */
case class MinHashSignature(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<bigint>, got $t")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => MinHashHelper.nullSignature()
    case arr  => MinHashHelper.signature(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${childGen.code}
      $javaType ${ev.value} = ${childGen.isNull} ?
        graft.plans.MinHashHelper.nullSignature() :
        graft.plans.MinHashHelper.signature(${childGen.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  def apply(c: Column): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(c)))
}

/** Static helper (Janino-callable). One pass over the hash array,
  * K minima updated per element. `Math.floorMod` == Spark `pmod` for
  * a positive modulus, so values stay identical to the HOF spelling
  * even for adversarial (negative / overflowing) inputs. */
object MinHashHelper {
  private val K = DetParams.MinhashK
  private val A = DetParams.minhashA
  private val B = DetParams.minhashB
  private val P = DetParams.MinhashP

  /** HOF-parity value for a NULL input array: `array(array_min(
    * transform(null, ..)), ..)` is a non-null array of K nulls.
    * Shared immutable instance (no per-row allocation on the codegen
    * path): consumers copy when writing into unsafe rows. */
  private val NullSig: GenericArrayData =
    new GenericArrayData(new Array[Any](K))

  def nullSignature(): GenericArrayData = NullSig

  def signature(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(K)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = arr.getLong(i)
        var k = 0
        while (k < K) {
          val v = java.lang.Math.floorMod(h * A(k) + B(k), P)
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](K)
    var k = 0
    while (k < K) {
      out(k) = if (any) java.lang.Long.valueOf(mins(k)) else null
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd 60-bit SimHash over an already-hashed token array
  * (duplicates = tf weighting): bit b of the fingerprint is set iff
  * strictly more elements have bit b set than clear.
  *
  * Why: the built-in spelling
  * (`graft.Oracles.simhashFromHashes` in the specs, kept as this
  * expression's value-parity oracle) evaluates 60 interpreted
  * `aggregate(...)` passes per document. This expression makes ONE
  * primitive pass maintaining 60 bit counters. It is the inner loop
  * of d3/d3b.
  *
  * Null handling matches the HOF spelling: a null element poisons
  * every per-bit `aggregate` sum to null, whose `> 0` check then
  * falls to the `otherwise(0)` branch — so ANY null element yields
  * fingerprint 0 (as does an empty array). A NULL input array takes
  * the same null-poisoned path (`aggregate(null, ..)` is null), so it
  * also yields 0, never NULL — this expression is never null. */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60 expects array<bigint>, got $t")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => 0L
    case arr  => SimHash60Helper.simhash(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      long ${ev.value} = ${childGen.isNull} ? 0L :
        graft.plans.SimHash60Helper.simhash(${childGen.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)

  override def prettyName: String = "simhash60"
}

object SimHash60 {
  def apply(c: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(c)))
}

/** Static helper (Janino-callable): one pass, 60 set-bit counters;
  * bit b kept iff 2*count(b) > n (== the HOF's sum of ±1 > 0). */
object SimHash60Helper {

  def simhash(arr: ArrayData): Long = {
    val n = arr.numElements()
    var i = 0
    while (i < n) { // any null element → 0L (HOF parity, see Scaladoc)
      if (arr.isNullAt(i)) return 0L
      i += 1
    }
    val cnt = new Array[Int](60)
    i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 60) {
        cnt(b) += ((h >> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var res = 0L
    var b = 0
    while (b < 60) {
      if (2L * cnt(b) > n) res |= (1L << b)
      b += 1
    }
    res
  }
}
