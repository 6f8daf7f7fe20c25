package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.DetParams

/** Codegen'd sign-LSH band keys for an embedding column: the
  * [[DetParams.PlaneBandsCount]] strings `"b:xxxx"` where bit j of
  * band b is 1 iff the vector's dot with plane
  * `b * AutoMaxBitsPerBand + j` of [[DetParams.hyperplanesAuto]] is
  * strictly positive. `bits` comes from the corpus count
  * ([[DetParams.autoBitsPerBand]]); a narrower key is a string prefix
  * of a wider one, the truncation the DuckDB oracle applies to its
  * max-width key (AutoLshSpec pins it). One primitive pass updates
  * every plane accumulator per element, as an ascending-index left
  * fold bit-identical to the oracle's `list_sum(list_transform(..))`.
  * A null array, a length other than [[DetParams.EmbedDim]] or a null
  * element makes every dot NULL, i.e. a "0" bit (as does NaN), so
  * invalid inputs map to the all-zero-bits keys; never null. */
case class SketchBandsAuto(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits >= 1 && bits <= DetParams.AutoMaxBitsPerBand,
    s"sketch_bands_auto bits must be in [1, ${DetParams.AutoMaxBitsPerBand}], got $bits")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sketch_bands_auto expects array<float|double>, got $t")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => SketchBandsHelper.zeroBandsAuto(bits)
    case arr  =>
      SketchBandsHelper.bandsAuto(arr.asInstanceOf[ArrayData], elemIsFloat, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${childGen.code}
      $javaType ${ev.value} = ${childGen.isNull} ?
        graft.plans.SketchBandsHelper.zeroBandsAuto($bits) :
        graft.plans.SketchBandsHelper.bandsAuto(${childGen.value}, $elemIsFloat, $bits);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SketchBandsAuto =
    copy(child = newChild)

  override def prettyName: String = "sketch_bands_auto"
}

object SketchBandsAuto {
  def apply(c: Column, bits: Int): Column =
    ColumnBridge.column(SketchBandsAuto(ColumnBridge.expression(c), bits))
}

/** Static helper (Janino-callable): one pass over the vector keeping
  * `PlaneBandsCount * bits` running dots, then one string per band. */
object SketchBandsHelper {
  private val Bands = DetParams.PlaneBandsCount
  private val Dim = DetParams.EmbedDim
  private val PlanesAuto = DetParams.hyperplanesAuto
  private val MaxBits = DetParams.AutoMaxBitsPerBand

  /** All-zero-bits keys at `bits` width (invalid-input mapping —
    * see the [[SketchBandsAuto]] null contract). Per-width cache of
    * shared immutable instances (consumers copy when writing into
    * unsafe rows): widths are few (4..MaxBits), chosen once per
    * query. */
  private val ZeroAuto = new java.util.concurrent.ConcurrentHashMap[Int, GenericArrayData]()

  def zeroBandsAuto(bits: Int): GenericArrayData =
    ZeroAuto.computeIfAbsent(bits, { w =>
      val out = new Array[Any](Bands)
      var b = 0
      while (b < Bands) {
        out(b) = UTF8String.fromString(b.toString + ":" + ("0" * w))
        b += 1
      }
      new GenericArrayData(out)
    })

  def bandsAuto(arr: ArrayData, elemIsFloat: Boolean, bits: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n != Dim) return zeroBandsAuto(bits)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return zeroBandsAuto(bits)
      i += 1
    }
    // one primitive pass accumulating only the FIRST `bits` planes of
    // each band's MaxBits-wide run (prefix property vs wider widths)
    val np = Bands * bits
    val acc = new Array[Double](np)
    i = 0
    while (i < n) {
      val x = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      var b = 0
      while (b < Bands) {
        val base = b * MaxBits
        var j = 0
        while (j < bits) {
          acc(b * bits + j) += x * PlanesAuto(base + j)(i)
          j += 1
        }
        b += 1
      }
      i += 1
    }
    val out = new Array[Any](Bands)
    val sb = new java.lang.StringBuilder(bits + 3)
    var b = 0
    while (b < Bands) {
      sb.setLength(0)
      sb.append(b).append(':')
      var j = 0
      while (j < bits) {
        sb.append(if (acc(b * bits + j) > 0) '1' else '0')
        j += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
}
