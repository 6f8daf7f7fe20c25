package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd fused shingle pass: lowercase the string, slide a 3-char
  * window, md5-prefix-hash each trigram, keep first-seen-order distinct
  * hashes. Value-identical to the staged built-in spelling
  * `array_distinct(Md5Hash32Array(charTrigrams(text)))`
  * (`graft.Oracles.charTrigrams` in the specs), which is kept as its
  * oracle — dedup by hash equals distinct-trigrams-then-distinct-hashes
  * because equal trigrams always hash equal and colliding trigrams
  * collapse to one entry either way.
  *
  * Why: the built-in chain runs an interpreted `transform` over a
  * `sequence(1, len-2)` with per-element `substring`, then an
  * interpreted `array_distinct` over UTF8Strings — allocation-heavy
  * and non-codegen. This is the first stage of every MinHash query
  * (d2/d2b/d4), touching every document byte in the corpus. */
case class HashedTrigrams32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // the built-in spelling's `when(len >= 3, ...).otherwise(array())`
  // maps a NULL string to an empty array (null condition falls through
  // to otherwise), so this expression is never null either
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hashed_trigrams32 expects string, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) HashedTrigrams32Helper.empty()
    else HashedTrigrams32Helper.hash(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code + code"""
        $javaType ${ev.value} = ${c.isNull} ?
          graft.plans.HashedTrigrams32Helper.empty() :
          graft.plans.HashedTrigrams32Helper.hash(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedTrigrams32 =
    copy(child = newChild)

  override def prettyName: String = "hashed_trigrams32"
}

object HashedTrigrams32 {
  def apply(c: Column): Column =
    ColumnBridge.column(HashedTrigrams32(ColumnBridge.expression(c)))
}

/** Static helper (Janino-callable). */
object HashedTrigrams32Helper {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val EmptyArray = new GenericArrayData(new Array[Long](0))

  def empty(): GenericArrayData = EmptyArray

  private val digestOut = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  // `substring` slices at code-point granularity, so the window must
  // step code points, not bytes — lengths from the shared table
  private def cpLen(b: Byte): Int = Utf8Scan.cpLen(b)

  def hash(s: UTF8String): GenericArrayData = {
    // same lowercase as the built-in lower() (UTF8String full-Unicode)
    val lc = s.toLowerCase
    val n = lc.numChars()
    if (n < 3) return new GenericArrayData(new Array[Long](0))
    // hash each 3-code-point window's byte slice IN PLACE: the md5 of
    // the slice equals the md5 of substring(i, i+3).getBytes (same
    // bytes), without the per-window UTF8String + byte[] + digest
    // allocations the substring spelling paid — this is the innermost
    // loop of every MinHash/Jaccard query, ~|corpus bytes| iterations
    val bytes = lc.getBytes
    val md = digest.get()
    val out16 = digestOut.get()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    // o0/o1/o2/o3: byte offsets of code points i, i+1, i+2, i+3
    var o0 = 0
    var o1 = o0 + cpLen(bytes(o0))
    var o2 = o1 + cpLen(bytes(o1))
    var i = 0
    while (i <= n - 3) {
      val o3 = o2 + cpLen(bytes(o2))
      md.reset()
      md.update(bytes, o0, o3 - o0)
      md.digest(out16, 0, 16)
      seen.add(java.lang.Long.valueOf(
        ((out16(0) & 0xffL) << 24) | ((out16(1) & 0xffL) << 16) |
          ((out16(2) & 0xffL) << 8) | (out16(3) & 0xffL)))
      o0 = o1; o1 = o2; o2 = o3
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
