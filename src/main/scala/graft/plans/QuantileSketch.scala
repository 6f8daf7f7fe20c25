package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Mergeable quantile sketch — the 100 TB replacement for q14's exact
  * `percentile` (whose per-group sort is the known scale pain point):
  * a deterministic compactor hierarchy in the KLL/MRL family
  * (Karnin-Lang-Liberty, FOCS'16; Manku et al., SIGMOD'98) as a
  * `TypedImperativeAggregate` riding the ordinary hash-aggregate
  * pipeline — O(k·log(n/k)) state per (partition, group), one buffer
  * across the wire, merge-safe under any partitioning.
  *
  * Level h holds items of weight 2^h, capacity k each. A full level
  * is sorted and every other item promoted (alternating start
  * parity, flipped per compaction — DETERMINISTIC, no RNG: Spark
  * merge order already varies run to run, so a random generator
  * would only add a second noise source). Total weight is preserved
  * exactly by compaction in the even case and tracked exactly via
  * `n` regardless, so the sketch's row count is EXACT — only rank
  * positions blur.
  *
  * Error accounting is carried IN the sketch rather than assumed:
  * one compaction at level h shifts any rank query by at most the
  * item weight 2^h (the classic compactor argument), so `bound`
  * accumulates 2^h per compaction and eval emits it alongside the
  * estimates. A quantile estimate for rank target t is an ACTUAL
  * input value whose true rank lies within ±(bound + 2^H) of t
  * (the final 2^H slack covers the cumulative-weight walk landing
  * inside a surviving item's weight span). Merging adds the two
  * bounds — exactly the GK/KLL merge degradation, made explicit.
  *
  * With the default k = 400 at n = 10^6 this is a ≤ ~1.2% rank
  * error from ~11 levels; at n ≤ k the sketch never compacts,
  * bound = 0, and quantiles are EXACT (the spec pins that).
  *
  * Determinism note: the ESTIMATES depend on merge order (as any
  * mergeable sketch's do); `n` and the bound GUARANTEE do not. The
  * q51 oracle therefore checks the invariants — exact n and the
  * rank-window property verified against the true distribution —
  * not a particular estimate byte. */
case class QuantileSketchAgg(
    child: Expression,
    k: Int,
    phis: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketchAgg.Sketch] {

  require(k >= 8 && k % 2 == 0 && k <= 65536,
    s"k must be even in [8, 65536], got $k")
  require(phis.nonEmpty && phis.forall(p => p > 0.0 && p < 1.0),
    s"phis must lie in (0, 1), got $phis")

  import QuantileSketchAgg.Sketch

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("bound", LongType, nullable = false),
    StructField("qs", ArrayType(
      StructType(Seq(
        StructField("phi", DoubleType, nullable = false),
        StructField("est", DoubleType, nullable = false))),
      containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case DoubleType => TypeCheckResult.TypeCheckSuccess
      case o => TypeCheckResult.TypeCheckFailure(
        s"quantile_sketch expects a double column, got $o")
    }

  override def createAggregationBuffer(): Sketch = Sketch.empty(k)

  override def update(buf: Sketch, input: InternalRow): Sketch = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      require(!d.isNaN, "quantile_sketch: NaN value (order undefined)")
      buf.insert(d)
    }
    buf
  }

  override def merge(a: Sketch, b: Sketch): Sketch = { a.mergeIn(b); a }

  override def eval(buf: Sketch): Any = {
    val ests = buf.quantiles(phis)
    new GenericInternalRow(Array[Any](
      buf.n,
      buf.queryBound,
      new GenericArrayData(phis.zip(ests).map { case (p, e) =>
        new GenericInternalRow(Array[Any](p, e))
      }.toArray[Any])))
  }

  override def serialize(buf: Sketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): Sketch =
    Sketch.deserialize(bytes, k)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketchAgg =
    copy(child = newChildren(0))

  override def prettyName: String = "quantile_sketch"
}

object QuantileSketchAgg {

  /** Column API: struct(n, bound, qs: array<struct<phi, est>>). */
  def of(value: Column, k: Int, phis: Seq[Double]): Column =
    ColumnBridge.column(
      QuantileSketchAgg(ColumnBridge.expression(value), k, phis)
        .toAggregateExpression())

  /** Compactor-hierarchy state. Level h items carry weight 2^h. */
  final class Sketch(val k: Int) {
    var n: Long = 0L
    /** Σ 2^h over every compaction performed — the accumulated
      * worst-case rank shift (see class doc). */
    var compactionBound: Long = 0L
    val levels: ArrayBuffer[ArrayBuffer[Double]] =
      ArrayBuffer(new ArrayBuffer[Double](8))
    val parity: ArrayBuffer[Boolean] = ArrayBuffer(false)

    def insert(d: Double): Unit = {
      n += 1
      levels(0) += d
      if (levels(0).length >= k) compactFrom(0)
    }

    /** Compact any level ≥ h that is at/over capacity, bottom-up. */
    private def compactFrom(h0: Int): Unit = {
      var h = h0
      while (h < levels.length && levels(h).length >= k) {
        val lvl = levels(h)
        val sorted = lvl.sortInPlace()
        // even prefix compacts pairwise; a trailing odd item stays
        val m = sorted.length - (sorted.length % 2)
        val start = if (parity(h)) 1 else 0
        parity(h) = !parity(h)
        if (h + 1 >= levels.length) {
          levels += new ArrayBuffer[Double](k)
          parity += false
        }
        val up = levels(h + 1)
        var i = start
        while (i < m) { up += sorted(i); i += 2 }
        val tail = if (m < sorted.length) Some(sorted(m)) else None
        lvl.clear()
        tail.foreach(lvl += _)
        compactionBound += (1L << h)
        h += 1
      }
    }

    def mergeIn(b: Sketch): Unit = {
      n += b.n
      compactionBound += b.compactionBound
      var h = 0
      while (h < b.levels.length) {
        if (h >= levels.length) {
          levels += new ArrayBuffer[Double](k)
          parity += false
        }
        levels(h) ++= b.levels(h)
        h += 1
      }
      // one bottom-up pass restores every capacity invariant: a
      // level-h compaction only ever grows level h+1, which the
      // walk visits next
      var g = 0
      while (g < levels.length) {
        if (levels(g).length >= k) compactFrom(g)
        g += 1
      }
    }

    /** Rank window half-width guaranteed for any quantile answer:
      * compaction shifts plus the weight span of the coarsest level
      * (the cumulative walk can land anywhere inside one surviving
      * item's span). */
    def queryBound: Long =
      compactionBound + (1L << (levels.length - 1))

    /** For each φ: the retained input value whose cumulative sketch
      * weight first reaches ⌈φ·n⌉ (clamped to ≥ 1). */
    def quantiles(phis: Seq[Double]): Seq[Double] = {
      val items = ArrayBuffer.empty[(Double, Long)]
      var h = 0
      while (h < levels.length) {
        val w = 1L << h
        levels(h).foreach(v => items += ((v, w)))
        h += 1
      }
      val sorted = items.sortBy(_._1)
      phis.map { p =>
        if (n == 0L) Double.NaN
        else {
          val target = math.max(1L, math.ceil(p * n).toLong)
          var cum = 0L
          var i = 0
          var ans = sorted.last._1
          var found = false
          while (i < sorted.length && !found) {
            cum += sorted(i)._2
            if (cum >= target) { ans = sorted(i)._1; found = true }
            i += 1
          }
          ans
        }
      }
    }

    def serialize(): Array[Byte] = {
      var bytes = 8 + 8 + 4
      levels.foreach(l => bytes += 4 + 1 + l.length * 8)
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putLong(n)
      bb.putLong(compactionBound)
      bb.putInt(levels.length)
      var h = 0
      while (h < levels.length) {
        bb.putInt(levels(h).length)
        bb.put(if (parity(h)) 1.toByte else 0.toByte)
        levels(h).foreach(bb.putDouble)
        h += 1
      }
      bb.array()
    }
  }

  object Sketch {
    def empty(k: Int): Sketch = new Sketch(k)

    def deserialize(bytes: Array[Byte], k: Int): Sketch = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val s = new Sketch(k)
      s.n = bb.getLong
      s.compactionBound = bb.getLong
      val nl = bb.getInt
      s.levels.clear(); s.parity.clear()
      var h = 0
      while (h < nl) {
        val m = bb.getInt
        val p = bb.get() == 1.toByte
        val lvl = new ArrayBuffer[Double](math.max(m, 8))
        var i = 0
        while (i < m) { lvl += bb.getDouble; i += 1 }
        s.levels += lvl
        s.parity += p
        h += 1
      }
      if (s.levels.isEmpty) { s.levels += new ArrayBuffer[Double](8); s.parity += false }
      s
    }
  }
}
