package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Sketch-based aggregates for corpus-scale statistics.
  *
  * The exact-count path (explode → groupBy token) shuffles the whole
  * token stream; at 100 TB that is the single largest shuffle a corpus
  * statistics job can take. When only a *known vocabulary* needs
  * counting (stop-word densities, marker-word profiles, contamination
  * probes), a count-min sketch replaces it with a constant-size,
  * OR-mergeable state per partition — the same trade
  * [[graft.plans.BitmapDistinctCount]] makes for distinct counting.
  */
object SketchOps {

  /** Estimated occurrence counts for a fixed probe vocabulary via one
    * count-min sketch pass over the token stream.
    *
    * 100 TB shape: the sketch is Spark's built-in `count_min_sketch`
    * aggregate (spark-sketch, codegen'd update path) — each task folds
    * its tokens into a local width×depth counter table, merges are
    * element-wise adds, and exactly ONE constant-size row reaches the
    * driver (width 2/eps doubles × depth ln(1/(1-confidence))/ln 2 —
    * ~1.6 MB at the defaults here), where the probe loop runs. The
    * probe list is library input, never derived from the data, so
    * nothing unbounded ever collects.
    *
    * Accuracy: estimates are exact while the corpus vocabulary stays
    * ≪ width (no cell is shared in every depth row); beyond that the
    * classic CMS guarantee applies — overcount ≤ eps·N with
    * probability ≥ confidence, never an undercount. Deterministic for
    * a fixed seed either way, so results are reproducible across
    * cluster sizes.
    */
  def cmsTokenCounts(docs: DataFrame, tokens: Column, probes: Seq[String],
                     eps: Double = 1e-4, confidence: Double = 0.999,
                     seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    val skBytes = docs
      .select(explode(tokens).as("w"))
      .agg(expr(s"count_min_sketch(w, CAST($eps AS DOUBLE), " +
        s"CAST($confidence AS DOUBLE), $seed)").as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new ByteArrayInputStream(skBytes))
    import spark.implicits._
    probes.distinct.sorted
      .map(w => (w, cms.estimateCount(w)))
      .toDF("w", "est_count")
  }

  /** Exact semi-join of `fact` to the key set of `dim`, pre-pruned by
    * a broadcast Bloom bitmap — the runtime-filter pattern spelled as
    * a library operator.
    *
    * Why: a plain semi-join shuffles the FULL fact table on the join
    * key; when the dim key set is selective, most of that shuffle is
    * rows that will not survive. The Bloom probe runs map-side inside
    * whole-stage codegen (xxhash64 + array index + bit test, all
    * built-ins — no UDF), so non-members are dropped BEFORE the
    * exchange and only probable members pay the shuffle. False
    * positives are then removed by the exact semi-join, so the result
    * is identical to the plain join — the oracle for this operator IS
    * the plain semi-join.
    *
    * 100 TB shape: the build side is one narrow pass over dim —
    * explode k positions, distinct, OR-fold into ≤ bits/64
    * (word, mask) rows — and only the constant-size bitmap (bits/8
    * bytes; 128 KiB at the default 2^20) reaches the driver, like the
    * CMS probe. It ships to executors as a plan literal. Size `bits`
    * ≥ ~16× expected distinct keys for a sub-1% false-positive rate
    * at k = 3; an undersized filter only degrades pruning, never
    * correctness.
    *
    * NOTE: the bitmap build is EAGER — calling this method runs the
    * narrow build job over `dim` immediately (the bitmap must exist
    * as a plan literal before the returned frame can be constructed),
    * unlike ordinary lazy DataFrame composition. Callers invoking the
    * same prune repeatedly should build once via [[bloomBitmap]] +
    * [[bloomProbe]] and reuse the bitmap. */
  def bloomPrunedSemiJoin(fact: DataFrame, factKey: String,
                          dim: DataFrame, dimKey: String,
                          bits: Int = 1 << 20, hashes: Int = 3): DataFrame = {
    val bitmap = bloomBitmap(dim, col(dimKey), bits, hashes)
    fact.filter(bloomProbe(bitmap, col(factKey), hashes))
      .join(dim.select(col(dimKey).as("__bloom_key")).distinct(),
        col(factKey) === col("__bloom_key"), "left_semi")
  }

  /** Bit positions for `key`. The key is canonicalized through its
    * string rendering BEFORE hashing: xxhash64 hashes the physical
    * representation, so an INT build side and a BIGINT probe side
    * (same logical values) would otherwise set and test DIFFERENT
    * positions — a silent false-NEGATIVE, breaking the "never drops a
    * true member" contract that bloomPrunedSemiJoin relies on. String
    * rendering makes every integer-typed spelling of the same value
    * agree; callers mixing
    * fractional/decimal types across sides must cast both sides to
    * one type themselves (as a join would). */
  private def bloomPositions(key: Column, bits: Int, hashes: Int)
      : Seq[Column] =
    (0 until hashes).map(i =>
      pmod(xxhash64(lit(i), key.cast("string")), lit(bits.toLong)))

  private def bloomMask(p: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, ShiftLeft}
    ColumnBridge.column(ShiftLeft(Literal(1L),
      ColumnBridge.expression((p % 64).cast("int"))))
  }

  /** Build the `bits`-wide Bloom bitmap of `key` over `dim` — one
    * narrow pass, ≤ bits/64 (word, mask) rows OR-folded before the
    * driver sees anything (constant size, like the CMS sketch). */
  def bloomBitmap(dim: DataFrame, key: Column,
                  bits: Int = 1 << 20, hashes: Int = 3): Array[Long] = {
    require(bits >= 64 && Integer.bitCount(bits) == 1,
      s"bits must be a power of two >= 64, got $bits")
    val rows = dim
      .select(explode(array(bloomPositions(key, bits, hashes): _*)).as("p"))
      .distinct()
      .select((col("p") / 64).cast("int").as("wi"),
        bloomMask(col("p")).as("m"))
      .groupBy(col("wi")).agg(expr("bit_or(m)").as("w"))
      .collect()
    val bitmap = new Array[Long](bits / 64)
    rows.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
    bitmap
  }

  /** Codegen membership probe against a [[bloomBitmap]]: true iff
    * `key` is PROBABLY in the built set (never a false negative). The
    * bitmap ships as a plan literal; the probe is xxhash64 + array
    * index + bit test — all built-ins, map-side. */
  def bloomProbe(bitmap: Array[Long], key: Column, hashes: Int = 3)
      : Column = {
    val bits = bitmap.length * 64
    val lut = typedlit(bitmap.toSeq)
    bloomPositions(key, bits, hashes).map { p =>
      (element_at(lut, (p / 64).cast("int") + 1)
        .bitwiseAND(bloomMask(p))) =!= lit(0L)
    }.reduce(_ && _)
  }
}
