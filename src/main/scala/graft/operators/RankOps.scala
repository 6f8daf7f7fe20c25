package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-pass RANGE-BUCKETED global ranking — the 100 TB upgrade path
  * for global (or low-cardinality-key) rank windows that the SURVEY
  * documented and r16's verdict asked shipped (item 4).
  *
  * The naive spelling — `row_number()/ntile()/percent_rank() OVER
  * (ORDER BY ...)` with no PARTITION BY — plans as Exchange
  * SinglePartition + one task sorting the ENTIRE input: the sort
  * budget of a single task grows with the corpus, the exact failure
  * q29's 25-way nation key only postpones. Here instead the bucket
  * id is a PURE FUNCTION of the row (searchsorted against sampled
  * boundary tuples), so the whole device needs NO persist and the
  * data mass crosses exactly ONE exchange:
  *
  *  1. count pass (columnar map-side count, no shuffle);
  *  2. a hash-mod sample of the order key, bounded at ~1000 rows per
  *     bucket, sorted IN SPARK (the sample is driver-bounded by
  *     construction) → numParts−1 boundary tuples;
  *  3. `bucket = searchsorted(boundaries, key)` — one codegen
  *     expression ([[graft.plans.SearchSortedBucket]]) binary-
  *     searching the sorted boundary tuples: O(log P) direction-aware
  *     lexicographic comparisons per row, constant-size generated
  *     code at any P, deterministic per row — so the bucket-count
  *     pass and the rank pass are independent scans that agree
  *     without materializing anything (the earlier `Σ when(key >
  *     boundary_i, 1)` chain cost O(P) per row and 3.2× the ×10
  *     probe wall at P = 320);
  *  4. per-bucket count offsets, a driver pull BOUNDED BY
  *     CONSTRUCTION at `numParts` rows (the saltedEquiJoinHot
  *     discipline), folded back as a literal map lookup;
  *  5. one hash exchange on the bucket id + per-bucket local
  *     row_numbers: global_rank = offset(bucket) + local_rank.
  *
  * (The first spelling of this operator range-PARTITIONED and
  * persisted the input to keep `spark_partition_id` consistent
  * across the count and rank passes — measured at the ×10 rank
  * probe, the full-input persist plus second exchange dominated the
  * wall; the pure-function bucket removes both.)
  *
  * ntile / percent_rank / cume_dist derive from the global rank and
  * the total count in EXACT integer/IEEE arithmetic, value-identical
  * to the built-in window functions whenever `order` is a TOTAL
  * order (rank == row_number; callers must pass a tiebreaker — the
  * q29 discipline). Sampled bounds make buckets ~equal-sized with
  * the same guarantee `repartitionByRange` gives; no task ever sorts
  * more than one bucket, so the plan survives any corpus size by
  * raising numParts. */
object RankOps {

  /** Rows per bucket in the boundary sample (the balance/driver-pull
    * trade: sample size ≈ numParts · this). */
  private val SamplePerBucket = 1000L

  /** Target rows per bucket when `numParts` is DERIVED (numParts ≤ 0):
    * the ×10 rank probe (n = 2·10⁸, P = 320) measured max per-task
    * sorts of ~685k rows against this ~625k/bucket target as the
    * sweet spot — large enough that per-bucket sort setup amortizes,
    * small enough that no task's sort grows with the corpus. */
  private[graft] val TargetBucketRows = 625000L

  /** Cap on derived bucket counts: the boundary sample collects
    * ≈ numParts · [[SamplePerBucket]] rows and the offset pull is
    * numParts rows, so the cap bounds BOTH driver pulls (≤ ~4M sample
    * rows) by construction. Past cap · target (≈ 2.6·10⁹ rows)
    * per-bucket size grows linearly again — still no single-partition
    * cliff, and callers with a genuinely larger total order pass an
    * explicit numParts sized to their driver. */
  private[graft] val MaxDerivedParts = 4096

  private case class Ord(key: Column, asc: Boolean)

  /** Split `.asc`/`.desc`-decorated columns into (expression,
    * direction); bare columns default ascending, like orderBy. */
  private def orders(order: Seq[Column]): Seq[Ord] = order.map { c =>
    org.apache.spark.sql.graftbridge.ColumnBridge.sortOrderChild(c) match {
      case Some((key, desc)) => Ord(key, asc = !desc)
      case None => Ord(c, asc = true)
    }
  }

  /** Global (grank, tile, pct_rank_u, cume_u) over a total order —
    * see the object doc. Construction runs three bounded driver
    * actions (count, boundary sample, bucket counts); nothing stays
    * persisted, so there is no release obligation.
    *
    * `numParts ≤ 0` DERIVES the bucket count from the data the
    * operator already counts — ⌈n / [[TargetBucketRows]]⌉ clamped to
    * [[MaxDerivedParts]] (r17 verdict item 6: the one declared call
    * site hard-coded 32, coincidentally the local core count; the
    * operator's 100 TB contract is that partitioning tracks the
    * corpus, so the default spelling must too). Derived counts floor
    * at 2 buckets — see the inline note. */
  def globalQuantileRanks(df: DataFrame, order: Seq[Column],
                          tiles: Int, numParts: Int = 0): DataFrame = {
    require(tiles >= 1, "tiles must be >= 1")
    val os = orders(order)
    val keys = os.map(_.key)
    val n = df.count()
    // derived counts floor at 2, never 1: a single constant bucket id
    // constant-folds out of the window's partition spec and the plan
    // regresses to the forbidden Exchange SinglePartition (the data
    // movement would be identical, but the operator's contract — and
    // PlanShapeSpec's pin — is that the single-partition SHAPE never
    // appears)
    val parts =
      if (numParts >= 1) numParts
      else math.min(MaxDerivedParts.toLong,
        math.max(2L, (n + TargetBucketRows - 1) / TargetBucketRows)).toInt
    // hash-mod boundary sample: rate sized so ~SamplePerBucket rows
    // land per bucket — bounded collect at any corpus size; the
    // in-Spark orderBy sorts only the sample (driver-bounded set)
    val sample = {
      val rate = math.max(1L, n / math.max(1L, parts * SamplePerBucket))
      df.filter(pmod(xxhash64(keys: _*), lit(rate)) === 0)
        .select(keys: _*).orderBy(order: _*).collect()
    }
    val step = math.max(1, sample.length / parts)
    // null-CONTAINING boundary tuples are dropped: the probe's
    // null-verdict ("not after") is not monotone against a
    // nulls-first sorted table, so binary search could disagree with
    // the linear count (see SearchSortedBucket scaladoc). Null-keyed
    // ROWS still bucket deterministically (all to bucket 0).
    val boundaries = (1 until parts)
      .map(_ * step).filter(_ < sample.length)
      .map(i => sample(i).toSeq).distinct
      .filter(_.forall(_ != null))
    // O(log P) searchsorted probe via one codegen expression — the
    // P-term `Σ when(row > boundary_i, 1)` chain this replaces cost
    // O(P) comparisons per row and its generated code grew with P:
    // measured at the ×10 rank probe (n = 2e8, P = 320) it read
    // 1736.8 s vs 546.3 s for P = 32 — the scaled-partitions plan
    // LOST to the spilling one it exists to fix. The probe call is
    // constant-size generated code at any P, so numParts can track
    // the corpus the way the operator's 100 TB contract requires.
    val keyTypes = df.select(keys: _*).schema.map(_.dataType)
    val bucket =
      if (boundaries.isEmpty) lit(0)
      else graft.plans.SearchSortedBucket.of(
        keys, boundaries, os.map(_.asc), keyTypes)
    val bucketed = df.withColumn("__bkt", bucket)
    // bounded driver pull: at most numParts rows, by construction
    val cnts = bucketed.groupBy(col("__bkt")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // balance evidence in the phase channel: the largest bucket IS
    // the largest single-task sort this plan will ever run
    if (cnts.nonEmpty)
      graft.PhaseLog.add("rank.maxBucketRows", cnts.map(_._2).max.toDouble)
    val offs = cnts.map(_._1).zip(
      cnts.map(_._2).scanLeft(0L)(_ + _)) // offset = rows in lower buckets
    val offExpr =
      if (offs.isEmpty) lit(0L)
      else element_at(
        map(offs.toIndexedSeq.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
        col("__bkt"))
    val w = Window.partitionBy(col("__bkt")).orderBy(order: _*)
    val ranked = bucketed
      .withColumn("grank", row_number().over(w).cast("long") + offExpr)
    // exact ntile: q+1-sized buckets first (r of them), then q-sized —
    // integer `div` arithmetic, value-identical to ntile() OVER a
    // total order (the CASE guards the q = 0 more-tiles-than-rows
    // degenerate case, where every row gets its own bucket)
    val q = n / tiles
    val r = n % tiles
    val cut = r * (q + 1)
    val tileCol =
      expr(s"CASE WHEN $q = 0 OR grank <= $cut " +
        s"THEN (grank - 1) div ${q + 1} + 1 " +
        s"ELSE $r + (grank - $cut - 1) div $q + 1 END")
    // micro-unit quantization via floor(ratio * 1e6) — pure IEEE ops,
    // identical in every engine (the q29 lesson: round(x, 6) hits
    // exact half-ties where engines' rounding modes disagree). The
    // RATIO MUST BE COMPUTED FIRST: a window engine evaluates
    // percent_rank/cume_dist as a double ratio and then scales, so
    // `(1e6 * rank) / n` — exact integer-valued division — lands one
    // ulp ABOVE `(rank / n) * 1e6` whenever rank/n rounds down
    // (measured at sf0.1: 57 off-by-one cume rows on exact-ratio
    // granks like 471/15000).
    val pctCol =
      if (n > 1)
        floor(((col("grank") - 1).cast("double") /
          lit((n - 1).toDouble)) * lit(1.0e6)).cast("long")
      else lit(0L)
    val cumeCol =
      if (n > 0)
        floor((col("grank").cast("double") / lit(n.toDouble)) *
          lit(1.0e6)).cast("long")
      else lit(0L)
    ranked
      .withColumn("tile", tileCol)
      .withColumn("pct_rank_u", pctCol)
      .withColumn("cume_u", cumeCol)
      .drop("__bkt")
  }
}
