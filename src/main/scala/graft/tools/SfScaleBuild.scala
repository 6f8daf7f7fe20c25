package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-side ×F FULL-SCHEMA scale-up (round-13 verdict item 7; NOT
  * part of the shipped library): materializes every testdata table at
  * F× the chosen SF into an output dir, so the WHOLE 178-query bench
  * can run one decade above its usual sf0.1 point (the per-operator
  * ScaleProbe families cover the iterative spines; this covers the
  * other ~170 queries' plans — a super-linear term in any of them
  * shows up as a >>F per-query ratio).
  *
  * Construction (referential integrity per copy, no artificial
  * cross-copy joins):
  *  - region/nation: dimension ladders, copied verbatim (a bigger
  *    corpus does not grow the nation dimension).
  *  - customer/supplier/part/orders/lineitem: copy k shifts every
  *    BIGINT key (custkey/suppkey/partkey/orderkey) by k·10⁹ —
  *    FK chains replicate intact, join fan-outs per key are
  *    preserved, group-by-key cardinalities scale ×F while per-date /
  *    per-nation groups get ×F denser (exactly how a real corpus
  *    grows against fixed dimensions).
  *  - events: event_id shifts by k·10⁹; user_id shifts by
  *    k·(max base user_id + 1) — derived from the data so copies
  *    never collide — and the build REQUIRES the top shifted id to
  *    stay inside q21_bitmap_distinct's declared exact-bitmap domain
  *    [0, 2²⁰) (the first sf1 run shifted user_id by 10⁹ and the
  *    operator failed LOUDLY on its contract, as designed —
  *    beyond-domain id spaces need a sketch such as the built-in
  *    `hll_sketch_agg`);
  *    timestamps kept (the
  *    windowed aggs see ×F density per window — the scale shape that
  *    stresses them).
  *  - documents: the ScaleProbe affine letter map (copy k remaps
  *    letters via i → (a·i+b) mod 26 and prepends a per-copy salt
  *    token), so token n-grams / trigram shingles are disjoint across
  *    copies and dedup candidate volume scales linearly, never
  *    quadratically; n_chars is recomputed from the mapped text.
  *  - embeddings: copy k circularly shifts the vector by k dims —
  *    norms preserved, copies decorrelated, within-copy similarity
  *    structure intact (requires F < dim).
  *
  * Usage: runMain graft.tools.SfScaleBuild [sfDir] [factor] [outDir]
  * e.g.   runMain graft.tools.SfScaleBuild /root/testdata/sf0.1 10 /tmp/sf1 */
object SfScaleBuild {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val outDir = args.drop(2).headOption.getOrElse("/tmp/sf1")
    require(factor >= 2 && factor <= 156, "factor in [2, 156]")
    val spark = graft.SparkEntry.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val Shift = 1000000000L

    def read(t: String): DataFrame =
      spark.read.parquet(s"$sfDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[sfbuild] $t -> $outDir/$t.parquet")
    }
    def copies(df: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => mk(df, k)).reduce(_ unionByName _)
    def shifted(df: DataFrame, keys: String*): DataFrame =
      copies(df) { (d, k) =>
        keys.foldLeft(d)((acc, c) =>
          acc.withColumn(c, col(c) + lit(k * Shift)))
      }

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(shifted(read("customer"), "c_custkey"), "customer")
    write(shifted(read("supplier"), "s_suppkey"), "supplier")
    write(shifted(read("part"), "p_partkey"), "part")
    write(shifted(read("orders"), "o_orderkey", "o_custkey"), "orders")
    write(shifted(read("lineitem"),
      "l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    // events: the user_id shift must (a) clear the observed base user
    // population per copy (or copies collide and the user population
    // silently shrinks) and (b) keep every shifted id inside
    // q21_bitmap_distinct's declared exact-bitmap domain [0, 2^20) —
    // derive the shift from the data and fail LOUDLY at build time
    // instead of mid-bench (r14 advice: the fixed 10^4 shift breaks
    // both ways — factor >= 105 exceeds 2^20, a base with user_id >=
    // 10^4 would collide copies)
    val events1 = read("events")
    val maxUserId = events1.agg(max(col("user_id"))).head().getLong(0)
    val userShift = maxUserId + 1
    require((factor - 1).toLong * userShift + maxUserId < (1L << 20),
      s"factor $factor with observed max user_id $maxUserId would push " +
        s"shifted user_ids past q21's exact-bitmap domain [0, 2^20): " +
        s"cap factor at ${((1L << 20) - 1 - maxUserId) / userShift + 1}")
    write(copies(events1) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * Shift))
        .withColumn("user_id", col("user_id") + lit(k * userShift))
    }, "events")

    // documents: the ScaleProbe affine-map device (see ScaleProbe's
    // object doc for the ≤2-letter pairwise-agreement argument that
    // keeps cross-copy trigram Jaccard ≲ 2%)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val aSet = Array(1, 3, 5, 7, 9, 11)
    def affine(k: Int): String = {
      val a = aSet((k / 26) % aSet.length)
      val b = k % 26
      String.valueOf((0 until 26)
        .map(i => ('a' + (a * i + b) % 26).toChar).toArray)
    }
    val docs1 = read("documents")
    write(copies(docs1) { (d, k) =>
      val mapped =
        if (k == 0) col("text")
        else concat(lit(s"q$k" * 3 + " "),
          translate(col("text"), lower + lower.toUpperCase,
            affine(k) + affine(k).toUpperCase))
      d.select(
        (col("doc_id") + lit(k * Shift)).as("doc_id"),
        mapped.as("text"), col("lang"), col("source"),
        length(mapped).cast("long").as("n_chars"))
    }, "documents")

    val emb1 = read("embeddings")
    val dim = emb1.select(size(col("embedding"))).head().getInt(0)
    require(factor < dim, s"embedding circular shift needs factor < $dim")
    write(copies(emb1) { (e, k) =>
      val rot = k % dim
      e.select(
        (col("vec_id") + lit(k * Shift)).as("vec_id"),
        concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot)).as("embedding"),
        col("label"))
    }, "embeddings")
    spark.stop()
  }
}
