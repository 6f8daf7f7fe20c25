package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.plans.{HashedTrigrams32, MinHashSignature}

/** Spark's built-in stateful streaming, spelled inline: watermarked
  * tumbling and session windows, late-data eviction, and
  * dedup-within-watermark (on a raw key and on the registered
  * `minhash_signature` over `hashed_trigrams32`). */
class StreamingStateSpec extends AnyFunSuite with SparkSessionFixture {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("watermarked tumbling window aggregates by event time; late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val counts = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("k"), col("n"))
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()

    input.addData((ts(1), "a"), (ts(2), "a"), (ts(11), "b"))
    q.processAllAvailable()
    // advance watermark beyond 10:10 so the first window finalizes
    input.addData((ts(21), "c"))
    q.processAllAvailable()
    // a record for the already-finalized 10:00 window arrives too late
    input.addData((ts(3), "a"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_counts")
      .select(col("bucket").cast("string"), col("k"), col("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // the finalized 10:00 window holds exactly the 2 on-time 'a' rows —
    // the late third 'a' was dropped by the watermark
    assert(rows.contains(("2026-01-01 10:00:00", "a", 2L)), rows.toString)
    assert(!rows.exists(r => r._2 == "a" && r._3 == 3L))
  }

  test("session_window merges gap-close events and finalizes on watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val sessions = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("k"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    try {
      // 10:01 and 10:03 merge (gap < 5m); 10:20 starts a new session
      input.addData((ts(1), "a"), (ts(3), "a"), (ts(20), "a"))
      q.processAllAvailable()
      // advance the watermark far past 10:08 so session 1 finalizes
      input.addData((ts(40), "b"))
      q.processAllAvailable()
      val rows = spark.table("sess_win")
        .select(col("s_start").cast("string"), col("s_end").cast("string"),
          col("k"), col("n")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      // merged session: [10:01, 10:08) (end = last event + gap), n = 2
      assert(rows.contains(
        ("2026-01-01 10:01:00", "2026-01-01 10:08:00", "a", 2L)), rows.toString)
      // the 10:20 singleton is its own session once finalized
      assert(rows.contains(
        ("2026-01-01 10:20:00", "2026-01-01 10:25:00", "a", 1L)), rows.toString)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark evicts dup ids inside the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val dedup = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()

    input.addData((ts(1), "x"), (ts(2), "x"), (ts(3), "y"))
    q.processAllAvailable()
    input.addData((ts(4), "x")) // still within horizon → dropped
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("dedup_out").select("id").collect().map(_.getString(0))
    assert(ids.sorted.toSeq == Seq("x", "y"))
  }

  test("streaming minhash dedup drops signature-identical near-dups") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val sigKey = md5(concat_ws(",", transform(
      MinHashSignature(HashedTrigrams32(col("text"))), x => x.cast("string"))))
    val dedup = input.toDF().toDF("ts", "text")
      .withColumn("__sigkey", sigKey)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("__sigkey")
      .drop("__sigkey")
    val q = dedup.writeStream.format("memory").queryName("mh_dedup_out")
      .outputMode("append").start()

    // same trigram set after lowercasing → same signature → near-dup,
    // even though the raw strings differ (exact dedup would keep both)
    input.addData(
      (ts(1), "The quick brown fox jumps over the lazy dog"),
      (ts(2), "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),
      (ts(3), "a completely different document about spark engines"))
    q.processAllAvailable()
    input.addData((ts(4), "the quick brown fox jumps over the lazy dog"))
    q.processAllAvailable()
    q.stop()

    val texts = spark.table("mh_dedup_out").select("text").collect()
      .map(_.getString(0))
    assert(texts.length == 2, texts.mkString("; "))
    assert(texts.count(_.toLowerCase.contains("quick brown fox")) == 1)
    // signature helper columns must not leak into the output
    assert(spark.table("mh_dedup_out").columns.toSet == Set("ts", "text"))
  }
}
