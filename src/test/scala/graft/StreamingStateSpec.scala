package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamPipeline

/** Stateful streaming operators: watermarked windows, late-data
  * eviction, dedup-within-watermark. */
class StreamingStateSpec extends AnyFunSuite with SparkSessionFixture {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("watermarked tumbling window aggregates by event time; late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamPipeline.windowedCounts(
      input.toDF().toDF("ts", "k"), "ts", "k", "10 minutes", "5 minutes")
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
    val sessions = StreamPipeline.sessionWindowCounts(
      input.toDF().toDF("ts", "k"), "ts", "k", "5 minutes", "5 minutes")
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
    val dedup = StreamPipeline.minhashDedupWithinWatermark(
      input.toDF().toDF("ts", "text"), "text", "ts", "10 minutes")
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

  test("streaming chunk dedup suppresses repeated windows, passes fresh ones") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val dedup = StreamPipeline.chunkDedupStream(
      input.toDF().toDF("ts", "text"), "text", "ts", "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("chunk_dedup_out")
      .outputMode("append").start()

    // short docs (< 24 tokens) are exactly one chunk each; the second
    // doc repeats the first's window verbatim, the third is fresh
    val boiler = "subscribe to our newsletter for updates and offers"
    input.addData(
      (ts(1), boiler),
      (ts(2), boiler),
      (ts(3), "a completely different document about spark engines"))
    q.processAllAvailable()
    input.addData((ts(4), boiler)) // still within horizon → suppressed
    q.processAllAvailable()
    q.stop()

    val fps = spark.table("chunk_dedup_out").select("chunk_fp").collect()
      .map(_.getString(0))
    assert(fps.length == 2, s"expected 2 first-occurrence chunks, got ${fps.length}")
    assert(fps.distinct.length == 2)
    // the surviving chunks are the two distinct windows
    val chunks = spark.table("chunk_dedup_out").select("chunk").collect()
      .map(_.getSeq[String](0).mkString(" "))
    assert(chunks.count(_.contains("newsletter")) == 1)
    assert(chunks.count(_.contains("spark")) == 1)
  }

  test("stream-stream join matches purchases within the click horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long)]
    val joined = StreamPipeline.clickPurchaseJoin(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id"),
      "user_id", "ts", horizon = "10 minutes", watermark = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()

    purchases.addData((ts(1), 7L), (ts(30), 7L))  // one in, one out of range
    clicks.addData((ts(8), 7L), (ts(8), 9L))      // user 9 never purchases
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ss_join")
      .select(col("user"), col("click_ts").cast("string"),
        col("purchase_ts").cast("string")).collect()
    assert(rows.length == 1, rows.mkString("; "))
    assert(rows(0).getLong(0) == 7L)
    assert(rows(0).getString(2) == "2026-01-01 10:01:00")
  }

  test("left-outer stream-stream join emits null-extended rows post-watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long)]
    val joined = StreamPipeline.clickPurchaseJoin(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id"),
      "user_id", "ts", horizon = "10 minutes", watermark = "5 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ss_join_lo")
      .outputMode("append").start()
    try {
      purchases.addData((ts(5), 7L))
      clicks.addData((ts(8), 7L), (ts(8), 9L))   // user 9 never purchases
      q.processAllAvailable()
      // user 9's click cannot finalize yet — a purchase could still
      // arrive until the watermark passes the horizon-extended click
      // time; push both watermarks far past it
      clicks.addData((ts(120), 1L))
      purchases.addData((ts(120), 1L))
      q.processAllAvailable()
      val rows = spark.table("ss_join_lo")
        .select(col("user"), col("purchase_ts").cast("string")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows.contains((7L, "2026-01-01 10:05:00")))   // matched
      assert(rows.contains((9L, null)), rows.toString)     // null-extended once
      assert(rows.count(_._1 == 9L) == 1)
    } finally q.stop()
  }

  test("full-outer stream-stream join finalizes BOTH sides' orphans") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long)]
    val joined = StreamPipeline.clickPurchaseJoin(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id"),
      "user_id", "ts", horizon = "10 minutes", watermark = "5 minutes",
      joinType = "full_outer")
    val q = joined.writeStream.format("memory").queryName("ss_join_fo")
      .outputMode("append").start()
    try {
      purchases.addData((ts(5), 7L), (ts(30), 11L)) // 11: purchase, no click
      clicks.addData((ts(8), 7L), (ts(8), 9L))      // 9: click, no purchase
      q.processAllAvailable()
      clicks.addData((ts(120), 1L))   // advance both watermarks
      purchases.addData((ts(120), 1L))
      q.processAllAvailable()
      val rows = spark.table("ss_join_fo")
        .select(col("user"), col("click_ts").cast("string"),
          col("purchase_ts").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // matched pair joins normally
      assert(rows.exists(r => r._1 == 7L && r._2 != null && r._3 != null))
      // click-side orphan: null purchase, exactly once
      assert(rows.count(_._1 == 9L) == 1)
      assert(rows.exists(r => r._1 == 9L && r._3 == null))
      // purchase-side orphan: null click, key coalesced from the right
      assert(rows.count(_._1 == 11L) == 1)
      assert(rows.exists(r => r._1 == 11L && r._2 == null && r._3 != null))
    } finally q.stop()
  }

  test("stream-stream join accepts inputs already named user/click_ts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // key/time columns carrying the reserved output names themselves —
    // the pre-fix implementation broke at analysis on the self-shadowing
    // select(col("user").as("user"), col("*")).drop("user")
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long)]
    val joined = StreamPipeline.clickPurchaseJoin(
      clicks.toDF().toDF("click_ts", "user"),
      purchases.toDF().toDF("click_ts", "user"),
      "user", "click_ts", horizon = "10 minutes", watermark = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join_resv")
      .outputMode("append").start()
    purchases.addData((ts(1), 7L))
    clicks.addData((ts(8), 7L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join_resv")
      .select(col("user"), col("purchase_ts").cast("string")).collect()
    assert(rows.length == 1, rows.mkString("; "))
    assert(rows(0).getLong(0) == 7L)
    assert(rows(0).getString(1) == "2026-01-01 10:01:00")

    // a PAYLOAD column squatting a reserved name is rejected up front
    val bad = intercept[IllegalArgumentException] {
      StreamPipeline.clickPurchaseJoin(
        spark.range(1).select(col("id").as("uid"),
          current_timestamp().as("t"), lit("x").as("purchase_ts")),
        spark.range(1).select(col("id").as("uid"),
          current_timestamp().as("t")),
        "uid", "t", horizon = "10 minutes", watermark = "5 minutes")
    }
    assert(bad.getMessage.contains("purchase_ts"))
  }

  test("band-level minhash dedup suppresses a near-dup exact-sig dedup keeps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    // pick, from real documents, a pair sharing >= 1 LSH band but NOT
    // the full signature: signature-exact dedup keeps both, the
    // band-level stream must suppress the later one
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = DedupOps.withMinhashSignature(docs, "doc_id", "text")
      .withColumn("sigkey",
        md5(concat_ws(",", transform(col("sig"), _.cast("string")))))
    val cand = DedupOps.minhashCandidatePairs(docs, "doc_id", "text")
      .join(sig.select(col("doc_id").as("doc_a"), col("sigkey").as("ka")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sigkey").as("kb")), "doc_b")
      .filter(col("ka") =!= col("kb"))
      .orderBy("doc_a", "doc_b")
      .select("doc_a", "doc_b").head()
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").head().getString(0)
    val ta = textOf(cand.getLong(0))
    val tb = textOf(cand.getLong(1))

    val input = MemoryStream[(Timestamp, String)]
    val decisions = StreamPipeline.minhashBandDedupStream(
      input.toDF().toDF("ts", "text"), "text", "ts",
      watermarkMs = 60 * 60 * 1000)
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = decisions.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        kept.synchronized {
          kept ++= StreamPipeline.collapseBandDecisions(b)
            .collect().map(_.getString(1))
        }
        ()
      }.start()
    // exact in-batch repeat of ta: exactly one survives
    input.addData((ts(1), ta), (ts(1), ta))
    q.processAllAvailable()
    // near-dup inside the watermark: >= 1 shared band → suppressed
    input.addData((ts(2), tb))
    q.processAllAvailable()
    // unrelated text: no shared band → kept
    input.addData((ts(3), "completely unrelated fresh prose about gardening tools"))
    q.processAllAvailable()
    q.stop()

    assert(kept.count(_ == ta) == 1, s"ta kept ${kept.count(_ == ta)} times")
    assert(!kept.contains(tb), "band-colliding near-dup was not suppressed")
    assert(kept.exists(_.contains("gardening")))
    assert(kept.size == 2)
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions per user") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = StreamPipeline.sessionizeWithState(
      input.toDF().toDF("ts", "user_id"), "user_id", "ts",
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("fmgws_sess")
      .outputMode("append").start()

    // user 7: events at 10:01,10:02 then a gap, then 10:31 → 2 sessions
    input.addData((ts(1), 7L), (ts(2), 7L), (ts(31), 7L))
    q.processAllAvailable()
    // advance the watermark far enough to time out the second session
    input.addData((ts(59), 8L))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 8L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("fmgws_sess")
      .select("user", "sess_start_ms", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains((7L, ts(1).getTime, 2L)), rows.toString)
    assert(rows.contains((7L, ts(31).getTime, 1L)), rows.toString)
  }

  test("sessionizer: late in-watermark event cannot mis-split a session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = StreamPipeline.sessionizeWithState(
      input.toDF().toDF("ts", "user_id"), "user_id", "ts",
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("fmgws_late")
      .outputMode("append").start()

    input.addData((ts(10), 7L))
    q.processAllAvailable()
    // late arrival (10:05 < state.last 10:10, inside the watermark):
    // must merge into the open session without dragging `last` back
    input.addData((ts(5), 7L))
    q.processAllAvailable()
    // 10:16 is 6 min after the true last event (10:10) → same session
    input.addData((ts(16), 7L))
    q.processAllAvailable()
    // time the session out with a far-future event from another user
    input.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 8L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("fmgws_late")
      .filter(col("user") === 7L)
      .select("sess_start_ms", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly ONE session, started at the (late) earliest event, n=3 —
    // the pre-fix code closed a bogus session at 10:16
    assert(rows == Set((ts(5).getTime, 3L)), rows.toString)
  }

  test("streaming funnel: view -> click -> purchase emits once, order enforced") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val funnels = StreamPipeline.funnelWithState(
      input.toDF().toDF("ts", "user_id", "event_type"),
      "user_id", "event_type", "ts", horizonMs = 60 * 60 * 1000)
    val q = funnels.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()

    // user 7 progresses across BATCHES; user 8's purchase precedes its
    // click (order violated → never completes); user 9 never purchases
    input.addData((ts(1), 7L, "view"), (ts(2), 7L, "click"),
      (ts(1), 8L, "view"), (ts(2), 8L, "purchase"),
      (ts(1), 9L, "view"), (ts(3), 9L, "click"))
    q.processAllAvailable()
    assert(spark.table("funnel_out").count() == 0) // nothing completed yet
    input.addData((ts(5), 7L, "purchase"), (ts(3), 8L, "click"))
    q.processAllAvailable()
    // user 7 completed once; a SECOND purchase without a fresh
    // view+click must not emit again (machine reset on completion)
    input.addData((ts(8), 7L, "purchase"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("funnel_out")
      .select("user", "view_ms", "click_ms", "purchase_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set((7L, ts(1).getTime, ts(2).getTime, ts(5).getTime)),
      rows.toString)
  }
}
