package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamPipeline

/** Streaming-path tests (SURVEY.md §5.5): MemoryStream → full
  * pipeline → memory/file sinks; checkpointed restart resume;
  * foreachBatch idempotence. */
class StreamPipelineSpec extends AnyFunSuite with SparkSessionFixture {

  private def tmp(prefix: String): String = tempDir(prefix).toString

  private lazy val scorer = SparkEntry.scorer(spark)

  private def envelope(s: String): String =
    s"""{"message": "${s.replace("\"", "\\\"")}"}"""

  test("memory source → transform → memory sink produces scored rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    input.addData(
      envelope("I love this, it is a good day"),
      envelope("this is terrible and sad"),
      "not json at all")                       // malformed → null → dropped
    val q = StreamPipeline
      .transform(input.toDF().select(col("value")), scorer)
      .writeStream.format("memory").queryName("scored_mem")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("scored_mem")
      .select("message", "prediction").collect()
    assert(rows.length == 2) // malformed row dropped by na.drop
    val byMsg = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byMsg.keySet == Set(
      "I love this, it is a good day", "this is terrible and sad"))
    assert(byMsg.values.forall(p => p == 0.0 || p == 1.0))
  }

  test("console sink (S4) drains every added row without error") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Double)]
    val rows = Seq(("good day", 0.0), ("sad day", 1.0), ("meh", 0.0))
    input.addData(rows: _*)
    val q = StreamPipeline
      .toConsole(input.toDF().toDF("message", "prediction"))
      .start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.numInputRows == rows.size.toLong)
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("as-written mode prefixes the constant 'message' token (SURVEY §2g)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    input.addData(envelope("hello world"))
    val q = StreamPipeline
      .transformAsWritten(input.toDF().select(col("value")), scorer)
      .writeStream.format("memory").queryName("aswritten_mem")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val toks = spark.table("aswritten_mem")
      .select("cleaned_data").head().getSeq[String](0)
    assert(toks.head == "message")
    assert(toks.containsSlice(Seq("hello", "world")))
  }

  test("json file sink with checkpoint: restart does not duplicate (S5 exactly-once)") {
    val srcDir = tmp("stream_src")
    val outDir = tmp("stream_out")
    val ckDir = tmp("stream_ck")
    Files.writeString(
      java.nio.file.Paths.get(srcDir, "batch0.txt"),
      Seq("a good day", "bad terrible thing").map(envelope).mkString("\n"))

    def runOnce(): Unit = {
      val q = StreamPipeline.toJsonFiles(
        StreamPipeline.transform(
          StreamPipeline.fromJsonFileSource(spark, srcDir), scorer),
        outDir, ckDir).start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    val n1 = spark.read.json(outDir).count()
    runOnce() // restart from checkpoint — no new data, no duplicates
    val n2 = spark.read.json(outDir).count()
    assert(n1 == 2L && n2 == 2L)
  }

  test("foreachBatch parquet sink partitions by batch_id (S6/S7 stand-in)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("febatch_out")
    val ckDir = tmp("febatch_ck")
    val input = MemoryStream[String]
    input.addData(envelope("first wave of text"))
    val q = StreamPipeline.toForeachBatchParquet(
      StreamPipeline.transform(input.toDF().select(col("value")), scorer),
      outDir, ckDir).start()
    q.processAllAvailable()
    input.addData(envelope("second wave arrives"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
    assert(out.select("batch_id").distinct().count() == 2L)
    assert(out.count() == 2L)
  }

  test("foreachBatch sink merges evolving schemas (S7 mergeSchema)") {
    import spark.implicits._
    val outDir = tmp("febmerge_out")
    val write = StreamPipeline.mergeSchemaParquetWriter(outDir)

    // batch 0: envelope v1 — (message) only
    write(Seq("hello world").toDF("message"), 0L)
    // batch 1: envelope v2 — adds a `lang` column
    write(Seq(("bonjour", "fr")).toDF("message", "lang"), 1L)
    // batch 2: envelope v3 — drops `lang` again; the writer must align
    // it back to the union schema (typed null), not break the write
    write(Seq("third").toDF("message"), 2L)

    val out = spark.read.option("mergeSchema", "true").parquet(outDir)
    assert(out.columns.toSet == Set("message", "lang", "batch_id"))
    assert(out.count() == 3L)
    val byMsg = out.collect().map(r =>
      r.getAs[String]("message") -> r.getAs[String]("lang")).toMap
    assert(byMsg("hello world") == null) // pre-evolution rows read as null
    assert(byMsg("bonjour") == "fr")
    assert(byMsg("third") == null)       // post-evolution writer aligned

    // replay of batch 2 (at-least-once) stays idempotent post-merge
    write(Seq("third").toDF("message"), 2L)
    assert(spark.read.option("mergeSchema", "true").parquet(outDir).count() == 3L)
  }

  test("mergeSchema writer casts or rejects a re-typed column (S7)") {
    import spark.implicits._
    val outDir = tmp("febretype_out")
    val write = StreamPipeline.mergeSchemaParquetWriter(outDir)

    // batch 0 records `score` as long
    write(Seq(("a", 10L)).toDF("message", "score"), 0L)
    // batch 1 re-sends `score` as int: lossless upcast back to long,
    // the table stays readable with one footer type
    write(Seq(("b", 7)).toDF("message", "score"), 1L)
    val out = spark.read.option("mergeSchema", "true").parquet(outDir)
    assert(out.schema("score").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.select("score").collect().map(_.getLong(0)).sorted
      .sameElements(Array(7L, 10L)))

    // batch 2 re-sends `score` as string: no lossless cast — the batch
    // must FAIL (writing as-is would poison later mergeSchema reads)
    val err = intercept[IllegalStateException] {
      write(Seq(("c", "oops")).toDF("message", "score"), 2L)
    }
    assert(err.getMessage.contains("score"))
    // and the failed batch wrote nothing
    assert(spark.read.option("mergeSchema", "true").parquet(outDir)
      .count() == 2L)
  }

  /** Twelve seeded docs in three micro-batches. */
  private val restartBatches: Seq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(7)
    (0 until 12).map { k =>
      (1000L + k, Seq.fill(30)(s"w${rnd.nextInt(400)}").mkString(" "))
    }.grouped(4).toSeq
  }

  test("restart: a fresh mergeSchemaParquetWriter replays the last batch " +
       "and continues exactly like one clean run") {
    import spark.implicits._
    def batch(i: Int) = restartBatches(i).toDF("doc_id", "text")
    def rows(path: String): Seq[String] =
      spark.read.option("mergeSchema", "true").parquet(path)
        .collect().map(_.toString).toSeq.sorted
    val cleanDir = tmp("restart_clean")
    val clean = StreamPipeline.mergeSchemaParquetWriter(cleanDir)
    (0 to 2).foreach(i => clean(batch(i), i.toLong))

    val outDir = tmp("restart_out")
    val first = StreamPipeline.mergeSchemaParquetWriter(outDir)
    first(batch(0), 0L)
    first(batch(1), 1L)
    // a restart builds a NEW writer over the existing table; the
    // checkpoint replays the last uncommitted batch, then moves on
    val restarted = StreamPipeline.mergeSchemaParquetWriter(outDir)
    restarted(batch(1), 1L)
    restarted(batch(2), 2L)

    val want = rows(cleanDir)
    assert(want.nonEmpty, "the writer wrote nothing on the fixture")
    assert(want.distinct == want, "clean run has duplicate rows")
    assert(rows(outDir) == want, "restart diverged from a clean run")
  }

  test("serving path restart: graft-envelope -> transform -> toJsonFiles " +
       "commits each doc once, like one clean run") {
    import spark.implicits._
    val waveA = Seq("a good day for a walk", "bad terrible thing", "meh")
    val waveB = Seq("second wave, happy news", "sad and gloomy end")
    def publish(texts: Seq[String], dir: String): Unit =
      graft.sources.EnvelopeFeed.publishWave(texts.toDF("t"), "t", dir)
    def start(src: String, out: String, ck: String) =
      StreamPipeline.toJsonFiles(
        StreamPipeline.transform(
          spark.readStream.format("graft-envelope").load(src)
            .select(col("value")), scorer),
        out, ck).start()
    // committed rows (the sink's _spark_metadata view), created_at left out
    def committed(out: String): Seq[String] =
      spark.read.json(out)
        .select(col("message"), col("cleaned_data"), col("prediction"))
        .collect().map(_.toString).toSeq.sorted

    val src = tmp("serve_src")
    val out = tmp("serve_out")
    val ck = tmp("serve_ck")
    publish(waveA, src)
    val q1 = start(src, out, ck)
    q1.processAllAvailable()
    q1.stop()
    publish(waveB, src)
    val q2 = start(src, out, ck)
    q2.processAllAvailable()
    q2.stop()

    val cleanSrc = tmp("serve_clean_src")
    publish(waveA, cleanSrc)
    publish(waveB, cleanSrc)
    val cleanOut = tmp("serve_clean_out")
    val q = start(cleanSrc, cleanOut, tmp("serve_clean_ck"))
    q.processAllAvailable()
    q.stop()

    val want = committed(cleanOut)
    assert(want.length == waveA.length + waveB.length)
    val got = committed(out)
    assert(got.distinct == got, "restart committed a doc twice")
    assert(got == want, "restart diverged from a clean run")
  }

  test("incremental batch (AvailableNow) processes only new files per run") {
    val srcDir = tmp("incr_src")
    val outDir = tmp("incr_out")
    val ckDir = tmp("incr_ck")
    def runIncremental(): Unit =
      StreamPipeline.toJsonFiles(
        StreamPipeline.transform(
          StreamPipeline.fromJsonFileSource(spark, srcDir), scorer),
        outDir, ckDir)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/a.jsonl"),
      envelope("first file text") + "\n")
    runIncremental()
    assert(spark.read.json(outDir).count() == 1L)

    // second run: one new file — only it is processed (checkpointed
    // file-source offsets), and the run terminates on its own
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/b.jsonl"),
      envelope("second file text") + "\n")
    runIncremental()
    val out = spark.read.json(outDir)
    assert(out.count() == 2L)
    assert(out.select("message").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("first file text", "second file text"))
  }
}
