package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamPipeline

/** Streaming-path tests (SURVEY.md §5.5): MemoryStream → full
  * pipeline → memory/file sinks; checkpointed restart resume;
  * foreachBatch idempotence. */
class StreamPipelineSpec extends AnyFunSuite with SparkSessionFixture {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

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

  test("stream-static decontamination drops docs sharing a gram with the held-out set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // held-out benchmark doc → its 3-gram hashes, built with the d8
    // batch spelling (generator + md5)
    val benchmark = Seq("the quick brown fox jumps high").toDF("text")
      .select(graft.functions.TextOps.cleanTokens(col("text")).as("toks"))
      .select(graft.plans.NgramGenerate.of(col("toks"), 3).as("ng"))
      .select(md5(col("ng")).as("gh")).distinct()

    val input = MemoryStream[(Long, String)]
    input.addData(
      (1L, "totally unrelated text with different words entirely"),
      (2L, "i saw the quick brown fox yesterday evening"), // shares "the quick brown"
      (3L, "short one"))                                   // < 3 tokens → kept
    val q = StreamPipeline
      .decontaminateStream(
        input.toDF().toDF("doc_id", "text"), "text", benchmark, n = 3)
      .writeStream.format("memory").queryName("decon_mem")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("decon_mem").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
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

  test("incremental admission stream matches the d14 batch operator per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    // batch-operator reference: the admitted (dup_of NULL) delta ids
    val (flags, release) = DedupOps.incrementalDedupReleasable(
      base, docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 0.6)
    val expected = flags.filter(col("dup_of").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    release()
    val outDir = tmp("admit_out")
    val ckDir = tmp("admit_ck")
    val input = MemoryStream[(Long, String)]
    val (half1, half2) = delta.splitAt(delta.length / 2)
    input.addData(half1.toSeq)
    val q = StreamPipeline.toForeachBatch(
      input.toDF().toDF("doc_id", "text"), ckDir)(
      StreamPipeline.admitBatchWriter(base, "doc_id", "text", 0.6, outDir))
      .start()
    q.processAllAvailable()
    input.addData(half2.toSeq)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
    assert(out.select("batch_id").distinct().count() == 2L)
    val admitted = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // batch-vs-base admission is per-doc independent, so splitting the
    // delta across micro-batches must not change the admitted set
    assert(admitted == expected)

    // at-least-once replay: re-running a batch through the writer
    // overwrites its own batch_id partition — row count is unchanged
    val writer = StreamPipeline.admitBatchWriter(
      base, "doc_id", "text", 0.6, outDir)
    val n1 = spark.read.parquet(outDir).count()
    writer(half2.toSeq.toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(outDir).count() == n1, "replay duplicated rows")
    // a retry can also repeat ids WITHIN one batch — the writer must
    // dedupe them, not square them through the admitted join
    writer((half2 ++ half2).toSeq.toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(outDir).count() == n1,
      "within-batch duplicate ids multiplied rows")
  }

  test("exact-substring admission stream matches the vs-base batch operator under splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    import graft.functions.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val deltaDf = docs.filter(col("doc_id") % 5 === 0)
    val delta = deltaDf.select("doc_id", "text").as[(Long, String)].collect()
    // batch-operator reference over the WHOLE delta
    val expected = DedupOps.exactSubstringSpansVsBase(
        deltaDf, base, "doc_id",
        TextOps.cleanTokens(col("text")), TextOps.cleanTokens(col("text")),
        window = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(expected.nonEmpty, "fixture produced no vs-base spans")
    val outDir = tmp("espan_out")
    val ckDir = tmp("espan_ck")
    val input = MemoryStream[(Long, String)]
    val (half1, half2) = delta.splitAt(delta.length / 2)
    input.addData(half1.toSeq)
    val q = StreamPipeline.toForeachBatch(
      input.toDF().toDF("doc_id", "text"), ckDir)(
      StreamPipeline.exactSubstringBatchWriter(
        base, "doc_id", "text", 10, outDir))
      .start()
    q.processAllAvailable()
    input.addData(half2.toSeq)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
    assert(out.select("batch_id").distinct().count() == 2L)
    val got = out.select("doc_id", "span_start", "span_end", "span_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the census side is the static base alone, so micro-batch splits
    // must not change any doc's spans
    assert(got == expected)
    // at-least-once replay rewrites its own batch_id partition
    val writer = StreamPipeline.exactSubstringBatchWriter(
      base, "doc_id", "text", 10, outDir)
    val n1 = spark.read.parquet(outDir).count()
    writer(half2.toSeq.toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(outDir).count() == n1, "replay duplicated rows")
  }

  test("exact-substring STRIP stream matches the vs-base batch operator " +
       "under splits, index-fed writer included") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    import graft.functions.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val deltaDf = docs.filter(col("doc_id") % 5 === 0)
    val delta = deltaDf.select("doc_id", "text").as[(Long, String)].collect()
    val expected = DedupOps.exactSubstringStripVsBase(
        deltaDf, base, "doc_id",
        TextOps.cleanTokens(col("text")), TextOps.cleanTokens(col("text")),
        window = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    assert(expected.exists(_._3 > 0), "fixture stripped nothing")
    val outDir = tmp("estrip_out")
    val ckDir = tmp("estrip_ck")
    val input = MemoryStream[(Long, String)]
    val (half1, half2) = delta.splitAt(delta.length / 2)
    input.addData(half1.toSeq)
    val gramSet = DedupOps.baseGramSet(
      base, "doc_id", TextOps.cleanTokens(col("text")), 10)
    val q = StreamPipeline.toForeachBatch(
      input.toDF().toDF("doc_id", "text"), ckDir)(
      StreamPipeline.exactSubstringStripBatchWriter(
        gramSet, "doc_id", "text", 10, outDir))
      .start()
    q.processAllAvailable()
    input.addData(half2.toSeq)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
    assert(out.select("batch_id").distinct().count() == 2L)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_spans", "n_tokens_stripped",
        "n_tokens_kept")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
    // census side is the static base alone: micro-batch splits must
    // not change any doc's strip accounting
    assert(canon(out) == expected)
    // at-least-once replay rewrites its own batch_id partition — via
    // the INDEX-fed writer (exactly what a checkpoint-restarted
    // at-scale pipeline replays through)
    spark.sql("DROP TABLE IF EXISTS strip_stream_idx")
    DedupOps.buildGramIndex(base, "doc_id",
      TextOps.cleanTokens(col("text")), 10, "strip_stream_idx",
      numBuckets = 8)
    val writer = StreamPipeline.exactSubstringStripBatchWriter(
      spark.table("strip_stream_idx"), "doc_id", "text", 10, outDir)
    val n1 = spark.read.parquet(outDir).count()
    writer(half2.toSeq.toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(outDir).count() == n1, "replay duplicated rows")
    assert(canon(spark.read.parquet(outDir)) == expected,
      "index-fed replay changed the accounting")
  }

  test("leak-free split stream: near-dups of base inherit the base split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    // frozen base assignment of record (stand-in for batch d30 output)
    val baseSplits = base.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, "test")
        .when(col("doc_id") % 3 === 1, "val").otherwise("train").as("split"))
    val deltaDf = docs.filter(col("doc_id") % 5 === 0)
    val delta = deltaDf.select("doc_id", "text").as[(Long, String)].collect()
    val outDir = tmp("lfs_out")
    val ckDir = tmp("lfs_ck")
    val input = MemoryStream[(Long, String)]
    val (half1, half2) = delta.splitAt(delta.length / 2)
    input.addData(half1.toSeq)
    val q = StreamPipeline.toForeachBatch(
      input.toDF().toDF("doc_id", "text"), ckDir)(
      StreamPipeline.leakFreeSplitBatchWriter(
        base, baseSplits, "doc_id", "text", 0.6, outDir))
      .start()
    q.processAllAvailable()
    input.addData(half2.toSeq)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        Option(r.get(r.fieldIndex("dup_of"))).map(_.asInstanceOf[Long]),
        r.getString(r.fieldIndex("split")))).toList
    // every delta doc assigned exactly once, regardless of batching
    assert(out.map(_._1).sorted == delta.map(_._1).sorted.toList)
    val baseSplitMap = baseSplits.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch reference for the dup flags
    val (flags, release) = DedupOps.incrementalDedupReleasable(
      base, deltaDf, "doc_id", "text", 0.6)
    val dupOf = flags.collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    release()
    assert(out.exists(_._2.nonEmpty), "fixture produced no base near-dups")
    out.foreach { case (id, dup, split) =>
      assert(dup == dupOf(id), s"doc $id dup flag diverged from batch")
      dup match {
        case Some(b) =>
          // THE leak-free property: inherit the near-dup's base split
          assert(split == baseSplitMap(b), s"doc $id leaked across splits")
        case None =>
          // the d30 singleton ladder on the doc's own id
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"split:$id".getBytes("UTF-8"))
          val h32 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
            ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
          val want = (h32 % 10) match {
            case 0 => "test"; case 1 => "val"; case _ => "train"
          }
          assert(split == want, s"doc $id singleton ladder diverged")
      }
    }
  }

  // ---- restart: every batch_id writer, one spec -----------------------

  /** A seeded synthetic corpus: 30 base docs, and 12 arriving docs in
    * three micro-batches — exact copies of a base doc (near-dups that
    * inherit its split), half-copies (a shared 15-token span) and
    * fresh docs (admitted, nothing to strip). */
  private val (restartBaseRows, restartBatches) = {
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n) {
      val i = rnd.nextInt(400) // letters only: cleanTokens drops digits
      s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}q"
    }
    val base = (0L until 30L).map(i => (i, words(30)))
    val arriving = (0 until 12).map { k =>
      val ws = k % 3 match {
        case 0 => base(k)._2
        case 1 => base(k)._2.take(15) ++ words(15)
        case _ => words(30)
      }
      (1000L + k, ws.mkString(" "))
    }
    (base.map { case (i, ws) => (i, ws.mkString(" ")) }, arriving.grouped(4).toSeq)
  }
  private lazy val restartBase = {
    import spark.implicits._
    restartBaseRows.toDF("doc_id", "text")
  }

  private val restartWriters
      : Seq[(String, String => (org.apache.spark.sql.DataFrame, Long) => Unit)] = {
    import graft.operators.DedupOps
    import graft.functions.TextOps
    Seq(
      "mergeSchemaParquetWriter" -> (p => StreamPipeline.mergeSchemaParquetWriter(p)),
      "admitBatchWriter" -> (p => StreamPipeline.admitBatchWriter(
        restartBase, "doc_id", "text", 0.6, p)),
      "exactSubstringBatchWriter" -> (p => StreamPipeline.exactSubstringBatchWriter(
        restartBase, "doc_id", "text", 10, p)),
      "exactSubstringStripBatchWriter" -> (p =>
        StreamPipeline.exactSubstringStripBatchWriter(
          DedupOps.baseGramSet(restartBase, "doc_id",
            TextOps.cleanTokens(col("text")), 10), "doc_id", "text", 10, p)),
      "leakFreeSplitBatchWriter" -> (p => StreamPipeline.leakFreeSplitBatchWriter(
        restartBase,
        restartBase.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "test").otherwise("train").as("split")),
        "doc_id", "text", 0.6, p)))
  }

  restartWriters.foreach { case (name, make) =>
    test(s"restart: a fresh $name replays the last batch and continues " +
         "exactly like one clean run") {
      import spark.implicits._
      def batch(i: Int) = restartBatches(i).toDF("doc_id", "text")
      def rows(path: String): Seq[String] =
        spark.read.option("mergeSchema", "true").parquet(path)
          .collect().map(_.toString).toSeq.sorted
      val cleanDir = tmp("restart_clean")
      val clean = make(cleanDir)
      (0 to 2).foreach(i => clean(batch(i), i.toLong))

      val outDir = tmp("restart_out")
      val first = make(outDir)
      first(batch(0), 0L)
      first(batch(1), 1L)
      // a restart builds a NEW writer over the existing table; the
      // checkpoint replays the last uncommitted batch, then moves on
      val restarted = make(outDir)
      restarted(batch(1), 1L)
      restarted(batch(2), 2L)

      val want = rows(cleanDir)
      assert(want.nonEmpty, s"$name wrote nothing on the fixture")
      assert(want.distinct == want, s"$name clean run has duplicate rows")
      assert(rows(outDir) == want, s"$name restart diverged from a clean run")
    }
  }

  test("incremental batch (AvailableNow) processes only new files per run") {
    val srcDir = tmp("incr_src")
    val outDir = tmp("incr_out")
    val ckDir = tmp("incr_ck")
    def sink(df: org.apache.spark.sql.DataFrame) =
      StreamPipeline.toJsonFiles(df, outDir, ckDir)

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/a.jsonl"),
      envelope("first file text") + "\n")
    StreamPipeline.runIncremental(
      StreamPipeline.fromJsonFileSource(spark, srcDir), scorer, sink)
    assert(spark.read.json(outDir).count() == 1L)

    // second run: one new file — only it is processed (checkpointed
    // file-source offsets), and the run terminates on its own
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$srcDir/b.jsonl"),
      envelope("second file text") + "\n")
    StreamPipeline.runIncremental(
      StreamPipeline.fromJsonFileSource(spark, srcDir), scorer, sink)
    val out = spark.read.json(outDir)
    assert(out.count() == 2L)
    assert(out.select("message").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("first file text", "second file text"))
  }
}
