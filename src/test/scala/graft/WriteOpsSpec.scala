package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sinks.WriteOps

class WriteOpsSpec extends AnyFunSuite with SparkSessionFixture {

  test("partitioned + sorted + size-bounded parquet layout") {
    val out = tempDir("writeops").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    WriteOps.partitionedSorted(docs, out,
      partitionCols = Seq("lang"), sortCols = Seq("doc_id"),
      maxRecordsPerFile = 50L)

    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(dirs.length == 5, dirs.mkString(","))

    // size bound: en has ~190 docs → ≥ 4 files under lang=en
    val enFiles = new java.io.File(s"$out/lang=en").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(enFiles.length >= 4)

    // within every file rows are sorted by doc_id
    enFiles.foreach { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"unsorted file ${f.getName}")
    }

    // round trip: nothing lost, partition pruning works
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    val pruned = back.filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
  }

  test("small-file compaction: fewer files, identical rows, idempotent") {
    import spark.implicits._
    val dir = tempDir("compact").toString + "/t"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(20).write.parquet(dir) // 20 tiny files
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 20)
    val expected = docs.select("doc_id", "lang").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val stats = WriteOps.compactSmallFiles(spark, dir, 64L * 1024 * 1024)
    assert(stats.compacted && stats.filesBefore == before)
    assert(parquetFiles == stats.filesAfter && stats.filesAfter < before)
    // rows survive the rewrite byte-for-value
    val after = spark.read.parquet(dir).select("doc_id", "lang")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == expected)
    // no leftover tmp/old dirs from the swap
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("compact.")), parent.toSeq.toString)
    // second run is a no-op
    val again = WriteOps.compactSmallFiles(spark, dir, 64L * 1024 * 1024)
    assert(!again.compacted && again.filesAfter == stats.filesAfter)
  }

  test("partition-aware compaction: per-leaf rewrite, pruning and rows intact") {
    import spark.implicits._
    val dir = tempDir("compactp").toString + "/t"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang").isin("en", "de"))
    // many tiny files inside each partition directory (the streaming-
    // append accretion pattern compaction exists for)
    docs.repartition(10).write.partitionBy("lang").parquet(dir)
    def filesIn(sub: String) = {
      val d = new java.io.File(s"$dir/$sub")
      if (!d.isDirectory) 0
      else d.listFiles.count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val beforeEn = filesIn("lang=en")
    val beforeDe = filesIn("lang=de")
    assert(beforeEn >= 5 && beforeDe >= 5, s"$beforeEn/$beforeDe")
    val expected = docs.select("doc_id", "lang").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val stats = WriteOps.compactSmallFiles(spark, dir, 64L * 1024 * 1024)
    // per-partition file counts drop; partition dirs survive by name
    assert(stats.compacted && stats.filesBefore == beforeEn + beforeDe)
    assert(filesIn("lang=en") < beforeEn && filesIn("lang=de") < beforeDe)
    assert(filesIn("lang=en") + filesIn("lang=de") == stats.filesAfter)
    // rows and the partition column survive the rewrite
    val after = spark.read.parquet(dir).select("doc_id", "lang")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == expected)
    // partition pruning still plans off the directory names
    val scan = spark.read.parquet(dir).filter(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    // no compact leftovers anywhere under the table root
    def sweep(f: java.io.File): Seq[String] =
      f.listFiles.toSeq.flatMap(c =>
        c.getName +: (if (c.isDirectory) sweep(c) else Seq.empty))
    assert(!sweep(new java.io.File(dir)).exists(_.contains(".compact.")),
      sweep(new java.io.File(dir)).toString)
    // idempotent across the whole tree
    val again = WriteOps.compactSmallFiles(spark, dir, 64L * 1024 * 1024)
    assert(!again.compacted && again.filesAfter == stats.filesAfter)
  }

  test("compaction crash recovery: a parked leaf is restored, then compacted") {
    import spark.implicits._
    val dir = tempDir("compactr").toString + "/t"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang").isin("en", "de"))
    docs.repartition(8).write.partitionBy("lang").parquet(dir)
    val expected = docs.count()
    // simulate a crash between the two renames: leaf data parked at
    // .compact.old.<leaf>, nothing at the live path (r7 advice: this
    // exact state used to require manual recovery)
    val en = new java.io.File(s"$dir/lang=en")
    val parked = new java.io.File(s"$dir/.compact.old.lang=en")
    assert(en.renameTo(parked))
    assert(!en.exists)
    // plus an incomplete tmp from the same doomed run
    val tmp = new java.io.File(s"$dir/.compact.tmp.lang=de")
    assert(tmp.mkdir())
    val stats = WriteOps.compactSmallFiles(spark, dir, 64L * 1024 * 1024)
    // the parked leaf came back and was compacted with the rest
    assert(stats.compacted && en.isDirectory && !parked.exists && !tmp.exists)
    assert(spark.read.parquet(dir).count() == expected)
    // a parked ROOT (flat-table crash) restores too
    val flat = tempDir("compactr2").toString + "/f"
    docs.repartition(5).write.parquet(flat)
    val f = new java.io.File(flat)
    val fParked = new java.io.File(f.getParent, ".compact.old.f")
    assert(f.renameTo(fParked))
    val s2 = WriteOps.compactSmallFiles(spark, flat, 64L * 1024 * 1024)
    assert(s2.compacted && f.isDirectory && !fParked.exists)
    assert(spark.read.parquet(flat).count() == expected)
  }

  test("mid-stream compaction under a live foreachBatch parquet sink") {
    // the S5-at-scale loop the reference's file sink implies: a
    // micro-batch stream appends small batch_id partitions forever;
    // maintenance compacts them WHILE the query is live (between
    // triggers — the per-leaf rewrite-and-swap never touches a leaf
    // the writer is currently producing, because each batch writes
    // only its own new batch_id partition); rows, partition pruning,
    // and the writer's subsequent appends must all survive the swap
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tempDir("streamcompact").toString
    val dir = s"$root/t"
    val cp = s"$root/cp"
    val input = MemoryStream[(Long, String)]
    // repartition(4): every batch leaf lands as 4 small files — the
    // long-running-stream pathology compaction exists for
    val q = graft.streaming.StreamPipeline.toForeachBatchParquet(
      input.toDF().toDF("id", "txt").repartition(4), dir, cp).start()
    try {
      (0 until 3).foreach { b =>
        input.addData((0 until 20).map(i => (b * 100L + i, s"row $b/$i")))
        q.processAllAvailable()
      }
      val leaf0 = new java.io.File(s"$dir/batch_id=0")
      val before = leaf0.listFiles().count(_.getName.endsWith(".parquet"))
      assert(before >= 2, s"expected a small-file leaf, got $before")

      // maintenance pass between triggers, query still running
      val stats = WriteOps.compactSmallFiles(spark, dir, 64L * 1024 * 1024)
      assert(stats.compacted, "compaction should have rewritten leaves")
      val after = leaf0.listFiles().count(_.getName.endsWith(".parquet"))
      assert(after < before, s"leaf not compacted: $before -> $after")

      // rows intact, pruning still plans off batch_id directories
      val back = spark.read.parquet(dir)
      assert(back.count() === 60L)
      val pruned = back.filter(col("batch_id") === 1)
      assert(pruned.count() === 20L)
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [isnotnull(batch_id"), scan)

      // the live writer keeps appending after the swap
      input.addData((0 until 20).map(i => (300L + i, s"row 3/$i")))
      q.processAllAvailable()
      val all = spark.read.parquet(dir)
      assert(all.count() === 80L)
      assert(all.select("id").distinct().count() === 80L,
        "duplicate or lost rows across the compaction swap")
    } finally q.stop()
  }

  test("co-bucketed tables join with zero exchanges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    WriteOps.bucketedTable(docs, "docs_bkt",
      bucketCols = Seq("doc_id"), sortCols = Seq("doc_id"), numBuckets = 4)
    WriteOps.bucketedTable(emb.withColumnRenamed("vec_id", "doc_id"),
      "emb_bkt",
      bucketCols = Seq("doc_id"), sortCols = Seq("doc_id"), numBuckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a shuffle-family join so the assertion proves the bucket
      // layout (a broadcast join would trivially have no exchange)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("docs_bkt")
        .join(spark.table("emb_bkt"), "doc_id")
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // co-bucketed sides satisfy the join's distribution requirement
      // from the file layout: no doc_id exchange anywhere in the plan
      assert(!plan.contains("Exchange hashpartitioning(doc_id"), plan)
      assert(joined.collect().map(_.getLong(1)).sum == docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS docs_bkt")
      spark.sql("DROP TABLE IF EXISTS emb_bkt")
    }
  }
}
