package graft

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
}
