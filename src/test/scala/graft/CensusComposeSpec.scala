package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, GraphOps, SimilarityOps}

/** Round-9 census composition onto MATERIALIZED labels — the 100 TB
  * contract that a governance census is a readout over the label /
  * assignment table the pipeline already wrote, never a re-run of the
  * LSH+closure (d20) or the n×C assignment (s15). Pins:
  *
  *  - [[DedupOps.fullClusterLabels]] labels EVERY document (clustered
  *    docs: component + size; singletons: own id, size 1);
  *  - the composed d21/s17 queries decompose EXACTLY into their
  *    standalone parents (d7/d20, s7/s15) — one pass, two products;
  *  - the FromLabels/FromAssignments faces reproduce the standalone
  *    censuses from materialized inputs (parquet round-trip, the t24
  *    device: what the census reads at scale is the on-disk table);
  *  - the recall and SemDeDup-census release hooks free their cache
  *    blocks (the [[DedupOps.nearDuplicatePairs]] discipline);
  *  - an over-length banding grid fails loudly at plan-build time
  *    instead of silently hashing NULL-skipped band keys.
  */
class CensusComposeSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  test("fullClusterLabels: every doc labeled; singletons = own id, size 1") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // components {1,2,3} (min 1) and {5,6} (min 5); 4 unclustered
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "component")
    val got = DedupOps.fullClusterLabels(docs, "doc_id", labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 1L), (5L, 5L, 2L), (6L, 5L, 2L)))
  }

  test("d21 decomposes into d7 (filter csize>=2) and d20 (distinct census)") {
    val d21 = SparkEntry.queries("d21_labels_census")(spark, sf)
      .persist()
    try {
      val membersGot = d21.filter(col("csize") >= 2)
        .select(col("doc_id"), col("cluster"), col("csize"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val membersWant = SparkEntry.queries("d7_dedup_clusters")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(membersGot === membersWant)
      val censusGot = d21
        .select(col("csize"), col("n_clusters"), col("n_docs")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val censusWant = SparkEntry.queries("d20_cluster_sizes")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(censusGot === censusWant)
      // full coverage: one row per document
      val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
      assert(d21.count() === nDocs)
    } finally {
      d21.unpersist(blocking = true)
      SparkEntry.releasePersisted(spark)
    }
  }

  test("s17 decomposes into s7 (kept projection) and s15 (distinct census)") {
    val s17 = SparkEntry.queries("s17_kept_census")(spark, sf).persist()
    try {
      val keptGot = s17.select(col("vec_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val keptWant = SparkEntry.queries("s7_semantic_dedup")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(keptGot === keptWant)
      // s15 rows for cells with at least one kept member (a nonempty
      // cell always keeps >= 1 — its min-id member cannot lose)
      val censusGot = s17
        .select(col("cell"), col("n_vecs"), col("n_kept"), col("pruned_mu"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val censusWant = SparkEntry.queries("s15_semdedup_census")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(censusGot === censusWant)
    } finally {
      s17.unpersist(blocking = true)
      SparkEntry.releasePersisted(spark)
    }
  }

  test("FromLabels census reads a MATERIALIZED parquet label table") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (labels, release) = GraphOps.connectedComponents(
      DedupOps.minhashCandidatePairs(docs, "doc_id", "text"),
      "doc_a", "doc_b")
    val dir = tempDir("graft_labels_").toString
    try {
      labels.write.mode("overwrite").parquet(dir)
      release()
      val stored = spark.read.parquet(dir)
      val got = DedupOps.clusterSizeCensusFromLabels(docs, stored)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = SparkEntry.queries("d20_cluster_sizes")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got === want)
    } finally {
      SparkEntry.releasePersisted(spark)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("FromAssignments census reads materialized parquet tables") {
    // the face only reads `cell` columns: 4+2+1 assigned, 2+2+0 kept
    // — cell 0 prunes half (500000µ), cell 1 nothing, cell 2 all
    import spark.implicits._
    val dir = tempDir("graft_semdedup_").toString
    try {
      (Seq.fill(4)(0L) ++ Seq.fill(2)(1L) ++ Seq(2L)).zipWithIndex
        .map { case (cell, i) => (i.toLong, cell) }
        .toDF("vec_id", "cell")
        .write.mode("overwrite").parquet(s"$dir/asg")
      Seq((0L, 0L), (1L, 0L), (4L, 1L), (5L, 1L))
        .toDF("vec_id", "cell")
        .write.mode("overwrite").parquet(s"$dir/kept")
      val got = SimilarityOps.semanticDedupCensusFromAssignments(
          spark.read.parquet(s"$dir/asg"),
          spark.read.parquet(s"$dir/kept"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === Set((0L, 4L, 2L, 500000L), (1L, 2L, 2L, 0L),
        (2L, 1L, 0L, 1000000L)))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("recall Releasable faces: release() leaves no cached blocks") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (r1, rel1) = DedupOps.lshCandidateRecall(
      docs, "doc_id", "text", threshold = 0.6, goldN = 50)
    assert(r1.count() === 1L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    rel1()
    val leaked1 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked1.isEmpty, s"recall trigram table leaked: $leaked1")
    val (r2, rel2) = DedupOps.lshRecallSweep(
      docs, "doc_id", "text", threshold = 0.6, goldN = 50,
      cfgs = Seq((2, 6), (3, 4)))
    assert(r2.count() >= 1L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    rel2()
    val leaked2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked2.isEmpty, s"sweep persists leaked: $leaked2")
  }

  test("semanticDedupCensusReleasable + WithCensus free their blocks") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (census, rel) = SimilarityOps.semanticDedupCensus(
      e, "vec_id", "embedding", numCentroids = 8, minCos = 0.45)
    assert(census.count() > 0)
    rel()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"census assignment table leaked: $leaked")
    val (kc, rel2) = SimilarityOps.semanticDedupWithCensus(
      e, "vec_id", "embedding", numCentroids = 8, minCos = 0.45)
    assert(kc.count() > 0)
    rel2()
    val leaked2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked2.isEmpty, s"WithCensus persists leaked: $leaked2")
  }

  test("over-length banding grid fails loudly at plan-build time") {
    import spark.implicits._
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupOps.bandKeysCfg(col("sig"), bands = 5, rows = 3)
    }
    assert(e.getMessage.contains("exceeds signature length"))
    // and through the sweep entry point, before any job runs
    intercept[IllegalArgumentException] {
      DedupOps.lshRecallSweep(docs, "doc_id", "text",
        threshold = 0.6, goldN = 10, cfgs = Seq((4, 4)))
    }
  }
}
