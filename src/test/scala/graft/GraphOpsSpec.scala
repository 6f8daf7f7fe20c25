package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Unit specs for connected components (large-star/small-star). */
class GraphOpsSpec extends AnyFunSuite with SparkSessionFixture {

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val (labels, release) = GraphOps.connectedComponents(
      edges.toDF("src", "dst"), "src", "dst")
    try labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally release()
  }

  /** Reference union-find on the driver. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain, star, cycle, and singleton-edge components") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),     // chain → comp 1
      (10L, 11L), (10L, 12L), (10L, 13L), // star → comp 10
      (20L, 21L), (21L, 22L), (22L, 20L), // cycle → comp 20
      (30L, 31L))                          // single edge → comp 30
    val got = components(edges)
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("duplicate / reversed / self-loop edges do not change the result") {
    val got = components(Seq(
      (2L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long path converges (worst case for star rounds)") {
    val n = 64L
    val got = components((1L until n).map(i => (i, i + 1)))
    assert(got.size == n)
    assert(got.values.forall(_ == 1L))
  }

  test("random graphs match a driver-side union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val nNodes = 60 + trial * 30
      val edges = Seq.fill(nNodes) {
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter { case (a, b) => a != b }
      assert(components(edges) == unionFind(edges), s"trial $trial")
    }
  }

  test("empty and self-loop-only edge sets yield no labels") {
    assert(components(Seq.empty) == Map.empty)
    assert(components(Seq((7L, 7L))) == Map.empty)
  }

  /** Same as [[components]] but with the driver finish disabled, so
    * the distributed star rounds run to the fixpoint (r18: small edge
    * sets normally close on the driver under the documented memory
    * bound). */
  private def componentsDistributed(edges: Seq[(Long, Long)],
                                    canonical: Boolean = false)
      : Map[Long, Long] = {
    import spark.implicits._
    sys.props("graft.cc.finishEdges") = "0"
    try {
      val (labels, release) = GraphOps.connectedComponents(
        edges.toDF("src", "dst"), "src", "dst",
        assumeCanonical = canonical)
      try labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally release()
    } finally sys.props.remove("graft.cc.finishEdges")
  }

  test("distributed star rounds == driver finish == union-find " +
      "(r18: flag-based convergence, no per-round distinct)") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 3) {
      val nNodes = 50 + trial * 40
      val edges = Seq.fill(nNodes * 2) {
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter { case (a, b) => a != b }
      val ref = unionFind(edges)
      assert(componentsDistributed(edges) == ref, s"distributed, trial $trial")
      assert(components(edges) == ref, s"driver finish, trial $trial")
    }
    // a long chain maximizes star-round count — the worst case for the
    // r18 flag-based stop (every round rewrites something until the
    // very end)
    val chain = (1L until 40L).map(i => (i, i + 1))
    assert(componentsDistributed(chain) == unionFind(chain))
  }

  test("assumeCanonical skips canonicalization but not correctness " +
      "(canonical distinct input, u < v)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 9L), (9L, 11L))
    val ref = unionFind(edges)
    assert(componentsDistributed(edges, canonical = true) == ref)
    import spark.implicits._
    val (labels, release) = GraphOps.connectedComponents(
      edges.toDF("src", "dst"), "src", "dst", assumeCanonical = true)
    try assert(
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == ref)
    finally release()
  }

  // ---- pageRank ------------------------------------------------------

  /** Driver-side scalar reference with the IDENTICAL fixed-point
    * integer arithmetic (1e-12 units, 85/100 damping, truncating
    * division) — the distributed result must match bit-for-bit. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val dedup = edges.distinct
    val outdeg = dedup.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = (dedup.map(_._1) ++ dedup.map(_._2)).distinct
    val n = nodes.size.toLong
    val base = (GraphOps.PageRankScale * 15L) / (100L * n)
    var pr = nodes.map(_ -> GraphOps.PageRankScale / n).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((s, d) <- dedup) sums(d) += pr(s) / outdeg(s)
      pr = nodes.map(v => v -> (base + 85L * sums(v) / 100L)).toMap
    }
    pr
  }

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 5)
      : Map[Long, Long] = {
    import spark.implicits._
    val (pr, release) =
      GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
    try pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally release()
  }

  test("pageRank distributed rounds == driver finish, bit-for-bit " +
      "(r18: small edge sets close on the driver)") {
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 2) {
      val nNodes = 30 + trial * 25
      val edges = Seq.fill(nNodes * 4) {
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }
      val viaDriver = ranks(edges) // tiny graph → driver finish
      sys.props("graft.pr.finishEdges") = "0"
      val viaRounds = try ranks(edges)
      finally sys.props.remove("graft.pr.finishEdges")
      assert(viaDriver == viaRounds, s"trial $trial")
      assert(viaDriver == refPageRank(edges, 5), s"trial $trial vs scalar ref")
    }
  }

  test("pageRank on a symmetric triangle is uniform") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (3L, 2L), (1L, 3L))
    val got = ranks(tri)
    // fully symmetric graph: every node holds exactly 1/3 of the mass
    // (up to the deterministic fixed-point floor)
    assert(got.values.toSet.size == 1)
    assert(math.abs(got(1L) - GraphOps.PageRankScale / 3) <= 10)
  }

  test("pageRank random graphs match the scalar fixed-point reference") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val nNodes = 20 + trial * 15
      val edges = Seq.fill(nNodes * 3) {
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }
      assert(ranks(edges) == refPageRank(edges, 5), s"trial $trial")
    }
  }

  test("pageRank on empty and null-only edge sets is empty, not a crash") {
    import spark.implicits._
    assert(ranks(Seq.empty) == Map.empty)
    val nulls = Seq((Some(1L), Option.empty[Long]))
      .toDF("src", "dst")
    val (got, _) = GraphOps.pageRank(nulls, "src", "dst")
    assert(got.collect().isEmpty)
    assert(got.columns.toSeq == Seq("node", "pr_fp"))
  }

  test("pageRank mass is conserved up to the documented floor leak") {
    val rnd = new scala.util.Random(11)
    val one = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    // symmetrized: no dangling nodes, so the only loss is floor leak
    val edges = one ++ one.map(_.swap)
    val total = ranks(edges, iters = 3).values.sum
    // each div floors away <1 unit per edge per round, plus the
    // damping div per node per round; bound is loose but sub-ppm
    assert(total <= GraphOps.PageRankScale)
    assert(total > GraphOps.PageRankScale - 100000L)
  }

  // Hygiene assertions are DIFF-based (snapshot before, assert the
  // op's additions are gone after release), not global isEmpty:
  // clearCache() cannot reach RDD-level persists left by earlier
  // suites (suite order is not fixed — sbt runs previously-failing
  // suites first), so a global assertion is residue-flaky.
  test("pageRankReleasable leaves no cached blocks after release") {
    import spark.implicits._
    SparkEntry.releasePersisted(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val (pr, release) = GraphOps.pageRank(edges, "src", "dst")
    assert(pr.count() == 3)
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pageRank persists survived release: $leaked")
  }

  test("releasable variant leaves no cached blocks after release") {
    import spark.implicits._
    SparkEntry.releasePersisted(spark) // drop any residue from sibling suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, release) = GraphOps.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst")
    assert(labels.count() == 3)
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"CC persists survived release: $leaked")
  }
}
