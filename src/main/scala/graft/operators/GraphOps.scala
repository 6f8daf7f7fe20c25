package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph operators for dedup pipelines.
  *
  * The near-duplicate detectors (d2b/d3b/d4/d5/d6) emit *pairs*; an
  * actual dedup pass needs *clusters* — near-duplication is transitive
  * in practice (A~B, B~C ⇒ keep one of {A,B,C}) — and then one
  * representative per cluster. That closure is connected components
  * over the pair graph.
  */
object GraphOps {

  /** Driver-finish threshold (edges) for the CC tail — a DRIVER-
    * MEMORY bound, not a data-size tune: 2²⁰ edges ≈ 16 MB of packed
    * (u, v) longs (~64 MB transient with Row overhead during the one
    * bounded collect), comfortably inside any production driver. The
    * saltedEquiJoinHot / RankOps bounded-pull discipline: when the
    * materialized edge set is ALREADY this small, each further
    * distributed round is almost pure stage-scheduling latency (3
    * shuffle stages to rewrite a few thousand edges), while a driver
    * union-find finishes the identical min-label fixpoint in
    * microseconds per edge. At corpus scale the pair graph exceeds
    * the bound and the distributed rounds run unchanged — no cliff,
    * the bound only moves work to the driver when it provably fits.
    * Override (e.g. 0 to force the distributed path in probes) with
    * -Dgraft.cc.finishEdges=N. */
  private[graft] def driverFinishMaxEdges: Long =
    sys.props.get("graft.cc.finishEdges").flatMap(_.toLongOption)
      .getOrElse(1L << 20)

  /** Connected components over an undirected edge list via the
    * alternating large-star / small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014).
    *
    * 100 TB shape: each round is two star operations, and each star is
    * one key-partitioned aggregation plus one join on the same key —
    * no adjacency list, component, or label table is ever
    * materialized on a single machine, and the driver sees only a
    * (count, xor-checksum, change-flag) triple per round for the
    * convergence test — plus, when a round's edge count drops under
    * the documented [[driverFinishMaxEdges]] memory bound, one final
    * bounded collect that closes the identical fixpoint locally
    * instead of scheduling further near-empty distributed rounds.
    * Round count is O(log^2 n) in the worst case and a handful in
    * practice, which is why this shape survives web-scale graphs where
    * min-label propagation (graph-diameter rounds) and driver-side
    * union-find (all edges on the driver) both fail.
    *
    * Returns (node, component): one row per distinct node appearing in
    * any edge, component = minimum node id of its connected component.
    * The fixpoint (every node starred to its component min) is unique,
    * so the result is deterministic regardless of execution order.
    *
    * Each round's edge set is persisted (the next round consumes it
    * twice: grouped mins + join back) and the previous round's is
    * released eagerly; the fixpoint edge set backing the returned
    * DataFrame stays persisted until the returned release hook runs —
    * call it after the action on the result (query loops sweep
    * instead, [[graft.SparkEntry.releasePersisted]]).
    *
    * `assumeCanonical = true` declares the input ALREADY canonical —
    * distinct (src, dst) rows with non-null src < dst — and skips the
    * initial least/greatest projection + distinct, i.e. one full
    * exchange of the edge set before round 1 (guide §2.4). Every
    * LSH/banded pair generator in this repo emits exactly that shape
    * (the self-join condition is `l.id < r.id` and pairs are
    * deduplicated), so the closure can start straight from the pair
    * table's own partitioning. A null/self-loop filter is kept (it is
    * narrow and free); duplicate or mis-ordered rows under the flag
    * are a CALLER BUG — the first star round's in-window dedup would
    * silently absorb duplicates, but reversed rows would corrupt the
    * canonical orientation, so the contract is asserted, not checked.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50,
                          assumeCanonical: Boolean = false)
      : (DataFrame, () => Unit) = {
    // canonical undirected form: (u, v) with u < v, self-loops dropped
    val cast = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val init = (if (assumeCanonical) cast
      else cast
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct())
      // chg: did this round rewrite anything? init is by definition a
      // fresh state, so it enters flagged (the flag is only READ off
      // round outputs; see the convergence note below)
      .withColumn("chg", lit(1))

    // Iterative plans on Spark MUST truncate lineage every round:
    // persist() caches *data* but each round's logical plan still
    // nests the previous one (~6x nodes per round here), so analysis
    // alone goes super-linear after a few rounds. After materializing
    // the round into cache we rewrap it as a fresh LogicalRDD leaf —
    // the same reason GraphFrames checkpoints between Pregel steps.
    // (At cluster scale a reliable checkpoint() adds fault tolerance;
    // local/cached truncation is the single-job equivalent.)
    var (cur, curSig, curRelease) = materializeAndSign(init)
    var converged = false
    var rounds = 0
    val finishBound = driverFinishMaxEdges
    while (!converged) {
      // DRIVER FINISH (r18): the materializing action already counted
      // the edge set for free; when it fits the documented driver
      // bound, stop scheduling distributed rounds (each is ~3 shuffle
      // stages of latency on a tiny remainder) and close the identical
      // min-label fixpoint with one bounded collect + union-find —
      // the same reference algorithm GraphOpsSpec cross-checks the
      // distributed rounds against. At corpus scale the count exceeds
      // the bound and the rounds below run exactly as before.
      if (curSig._1 <= finishBound)
        return driverFinish(cur, curRelease)
      require(rounds < maxRounds,
        s"connectedComponents did not converge within $maxRounds rounds")
      rounds += 1
      val t0 = System.nanoTime()
      val next = smallStar(largeStar(cur))
      val (nxt, nextSig, nextRelease) = materializeAndSign(next)
      // PRIMARY stop: the round's own change flags (r18). chg == 0
      // means large-star emitted no m ≠ a row and small-star saw no
      // multi-distinct-u partition — i.e. BOTH stars were identities
      // on the (deduped) edge set, which is exactly the star-forest
      // fixpoint (Kiveris et al. 2014: the alternation's only fixed
      // points are star forests). This detects convergence at the
      // first identity round, one full (u,v)-keyed dedup exchange per
      // round cheaper than the r17 shape (the windows dedup their own
      // inputs in-sort instead — see the star scaladocs). BACKSTOP:
      // the multiset signature comparison kept from r17 — if the flag
      // algebra ever missed a fixpoint, a stable signature still
      // terminates the loop instead of running to maxRounds.
      converged = nextSig._3 == 0L || (nextSig._1, nextSig._2) == (curSig._1, curSig._2)
      curRelease()
      curRelease = nextRelease
      curSig = nextSig
      cur = nxt
      val roundSec = (System.nanoTime() - t0) / 1e9
      graft.PhaseLog.add(s"cc.round$rounds", roundSec)
    }
    // fixpoint: every edge is (componentMin, member); roots map to
    // themselves (they appear only on the u side). The fixpoint edge
    // set is duplicate-free even without a per-round distinct: at the
    // star forest, each (m, x) is emitted only by small-star's
    // partition v = x, exactly once (in-window dedup collapses any
    // duplicated input rows there).
    val release = curRelease
    val labels = cur.select(col("v").as("node"), col("u").as("component"))
      .union(cur.select(col("u").as("node"), col("u").as("component")).distinct())
    (labels, release)
  }

  val PageRankScale: Long = 1000000000000L // 1e-12 fixed-point units

  /** Fixed-iteration PageRank over a directed edge list — the
    * authority-scoring companion to [[connectedComponents]] (corpus
    * governance: rank sources/URLs by link structure before sampling
    * a training mix from them).
    *
    * 100 TB shape: each iteration is one join of the (persisted,
    * degree-annotated) edge list with the current rank vector on the
    * source key plus one destination-keyed aggregation — both
    * key-partitioned, nothing driver-side but the node count. The
    * rank vector is one row per node, never an adjacency list; edge
    * state is read-only across iterations so its cached partitioning
    * is reused every round.
    *
    * Determinism: ranks are FIXED-POINT — BIGINT mass in units of
    * 1e-12 (`Scale`), damping as the rational 85/100, every division
    * an integer `div`. Float quantization (round(x, k) / double→
    * decimal casts) is NOT engine-stable at exact ties — Spark
    * rounds the shortest decimal repr HALF_UP while DuckDB rounds
    * through a scaled double multiply, and a 5-iteration rank vector
    * reliably manufactures at least one tie — whereas integer
    * arithmetic is bit-identical on any engine and any cluster size
    * by construction. The ≤1e-12-per-edge mass leak from floor
    * division is documented, not hidden. Dangling nodes (no
    * out-edges) leak their mass — the classic simplified
    * formulation; symmetrize the edge list if every node should
    * retain rank.
    *
    * Returns (node, pr_fp) with pr_fp = rank · 1e12 as BIGINT —
    * divide by 1e12 at the edge of the pipeline for a double view —
    * and a hook releasing the cached edge set, node set and final
    * materialized rank round; call it AFTER the action on the
    * returned frame.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, dampNum: Int = 85, dampDen: Int = 100)
      : (DataFrame, () => Unit) = {
    // the canonical edge set feeds TWO consumers (the per-iteration
    // join and the node set) — cache it once, CLUSTERED BY src:
    // distinct() leaves (src, dst) hash-partitioning, which the
    // per-iteration join cannot reuse, so every round would
    // re-exchange the full edge stream. One repartition at build time
    // makes the cached blocks src-clustered (InMemoryTableScan
    // reports the cached plan's partitioning), and every src-keyed
    // consumer — including all `iters` rank joins — reads them
    // exchange-free. That, not data volume, was the wall time at
    // small SF: each avoided exchange is an avoided AQE query stage,
    // i.e. an avoided scheduled job per round.
    // repartition FIRST, dedup second: HashPartitioning(src) is a
    // valid clustering for (src, dst) — every copy of an edge lands
    // in the same src partition — so dropDuplicates after the
    // repartition runs partition-local with NO second exchange (the
    // distinct().repartition() spelling pays two). The out-degree
    // rides the SAME partitioning as a src-keyed window count, so
    // the whole degree-annotated edge table builds from one exchange
    // with no join, no separate degree aggregate, and ONE cache
    // materialization instead of the e → deg → e⋈deg chain.
    val ed = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // union+distinct terminates in a node-keyed exchange, so the
    // cached node set is already node-clustered — the per-round
    // left join against rank sums needs no exchange on either side
    // (sums comes out of its dst-keyed aggregation).
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tBuild0 = System.nanoTime()
    // DRIVER FINISH (r18, the CC discipline): materialize + count the
    // degree-annotated edge table FIRST (the same cache fill the
    // nodes count paid transitively before). When it fits the
    // documented driver bound, the five fixed-point iterations run as
    // local long arithmetic — the exact scalar loop GraphOpsSpec's
    // reference implements, and the distributed rounds are proven
    // bit-identical to — instead of five materialize jobs with a rank
    // exchange + rank-sum exchange each, and the distributed node
    // table (a 2|E|-row union + distinct) never executes at all: the
    // node universe falls out of the collected edge endpoints. Every
    // value is non-negative integer math (`div` floors = Java `/` on
    // non-negatives) and the per-destination sum is order-free, so
    // the result is bit-equal by construction; above the bound the
    // build and rounds below run unchanged.
    val edCnt = ed.count()
    if (edCnt > 0 && edCnt <= driverPrFinishMaxEdges) {
      val buildSec = (System.nanoTime() - tBuild0) / 1e9
      graft.PhaseLog.add("pr.build", buildSec)
      return driverPageRank(ed, nodes, iters, dampNum, dampDen)
    }
    val n = nodes.count()  // bounded driver scalar, like the CMS probe
    val buildSec = (System.nanoTime() - tBuild0) / 1e9
    graft.PhaseLog.add("pr.build", buildSec)
    if (n == 0) {
      // empty (or all-null / all-self-loop-free… i.e. no valid) edge
      // set: no nodes, no ranks — and no driver-side division by
      // zero. BOTH persists release here (leaking them would
      // contradict the release contract below).
      ed.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      return (nodes.select(col("node"), lit(0L).as("pr_fp")).limit(0),
        () => ())
    }
    val base = (PageRankScale * (dampDen - dampNum)) / (dampDen * n)
    var pr = nodes.select(col("node"), lit(PageRankScale / n).as("pr_fp"))
    var prevRelease: () => Unit = null
    for (i <- 1 to iters) {
      val tIter0 = System.nanoTime()
      // shuffle_hash on the rank side: sort-merge would re-sort the
      // cached edge blocks every round (sorts aren't cached); a hash
      // build of the O(nodes) rank vector probed by the clustered
      // edge stream keeps the per-round work to ONE exchange of the
      // rank vector — the edges never move after build time.
      val sums = ed.join(pr.hint("shuffle_hash"), ed("src") === pr("node"))
        .select(col("dst"), expr("pr_fp div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      val next = nodes.join(sums.hint("shuffle_hash"),
          nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($dampNum * coalesce(s, 0L)) div $dampDen")).as("pr_fp"))
      // lineage truncation between iterations (the CC lesson): without
      // it the final plan nests iters x (join+agg+join) and AQE
      // replans every stage against the whole remaining tree. The
      // materialized leaf DECLARES node-clustering (the left-outer
      // join above emits in the cached node set's layout), so the
      // next round's edge join re-exchanges nothing: per round the
      // only shuffle left is the O(nodes) rank-sum aggregation. Rows
      // persist in Tungsten binary form — no Row decode/encode per
      // round. The last iteration stays lazy so callers compose
      // (top-k, joins) without an extra pass.
      // (Round-6 measurement: truncating only every OTHER round — fewer
      // materialization jobs, 2-round lazy nests — measured no faster
      // (and slightly slower) at sf0.1 under an identical harness: the
      // nested round's extra exchanges cancel the saved job
      // submissions. Per-round truncation stands.)
      pr = if (i == iters) next else {
        val (p, release) = org.apache.spark.sql.graftbridge.DatasetBridge
          .materializedHashPartitioned(next, Seq("node"))
        if (prevRelease != null) prevRelease()
        prevRelease = release
        p
      }
      if (i < iters) {
        val iterSec = (System.nanoTime() - tIter0) / 1e9
        graft.PhaseLog.add(s"pr.iter$i", iterSec)
      }
    }
    val lastRelease = prevRelease
    (pr, () => {
      ed.unpersist(blocking = true)
      nodes.unpersist(blocking = true)
      if (lastRelease != null) lastRelease()
      ()
    })
  }

  /** Large-star: every node connects its *larger* neighbors to the
    * minimum of its closed neighborhood.
    *
    * The per-key minimum rides a window (`first` over the key-sorted
    * partition), NOT groupBy+join: a groupBy plants a partial
    * aggregate under its exchange, so its exchange can never be
    * reused by the join's probe side — the join shape pays two full
    * exchanges of the edge stream per star. The window shape is one
    * exchange + one in-partition sort, and the per-row min needs no
    * join back. (A broadcast join is not an option at scale: the min
    * table has one row per NODE.)
    *
    * r18: the star DEDUPES ITS OWN INPUT inside the window — dup
    * (a, b) rows are adjacent after the partition sort, so a `lag`
    * comparison drops them with zero extra exchange. That replaces
    * the retired per-round terminal `distinct()` (a full (u, v)-keyed
    * exchange of the edge multiset, guide §2.4): duplicates a round
    * emits (the same (m, b) from two source partitions) now survive
    * exactly one hop and die in the next window's sort instead of in
    * a dedicated shuffle. Emits `chg = 1` when the row was rewritten
    * (m ≠ a) — the convergence flag (see the loop). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    val wo = Window.partitionBy(col("a")).orderBy(col("b"))
    sym.select(col("a"), col("b"),
        least(col("a"), first(col("b")).over(wo)).as("m"),
        lag(col("b"), 1).over(wo).as("pb"))
      .filter(col("b") > col("a") &&
        (col("pb").isNull || col("pb") =!= col("b")))
      // emitted edge {b, m} with m <= a < b is already canonical
      .select(col("m").as("u"), col("b").as("v"),
        when(col("m") =!= col("a"), 1).otherwise(0).as("chg"))
  }

  /** Small-star: every node connects its *smaller* neighbors (and
    * itself) to the minimum of them. Input/output canonical (u < v);
    * keyed on the larger endpoint. Same window shape as large-star;
    * both edge kinds — (min, neighbor) for every smaller neighbor and
    * (min, key) once per key — emit from ONE windowed pass via
    * explode, so the unpersisted large-star output is consumed
    * exactly once.
    *
    * r18: input dedup rides the window like large-star's (dup (u, v)
    * rows share the partition key v and are u-adjacent after the
    * sort), and the round's terminal `distinct()` is GONE — one full
    * edge exchange per round removed. Change flags: a partition with
    * more than one distinct u (some u ≠ m) is a rewrite by
    * construction (the (u, v) edge it consumes is provably absent
    * from the output — only partition v can emit a *, v edge and it
    * emits (m, v) alone), and large-star's own flags are carried
    * through `max(chg) OVER (PARTITION BY v)` so a flagged input row
    * surfaces on every edge this partition emits even when the row
    * itself is deduped away. */
  private def smallStar(e: DataFrame): DataFrame = {
    val wo = Window.partitionBy(col("v")).orderBy(col("u"))
    val wp = Window.partitionBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e.select(col("u"), col("v"),
        first(col("u")).over(wo).as("m"),
        row_number().over(wo).as("rn"),
        lag(col("u"), 1).over(wo).as("pu"),
        max(col("chg")).over(wp).as("wchg"))
      .filter(col("pu").isNull || col("pu") =!= col("u"))
      .select(explode(array(
          when(col("u") =!= col("m"),
            struct(col("m").as("u"), col("u").as("v"), lit(1).as("chg"))),
          when(col("rn") === 1,
            struct(col("m").as("u"), col("v").as("v"), col("wchg").as("chg")))))
        .as("edge"))
      .filter(col("edge").isNotNull)
      .select(col("edge.u").as("u"), col("edge.v").as("v"),
        col("edge.chg").as("chg"))
      .filter(col("u") =!= col("v"))
  }

  /** Driver-finish threshold (edges) for the PageRank iterations —
    * like [[driverFinishMaxEdges]], a DRIVER-MEMORY bound: 2²¹ edges
    * of (src, dst, outdeg) longs ≈ 48 MB packed (~150 MB transient
    * Row overhead during the one bounded collect), inside any
    * production driver. Override with -Dgraft.pr.finishEdges=N
    * (0 forces the distributed rounds, e.g. for probes). */
  private[graft] def driverPrFinishMaxEdges: Long =
    sys.props.get("graft.pr.finishEdges").flatMap(_.toLongOption)
      .getOrElse(1L << 21)

  /** The five-iteration fixed-point loop as local long arithmetic
    * over a ≤-bound collected edge set — bit-identical to the
    * distributed rounds (same init Scale/n, same per-edge
    * `pr div outdeg`, same order-free per-destination sum, same
    * `base + (dampNum · s) div dampDen`; all values non-negative so
    * integral `div` == Java `/`). Both persisted inputs release
    * before the loop runs; the returned frame is RDD-parallelized
    * (never a plan-embedded LocalRelation) and owns no cached state. */
  private def driverPageRank(ed: DataFrame, nodes: DataFrame,
                             iters: Int, dampNum: Int, dampDen: Int)
      : (DataFrame, () => Unit) = {
    val t0 = System.nanoTime()
    val spark = ed.sparkSession
    val edgeRows = ed.select(col("src"), col("dst"), col("outdeg")).collect()
    ed.unpersist(blocking = false)
    nodes.unpersist(blocking = false) // lazy, never materialized
    // node universe = distinct edge endpoints, identical to the
    // distributed union + distinct (order irrelevant — ranks key by id)
    val idx = new java.util.HashMap[Long, Integer](edgeRows.length * 2)
    edgeRows.foreach { r =>
      idx.putIfAbsent(r.getLong(0), idx.size)
      idx.putIfAbsent(r.getLong(1), idx.size)
    }
    val nodeIds = new Array[Long](idx.size)
    idx.forEach((node, i) => nodeIds(i) = node)
    val n = nodeIds.length.toLong
    val m = edgeRows.length
    val srcI = new Array[Int](m)
    val dstI = new Array[Int](m)
    val invDeg = new Array[Long](m)
    var e = 0
    while (e < m) {
      val r = edgeRows(e)
      srcI(e) = idx.get(r.getLong(0))
      dstI(e) = idx.get(r.getLong(1))
      invDeg(e) = r.getLong(2)
      e += 1
    }
    val base = (PageRankScale * (dampDen - dampNum)) / (dampDen * n)
    var pr = Array.fill(nodeIds.length)(PageRankScale / n)
    val sums = new Array[Long](nodeIds.length)
    for (i <- 1 to iters) {
      val tIter0 = System.nanoTime()
      java.util.Arrays.fill(sums, 0L)
      var j = 0
      while (j < m) {
        sums(dstI(j)) += pr(srcI(j)) / invDeg(j)
        j += 1
      }
      val next = new Array[Long](nodeIds.length)
      j = 0
      while (j < next.length) {
        next(j) = base + dampNum * sums(j) / dampDen
        j += 1
      }
      pr = next
      if (i < iters)
        graft.PhaseLog.add(s"pr.iter$i", (System.nanoTime() - tIter0) / 1e9)
    }
    val out = nodeIds.indices.map(j =>
      org.apache.spark.sql.Row(nodeIds(j), pr(j))).toArray
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pr_fp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val slices = math.max(1, math.min(out.length / 65536,
      spark.sparkContext.defaultParallelism))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq, slices), schema)
    val sec = (System.nanoTime() - t0) / 1e9
    graft.PhaseLog.add("pr.driver_finish", sec)
    (df, () => ())
  }

  /** Close the CC fixpoint on the driver from a ≤-bound edge set: one
    * bounded collect off the already-persisted round leaf, min-merge
    * union-find (attach the larger root under the smaller, so every
    * final root is its component's minimum id — the identical
    * labeling the star rounds converge to), labels re-parallelized as
    * an RDD-backed frame (never a plan-embedded LocalRelation, which
    * would ride every downstream task closure). Released leaf, no
    * persisted state — the returned release hook is a no-op. */
  private def driverFinish(cur: DataFrame, release: () => Unit)
      : (DataFrame, () => Unit) = {
    val t0 = System.nanoTime()
    val spark = cur.sparkSession
    val edges = cur.select(col("u"), col("v")).collect()
    release()
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val p = parent.get(x)
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    edges.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val nodes = new java.util.HashSet[Long](edges.length * 2)
    edges.foreach { r => nodes.add(r.getLong(0)); nodes.add(r.getLong(1)) }
    val labels = new Array[org.apache.spark.sql.Row](nodes.size)
    var i = 0
    val it = nodes.iterator()
    while (it.hasNext) {
      val n = it.next()
      labels(i) = org.apache.spark.sql.Row(n, find(n))
      i += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val slices = math.max(1, math.min(labels.length / 65536,
      spark.sparkContext.defaultParallelism))
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(labels.toIndexedSeq, slices), schema)
    val sec = (System.nanoTime() - t0) / 1e9
    graft.PhaseLog.add("cc.driver_finish", sec)
    (out, () => ())
  }

  /** Materialize a round into a persisted leaf and fingerprint it in
    * the SAME single action: the partition scan populates the cache
    * while accumulators fold (row count, xor of per-edge mixed
    * hashes, change-flag total) — an order-insensitive convergence
    * readout with no second job and no aggregation shuffle.
    * Accumulator updates inside an action are applied exactly once
    * per task, so the readout is stable under task retries. The
    * returned DataFrame is a single LogicalRDD leaf over
    * Tungsten-format rows (no Row decode/encode per round, and round
    * N+1's analysis does not re-walk rounds 1..N); the hook releases
    * the persisted blocks. Rows are (u: long, v: long, chg: int);
    * the signature hashes (u, v) only — chg is per-round transport,
    * not edge identity. */
  private def materializeAndSign(df: DataFrame)
      : (DataFrame, (Long, Long, Long), () => Unit) = {
    val sc = df.sparkSession.sparkContext
    val cnt = sc.longAccumulator("cc.edges")
    val chg = sc.longAccumulator("cc.chg")
    val xor = new XorAccumulator
    sc.register(xor, "cc.xor")
    val (out, release) =
      org.apache.spark.sql.graftbridge.DatasetBridge.materialized(df, { it =>
        var n = 0L
        var c = 0L
        var x = 0L
        while (it.hasNext) {
          val r = it.next()
          n += 1
          c += r.getInt(2)
          x ^= mix64(r.getLong(0) * 0x9e3779b97f4a7c15L + r.getLong(1))
        }
        cnt.add(n)
        chg.add(c)
        xor.add(x)
      })
    (out, (cnt.value, xor.value, chg.value), release)
  }

  /** splitmix64 finalizer — avalanches the (u, v) fold so xor over
    * edges doesn't cancel structured id patterns. */
  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Commutative xor-fold accumulator for the CC convergence signature. */
private[operators] class XorAccumulator
    extends org.apache.spark.util.AccumulatorV2[Long, Long] {
  private var acc = 0L
  override def isZero: Boolean = acc == 0L
  override def copy(): XorAccumulator = {
    val c = new XorAccumulator; c.acc = acc; c
  }
  override def reset(): Unit = acc = 0L
  override def add(v: Long): Unit = acc ^= v
  override def merge(other: org.apache.spark.util.AccumulatorV2[Long, Long])
      : Unit = acc ^= other.value
  override def value: Long = acc
}
