package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, GraphOps, SimilarityOps}

/** Builder-side ×F SCALE PROBE (round-9 verdict item 7, extended a
  * further decade in round 12; NOT part of the shipped library):
  * every 100 TB claim in the operator Scaladocs is a plan-shape
  * argument verified at sf0.1 — this tool checks the scale-critical
  * families EMPIRICALLY at a chosen factor, on a deterministic ×F
  * corpus built in /tmp.
  *
  * Corpus construction (isolates pure volume scaling):
  *  - documents ×F: copy k applies an AFFINE letter map
  *    i → (a·i + b) mod 26 with a ∈ {1,3,5,7,9,11} (by generation
  *    k/26) and b = k mod 26 (copy 0 = identity, so the ×F corpus is
  *    a strict superset of the 1×), rotates digits/punct by k, and
  *    prepends a per-copy salt token whose trigrams are disjoint
  *    across copies. Disjointness argument, replacing the ≤26-copy
  *    caesar rotation (r12): two DISTINCT affine maps over Z26 agree
  *    where (a1−a2)·x ≡ b2−b1; the chosen a-set keeps
  *    gcd(a1−a2, 26) ≤ 2, so any two copies agree on ≤ 2 letters.
  *    The sf0.1 corpus is verified pure lowercase+single-space (zero
  *    digits/punct/upper, zero non-letter runs ≥ 2), so every
  *    character trigram has ≥ 2 letters — a PURE-LETTER trigram
  *    (3 agreeing positions) can never be shared, and the residual
  *    shared classes (letter-space-letter forms over a ≤2-letter
  *    agreement set) are ≤ ~16 trigram TYPES per copy pair against
  *    hundreds per doc: cross-copy Jaccard ≲ 2%, band-collision
  *    probability ~Jaccard^rowsPerBand ≈ 0. Planted near-dup
  *    structure replicates exactly per copy, candidate volume scales
  *    linearly, no artificial F-cliques distort the closure. Valid
  *    for F ≤ 156 (6 generations × 26 offsets).
  *  - embeddings ×F (F < 64): copy k circularly shifts the vector by
  *    k dims — norms preserved, copies decorrelated, within-copy
  *    similarity structure intact.
  *  - pagerank edges ×F: node-disjoint id shifts (valid at any F).
  *
  * Probes (wall-clock + result cardinality at 1× and F×):
  *  1. LSH candidate pairs → exact verify → CC closure (the d7/d10
  *     spine). Expect ≈ linear wall growth; pairs ≈ ×F.
  *  2. SemDeDup with cell capacity held CONSTANT by scaling
  *     numCentroids 16 → 16·F (the documented capacity/recall knob —
  *     at 100 TB you grow cells with the corpus, never let cell
  *     population grow unbounded). Expect ≈ linear.
  *  3. IVF top-k with a FIXED 100-query broadcast set. Expect ≈
  *     linear in the corpus (the probe side is constant).
  *  4. PageRank at ×F AND ×(2.5F): the per-iteration join/agg family
  *     probed two points up so a super-linear term between decades
  *     cannot hide.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [factor]
  * Modes (third arg): default sweep | cc | s8 | pr | d27 | hm |
  * skew (planted hot keys) | saltjoin (hot-key salted-join
  * spellings) | bpe (batched-merge fit depth) | annauto (auto-LSH
  * ×F linearity) | incr (stored-index incremental dedup: per-batch
  * wall vs base-corpus size) | rank (two-pass global ranking vs the
  * single-partition window) — see each mode's comment. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    require(factor >= 2 && factor <= 156, "factor in [2, 156]")
    val spark = graft.SparkEntry.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")

    val prOnly = args.length > 2 && args(2) == "pr"
    val base = s"/tmp/graft_scale$factor"
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    if (!prOnly && !new java.io.File(s"$base/documents").exists()) {
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val digits = "0123456789"
      // the trigram shingle alphabet is the RAW text (HashedTrigrams32
      // lowercases but strips nothing), so copies must disagree on
      // every character class that can form a trigram (r9 advice);
      // letters carry the affine map (see object doc — ≤ 2-point
      // pairwise agreement, no shared pure-letter trigram), digits
      // and punctuation rotate (the corpus is verified to contain
      // neither — kept for generality against future testdata).
      val punct = ".,!?;:'-()\"#@/"
      def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
      val aSet = Array(1, 3, 5, 7, 9, 11)
      def affine(k: Int): String = {
        val a = aSet((k / 26) % aSet.length)
        val b = k % 26
        String.valueOf((0 until 26)
          .map(i => ('a' + (a * i + b) % 26).toChar).toArray)
      }
      val copies = (0 until factor).map { k =>
        val lowTo = affine(k)
        val from = lower + upper + digits + punct
        val to = lowTo + lowTo.toUpperCase + rot(digits, k) + rot(punct, k)
        // per-copy salt token (k>0 only — copy 0 stays the 1× corpus
        // verbatim): shifts the first word-boundary too; `qKqKqK`
        // trigrams ({qKq, KqK, and for multi-digit K the qAB/ABq/BqA
        // forms}) are pairwise disjoint across copies
        val salted =
          if (k == 0) col("text")
          else concat(lit(s"q$k" * 3 + " "), translate(col("text"), from, to))
        docs1.select(
          (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
          salted.as("text"))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/documents")
      val dim = emb1.select(size(col("embedding"))).head().getInt(0)
      // the decorrelating circular shift needs factor < dim; past it,
      // skip the embeddings build (the doc-only modes — d27, cc —
      // probe beyond the embedding ceiling) instead of failing the
      // whole corpus build
      if (factor < dim) {
        val embCopies = (0 until factor).map { k =>
          val rot = k % dim
          emb1.select(
            (col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
            concat(slice(col("embedding"), rot + 1, dim - rot),
              slice(col("embedding"), 1, rot)).as("embedding"))
        }
        embCopies.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$base/embeddings")
      } else System.err.println(
        s"[probe] factor $factor >= dim $dim: embeddings ×F skipped " +
          "(doc-only modes unaffected; embedding modes require F < dim)")
    }
    lazy val docs10 = spark.read.parquet(s"$base/documents")
    lazy val emb10 = spark.read.parquet(s"$base/embeddings")

    def sweep(): Unit = {
      graft.SparkEntry.releasePersisted(spark)
      System.gc()
    }
    def time(what: String)(body: => Long): Unit = {
      sweep()
      val t0 = System.nanoTime()
      val n = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $what%-28s ${dt}%8.2fs  rows=$n")
      sweep()
    }

    def closure(d: DataFrame): Long = {
      val (pairs, rel) = DedupOps.nearDuplicatePairs(
        d, "doc_id", "text", threshold = 0.6)
      val (lab, rel2) = GraphOps.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      val n = lab.count()
      rel(); rel2(); n
    }
    def semdedup(d: DataFrame, cents: Int): Long = {
      val (kept, rel) = SimilarityOps.semanticDedup(
        d, "vec_id", "embedding", numCentroids = cents, minCos = 0.45)
      val n = kept.count()
      rel(); n
    }
    def ivf(corpus: DataFrame): Long =
      SimilarityOps.ivfTopK(corpus, corpus.filter(col("vec_id") < 100),
        "vec_id", "embedding", numCentroids = 16, probes = 4, k = 10)
        .count()

    // 4. PageRank on the q38-shaped bipartite graph (supplier↔customer
    //    via shared orders); ×F = F node-disjoint copies (ids shifted
    //    by k·10⁹ — component structure replicates, iteration count is
    //    fixed at 5, so wall growth isolates pure edge volume). Also
    //    probed at ×2.5F: two scale points above 1× expose any
    //    super-linear term a single decade hides.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"),
        (col("l_suppkey").cast("long") * 2).as("src"))
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("ok"),
        (col("o_custkey").cast("long") * 2 + 1).as("dst"))
    val edges1 = li.join(ord, Seq("ok")).select(col("src"), col("dst"))
    def edgesX(f: Int): DataFrame = (0 until f).map { k =>
      edges1.select((col("src") + lit(k * 1000000000L)).as("src"),
        (col("dst") + lit(k * 1000000000L)).as("dst"))
    }.reduce(_ unionByName _)
    def pagerank(e: DataFrame): Long = {
      val (ranks, rel) = GraphOps.pageRank(e, "src", "dst", iters = 5)
      val n = ranks.count(); rel(); n
    }

    // closure-only mode (third arg "cc"): the d7/d10 LSH→verify→CC
    // spine in isolation, so the 100× point (r12 verdict item 6 —
    // the sweep stopped at 40×) runs without paying semdedup/ivf/
    // pagerank. The ×F corpus is the same affine-map construction;
    // candidate volume scales linearly (cross-copy trigram Jaccard
    // ≲ 2%, see object doc) and the closure's round count stays flat
    // because component structure replicates per copy.
    if (args.length > 2 && args(2) == "cc") {
      graft.PhaseLog.enabled = true
      closure(docs1); sweep() // warmup
      graft.PhaseLog.drain()
      def ccRounds(): Unit = {
        val ph = graft.PhaseLog.drain()
        val rounds = ph.count(_._1.startsWith("cc.round"))
        val total = ph.filter(_._1.startsWith("cc.round")).map(_._2).sum
        println(f"    cc rounds=$rounds (cc wall ${total}%.2fs)")
      }
      time("closure 1x")(closure(docs1)); ccRounds()
      time(s"closure ${factor}x")(closure(docs10)); ccRounds()
      spark.stop()
      return
    }

    // auto-LSH linearity mode (third arg "annauto"): the r16 headline
    // queries ride lshJoinTopKAuto / embeddingNearDupPairsAuto; the
    // sf1 suite pinned them at 2.0× / 1.2× for 10× data — this mode
    // extends the evidence to ×F (use 40: the circular-shift
    // embeddings build caps at F < 64).
    if (args.length > 2 && args(2) == "annauto") {
      def joinAuto(e: DataFrame): Long =
        SimilarityOps.lshJoinTopKAuto(
          e.filter(pmod(col("vec_id"), lit(2)) === 0),
          e.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", 3).count()
      def pairsAuto(e: DataFrame): Long =
        SimilarityOps.embeddingNearDupPairsAuto(
          e, "vec_id", "embedding", 0.45).count()
      joinAuto(emb1); sweep() // warmup
      time("ann-join AUTO 1x")(joinAuto(emb1))
      time(s"ann-join AUTO ${factor}x")(joinAuto(emb10))
      time("neardup AUTO 1x")(pairsAuto(emb1))
      time(s"neardup AUTO ${factor}x")(pairsAuto(emb10))
      spark.stop()
      return
    }

    // bpe-fit mode (third arg "bpe", optional fourth arg = merges,
    // default 1000): the r15 verdict named the SEQUENTIAL merge loop
    // (one Spark job per merge) a driver-latency ceiling at a real
    // 32k-merge vocabulary. r16 batches top-R selection per job
    // under exactness-preserving accept rules (bpeFitCore); this
    // probe fits a deep vocabulary on the 1× corpus and reports
    // merges won vs Spark jobs run — the jobs/merge ratio is the
    // ceiling lifted. Uses the raw corpus (no ×F build needed).
    if (args.length > 2 && args(2) == "bpe") {
      val nMerges = args.drop(3).headOption.map(_.toInt).getOrElse(1000)
      val toks = graft.functions.TextOps.cleanTokens(col("text"))
      // prefer the ×F corpus when built: its affine letter maps give
      // F disjoint sub-vocabularies with INDEPENDENT frequent pairs —
      // the natural-text shape where batching wins; the 1× corpus's
      // 31-word vocabulary forces chained (conflicting) merges, the
      // documented worst case where batch degenerates to sequential
      val (corpus, tag) =
        if (new java.io.File(s"$base/documents").exists()) (docs10, s"${factor}x")
        else (docs1, "1x")
      graft.operators.CorpusOps.bpeFit(corpus, toks, 8).collect() // warmup
      val t0 = System.nanoTime()
      val merged = graft.operators.CorpusOps.bpeFit(corpus, toks, nMerges)
        .collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val rounds = graft.operators.CorpusOps.lastFitRounds
      println(f"    bpe fit[$tag]: ${merged.length} merges in $rounds " +
        f"argmax rounds, $wall%.1fs " +
        f"(${merged.length.toDouble / math.max(rounds, 1)}%.1f merges/round; " +
        "sequential spelling = 1.0)")
      spark.stop()
      return
    }

    // s8 both-sides-large ANN-join mode (third arg "s8"): the s8
    // query's lshJoinTopKAuto (recall-biased occupancy) with the
    // embeddings corpus split even/odd vec_id — BOTH sides
    // scale with F (no broadcast side, no fixed probe set; this is
    // the crawl-vs-training-set shape). Pairs are generated only on
    // band collisions; per-left-row top-k rides the bounded-state
    // TopKRows aggregate, so wall growth should track collision
    // volume (~linear under the decorrelated ×F construction), never
    // |L|·|R|.
    if (args.length > 2 && args(2) == "s8") {
      def s8(e: DataFrame): Long =
        SimilarityOps.lshJoinTopKAuto(
          e.filter(pmod(col("vec_id"), lit(2)) === 0),
          e.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", 3,
          occ = graft.operators.DetParams.RecallBandOcc).count()
      s8(emb1); sweep() // warmup
      time("s8 ann-join 1x")(s8(emb1))
      time(s"s8 ann-join ${factor}x")(s8(emb10))
      args.drop(3).map(_.toInt).foreach { f =>
        val baseF = s"/tmp/graft_scale$f/embeddings"
        require(new java.io.File(baseF).exists(),
          s"build the ${f}x corpus first (run the default sweep at $f)")
        time(s"s8 ann-join ${f}x")(s8(spark.read.parquet(baseF)))
      }
      spark.stop()
      return
    }

    // pagerank-only mode (third arg "pr"): iterate on the one family
    // whose 100x point needs isolated reruns without paying the full
    // corpus-build + closure sweep each time; extra factors after it
    // are additional probe points (e.g. `pr 64 100`)
    if (prOnly) {
      pagerank(edges1); sweep() // warmup
      time("pagerank 1x")(pagerank(edges1))
      time(s"pagerank ${factor}x")(pagerank(edgesX(factor)))
      args.drop(3).map(_.toInt).foreach { f =>
        time(s"pagerank ${f}x")(pagerank(edgesX(f)))
      }
      spark.stop()
      return
    }

    // exact-substring mode (third arg "d27"): the span-dedup spine —
    // gram census (the dominant gram-keyed exchange) and the full
    // span operator (census + join-back + per-doc island merge) timed
    // separately at 1× and F×. Under the affine-map corpus, token
    // 20-grams are disjoint across copies (every word's letters map
    // per copy, and the salt token shifts positions), so duplicated-
    // gram structure replicates per copy: census keys, duplicated
    // grams, and spans all scale ≈ ×F with no artificial cross-copy
    // gram collisions — wall growth isolates pure volume.
    if (args.length > 2 && args(2) == "d27") {
      import graft.functions.TextOps
      val toks = TextOps.cleanTokens(col("text"))
      def census(d: DataFrame): Long =
        DedupOps.exactSubstringDupGramCensus(d, "doc_id", toks, 20).count()
      def spansN(d: DataFrame): Long = {
        val (spans, _) = DedupOps.exactSubstringSpans(d, "doc_id", toks, 20)
        spans.count()
      }
      def stripN(d: DataFrame): Long = {
        val (strip, _) = DedupOps.exactSubstringStrip(d, "doc_id", toks, 20)
        strip.filter(col("n_spans_stripped") > 0).count()
      }
      // warm up at BOTH scales: the first F× query otherwise absorbs
      // scale-dependent codegen/AQE compilation and the cold corpus
      // read (measured: census 40× read 27-52 s as the first 40×
      // query vs 3.8-5.4 s warm — the q38 bench-SF warm-up lesson)
      spansN(docs1); census(docs10); sweep()
      time("d27 gram census 1x")(census(docs1))
      time(s"d27 gram census ${factor}x")(census(docs10))
      time("d27 spans 1x")(spansN(docs1))
      time(s"d27 spans ${factor}x")(spansN(docs10))
      time("d32 strip 1x")(stripN(docs1))
      time(s"d32 strip ${factor}x")(stripN(docs10))
      spark.stop()
      return
    }

    // incremental-dedup index mode (third arg "incr"): the r16
    // verdict's one genuine 100 TB gap — d14 re-derived trigrams +
    // MinHash over the FULL base corpus per delta batch. This probes
    // the r17 stored-signature-index path: the index is built ONCE
    // per base (walls reported — expected ≈ linear in base), then the
    // SAME fixed delta batch admits against the 1× and ×F indexes —
    // per-batch wall must be decoupled from base size (index reads
    // are columnar postings scans, no base-side hashing), while the
    // inline d14 spelling re-pays the base signature pass at ×F as
    // the contrast.
    if (args.length > 2 && args(2) == "incr") {
      val delta = docs1.filter(pmod(col("doc_id"), lit(5)) === 0)
      val base1 = docs1.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val baseF = docs10.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val idx1 = s"$base/incr_idx_1x"
      val idxF = s"$base/incr_idx_${factor}x"
      def admit(idx: String): Long = {
        val (out, rel) = DedupOps.incrementalDedupFromIndex(
          spark, idx, delta, "doc_id", "text", threshold = 0.6)
        val n = out.filter(col("dup_of").isNotNull).count(); rel(); n
      }
      def admitInline(b: DataFrame): Long = {
        val (out, rel) = DedupOps.incrementalDedup(
          b, delta, "doc_id", "text", threshold = 0.6)
        val n = out.filter(col("dup_of").isNotNull).count(); rel(); n
      }
      admitInline(base1); sweep() // warmup
      time("index build 1x")({
        DedupOps.writeSignatureIndex(base1, "doc_id", "text", idx1); 0L })
      time(s"index build ${factor}x")({
        DedupOps.writeSignatureIndex(baseF, "doc_id", "text", idxF); 0L })
      admit(idx1); sweep() // warm the from-index plan shape too
      time("admit vs 1x index")(admit(idx1))
      time(s"admit vs ${factor}x index")(admit(idxF))
      time("admit INLINE vs 1x base")(admitInline(base1))
      time(s"admit INLINE vs ${factor}x base")(admitInline(baseF))
      spark.stop()
      return
    }

    // two-pass global-rank mode (third arg "rank", optional fourth
    // arg = rows, default 2e7): RankOps.globalQuantileRanks vs the
    // naive single-partition global window on the same synthetic
    // total-order corpus. The two-pass wall should scale ~linearly
    // (every task sorts ~n/numParts rows — the max-rows-per-task
    // census is printed as the direct no-single-task-sort evidence);
    // the naive spelling sorts ALL n rows in ONE task at any scale.
    if (args.length > 2 && args(2) == "rank") {
      import org.apache.spark.sql.expressions.Window
      val n = args.drop(3).headOption.map(_.toLong).getOrElse(20000000L)
      def corpus(rows: Long): DataFrame = spark.range(rows)
        .select(col("id"), xxhash64(col("id")).as("v"))
      // numParts scales with the data — the operator's documented
      // knob (on a cluster partitions grow with the corpus so each
      // task's sort stays in execution memory; measured here: a
      // FIXED 32 parts at 2e8 rows pushed 100 MB-row sorts into
      // spill and the wall went I/O-bound at 546 s)
      def twoPass(rows: Long, parts: Int): Long = {
        graft.operators.RankOps.globalQuantileRanks(corpus(rows),
            Seq(col("v").desc, col("id").asc), tiles = 10,
            numParts = parts)
          .agg(max(col("grank"))).collect()(0).getLong(0)
      }
      def naive(rows: Long): Long = {
        val w = Window.orderBy(col("v").desc, col("id").asc)
        corpus(rows)
          .select(ntile(10).over(w).as("tile"))
          .agg(max(col("tile"))).collect()(0).getInt(0).toLong
      }
      // balance census straight from the operator's own buckets (the
      // PhaseLog channel): the largest bucket is the largest
      // single-task sort the plan ever runs
      graft.PhaseLog.enabled = true
      def maxBucket(): String = graft.PhaseLog.drain()
        .filter(_._1 == "rank.maxBucketRows")
        .map(_._2.toLong.toString).lastOption.getOrElse("?")
      twoPass(100000L, 32); naive(100000L); sweep() // warmup
      graft.PhaseLog.drain()
      time(s"two-pass rank n=$n P=32")(twoPass(n, 32))
      val mb1 = maxBucket()
      time(s"two-pass rank n=${n * factor} P=${32 * factor}")(
        twoPass(n * factor, 32 * factor))
      println(s"    max bucket rows: $mb1 at 1x, ${maxBucket()} at " +
        s"${factor}x (constant-per-task target = ${n / 32})")
      time(s"NAIVE 1-task window n=$n")(naive(n))
      if (n * factor <= 40000000L)
        time(s"NAIVE 1-task window n=${n * factor}")(naive(n * factor))
      else println(s"    naive at n=${n * factor}: skipped — one task " +
        "sorting the whole input is the cliff, not a data point")
      spark.stop()
      return
    }

    // salted-join skew mode (third arg "saltjoin", optional fourth
    // arg = large-side rows, default 2e7): the q22 shape with a
    // GENUINELY hot key — half the large side carries ONE key, the
    // rest spreads over 999 — r15 verdict item 6. Reports three
    // spellings over the identical data:
    //  - SkewOps.saltedEquiJoin (merge-hinted SMJ on (key, salt)):
    //    the hot key spreads across saltFactor reducers by
    //    construction; AQE's OptimizeSkewedJoin stays applicable for
    //    residual (key, salt) skew;
    //  - the plain join under AQE (OptimizeSkewedJoin splits the hot
    //    partition at runtime — the first line of defense the
    //    SkewOps scaladoc names);
    //  - the plain join with AQE skew handling OFF, as the
    //    one-reducer-funnel witness.
    // All three must return identical counts (salting is a pure
    // execution-strategy change).
    if (args.length > 2 && args(2) == "saltjoin") {
      val n = args.drop(3).headOption.map(_.toLong).getOrElse(20000000L)
      // small side sized PAST the broadcast threshold (n/2 distinct
      // keys ≈ 160 MB at the default n) — the operator's documented
      // regime; a broadcastable dim table needs no salt at all
      val nKeys = n / 2
      val large = spark.range(n).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(nKeys - 1)) + 1L).as("key"),
        col("id").as("payload"))
      val small = spark.range(nKeys).select(
        col("id").as("key"), (col("id") * 7).as("dim"))
      def salted(): Long =
        graft.operators.SkewOps.saltedEquiJoin(large, small, "key", 8).count()
      def plain(): Long = large.join(small, "key").count()
      def plainNoSkewAqe(): Long = {
        val prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        try plain() finally
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
      }
      def saltedHot(): Long =
        graft.operators.SkewOps
          .saltedEquiJoinHot(large, small, "key", 8).count()
      graft.operators.SkewOps
        .saltedEquiJoin(large.limit(100000), small, "key", 8).count() // warmup
      var a = 0L; var b = 0L; var c = 0L; var d = 0L
      time(s"full-salt SMJ hot-key n=$n") { a = salted(); a }
      time(s"TARGETED salt (hot only) n=$n") { d = saltedHot(); d }
      time(s"plain join + AQE skew-split n=$n") { b = plain(); b }
      time(s"plain join, skew AQE OFF n=$n") { c = plainNoSkewAqe(); c }
      require(a == b && b == c && c == d,
        s"counts diverged: salted=$a hot=$d aqe=$b off=$c")
      println(s"    all spellings returned $a rows")
      spark.stop()
      return
    }

    // planted-skew mode (third arg "skew"): every ×F linearity claim
    // above runs on the affine-map corpus, which is HOT-KEY-FREE by
    // construction — this mode plants the hot keys real web corpora
    // have and times the three shuffle families that could funnel
    // them to one task (r14 verdict item 2):
    //  1. gh census with ONE boilerplate 20-gram at n occurrences
    //     (n = 10⁵, 10⁶ by default; extra args override): the shipped
    //     groupBy census (partial agg bounds the hot key map-side)
    //     vs the retired gh-WINDOW spelling (all n occurrences sort
    //     in one task — kept inline here as the cliff reference) vs a
    //     hot-key-FREE corpus of identical gram volume (the linearity
    //     baseline). Corpus: n docs of 24 tokens — 2 unique + the
    //     20-token boilerplate + 2 unique — so exactly ONE of each
    //     doc's 5 grams is the planted hot gh.
    //  2. CC with a planted hot COMPONENT: a star of n edges on one
    //     hub (the closure's large-star step must fan the hub's
    //     neighborhood out, not serialize it) vs n disjoint pairs.
    //  3. LSH band-key hot BUCKET: m identical docs among 50k unique
    //     ones collide in every band; pair volume m(m−1)/2 is
    //     INHERENT (they are true duplicates) — the probe shows wall
    //     tracks that output mass (×4 for m ×2), not a hang.
    if (args.length > 2 && args(2) == "skew") {
      import graft.plans.GramHashGenerate
      import org.apache.spark.sql.expressions.Window
      val hotNs = if (args.length > 3) args.drop(3).map(_.toLong).toSeq
        else Seq(1000000L, 4000000L, 10000000L)
      def skewDocs(n: Long, hot: Boolean): DataFrame = {
        val boiler = (0 until 20).map(i => s"b$i").mkString(" ")
        val mid =
          if (hot) lit(boiler)
          else concat_ws(" ", (0 until 20).map(i =>
            concat(lit("h"), col("id"), lit(s"x$i"))): _*)
        spark.range(n).select(col("id").as("doc_id"),
          concat_ws(" ",
            concat(lit("p"), col("id")), concat(lit("q"), col("id")),
            mid,
            concat(lit("r"), col("id")), concat(lit("s"), col("id")))
            .as("text"))
      }
      val toks = split(col("text"), " ")
      def censusN(d: DataFrame): Long =
        DedupOps.exactSubstringDupGramCensus(d, "doc_id", toks, 20).count()
      def spansN(d: DataFrame): Long = {
        val (spans, _) = DedupOps.exactSubstringSpans(d, "doc_id", toks, 20)
        spans.count()
      }
      // the RETIRED r14 window spelling, inline as the cliff witness
      def windowCensusN(d: DataFrame): Long =
        d.select(col("doc_id"), toks.as("t"))
          .select(col("doc_id"),
            GramHashGenerate.of(col("t"), 20).as(Seq("pos", "gh")))
          .withColumn("occ",
            count(lit(1)).over(Window.partitionBy(col("gh"))))
          .filter(col("occ") >= 2)
          .count()
      censusN(skewDocs(10000L, hot = true)); sweep() // warmup
      for (n <- hotNs) {
        time(s"census uniform n=$n")(censusN(skewDocs(n, hot = false)))
        time(s"census hot-gram n=$n")(censusN(skewDocs(n, hot = true)))
        time(s"census WINDOW(ref) hot n=$n")(
          windowCensusN(skewDocs(n, hot = true)))
        time(s"spans hot-gram n=$n")(spansN(skewDocs(n, hot = true)))
      }
      // DENSE single-gram mass: every doc is ONE token repeated, so
      // every window is the SAME gh — nDocs·(tokPerDoc−19)
      // occurrences of one gram (3·10⁷ below from 3000 docs; cheap to
      // build, unlike one-occurrence-per-doc corpora). This is the
      // regime where the retired WINDOW census demonstrably cliffs ON
      // ONE BOX: its exchange routes all 3·10⁷ hot rows to a single
      // task's sort, while the shipped groupBy census collapses them
      // map-side to one partial per partition and broadcasts a 1-row
      // dup set back.
      def denseHot(nDocs: Long, tokPerDoc: Int): DataFrame =
        spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", array_repeat(lit("b"), tokPerDoc)).as("text"))
      val dense = denseHot(3000L, 10000)
      time("census dense-hot 3e7 occ")(censusN(dense))
      time("census WINDOW(ref) dense-hot 3e7")(windowCensusN(dense))
      time("spans dense-hot 3e7 occ")(spansN(dense))
      // 2. hot component: star on hub 0 vs disjoint pairs
      def ccN(e: DataFrame): Long = {
        val (lab, rel) = GraphOps.connectedComponents(e, "src", "dst")
        val out = lab.count(); rel(); out
      }
      def star(n: Long): DataFrame = spark.range(1, n + 1)
        .select(lit(0L).as("src"), col("id").as("dst"))
      def pairs(n: Long): DataFrame = spark.range(n)
        .select((col("id") * 2).as("src"), (col("id") * 2 + 1).as("dst"))
      ccN(star(10000L)); sweep() // warmup
      for (n <- hotNs) {
        time(s"cc disjoint-pairs n=$n")(ccN(pairs(n)))
        time(s"cc hot-star n=$n")(ccN(star(n)))
      }
      // 3. hot band bucket: m identical docs among 50k unique
      def bandCorpus(m: Long): DataFrame = {
        val dupText = (0 until 30).map(i => s"dup token$i word$i").mkString(" ")
        // background texts must be distinct in CHARACTER-TRIGRAM space
        // (the shingle alphabet) — md5-derived tokens: raw id digits
        // make CONSECUTIVE ids near-identical trigram sets (J ~ 0.8,
        // genuine near-dups), md5 decorrelates them to J ~ 2% where
        // the 2-band × 6-row geometry collides with probability ~0
        spark.range(50000L).select(col("id").as("doc_id"),
          when(col("id") < m, lit(dupText))
            .otherwise(concat_ws(" ", (0 until 6).map(i =>
              md5(concat(lit(s"bg$i:"), col("id")))): _*))
            .as("text"))
      }
      def bandPairsN(m: Long): Long =
        DedupOps.minhashCandidatePairs(bandCorpus(m), "doc_id", "text").count()
      bandPairsN(100L); sweep() // warmup
      for (m <- Seq(0L, 1000L, 2000L)) // m=0 = background baseline
        time(s"band hot-bucket m=$m")(bandPairsN(m))
      spark.stop()
      return
    }

    // hamming-banding mode (third arg "hm"): the media-signature
    // dedup family (d22-d25 spine) probed on a synthetic 64-bit
    // signature corpus — per 10 ids, a 3-member planted family
    // (anchor + 2-bit + 4-bit variants, all within maxDist 6) and 7
    // uniform xxhash64 singletons, so family pair volume scales
    // linearly while the UNIFORM collision mass exposes the banding
    // geometry's quadratic term: the default d+1 split keys 9.1-bit
    // bands (collision mass ~ 7·n²/2^9.14), blocks=8 keys 16-bit
    // block pairs (~ 28·n²/2^16 — 29× less). Reported at 1× and F×
    // for both geometries; labels-wall includes the CC closure.
    if (args.length > 2 && args(2) == "hm") {
      import graft.multimodal.MultimodalOps
      def sigs(n: Long): DataFrame =
        spark.range(n).select(col("id").as("media_id"),
          when(col("id") % 10 < 3,
            xxhash64(concat(lit("fam"),
              (col("id") / 10).cast("long").cast("string"))))
            .otherwise(
              xxhash64(concat(lit("s"), col("id").cast("string"))))
            .bitwiseXOR(
              when(col("id") % 10 === 1, lit(3L))        // 2 flips
                .when(col("id") % 10 === 2, lit(0x1111L)) // 4 flips
                .otherwise(lit(0L))).as("phash"))
      val n1 = 100000L
      def labels(n: Long, blocks: Int): Long = {
        val (lab, _) = MultimodalOps.hammingDedupLabels(
          sigs(n), "media_id", "phash", maxDist = 6, blocks = blocks)
        lab.filter(col("csize") > 1).count()
      }
      // geometry chosen by the operator (r12 verdict #1): persist the
      // signature table first — the shape a real caller at 10⁶⁺ has —
      // so the auto count() pass reads the cache, then report the
      // PhaseLog-recorded choice alongside the wall
      def labelsAuto(n: Long): Long = {
        val s = sigs(n).persist()
        try {
          val (lab, _) = MultimodalOps.hammingDedupLabels(
            s, "media_id", "phash", maxDist = 6)
          lab.filter(col("csize") > 1).count()
        } finally s.unpersist(blocking = false)
      }
      graft.PhaseLog.enabled = true
      labels(10000L, 7); sweep() // warmup
      // optional 4th+ args select the block geometries (isolated
      // large-factor reruns without re-paying the 9-bit default);
      // "auto" probes the operator-chosen geometry
      val geoms = if (args.length > 3) args.drop(3).toSeq
        else Seq("7", "8", "10", "auto")
      for (g <- geoms) {
        if (g == "auto") {
          def chosen(): Unit = graft.PhaseLog.drain()
            .filter(_._1 == "hamming auto-blocks")
            .foreach { case (_, b) =>
              println(s"    auto geometry chose B=${b.toInt}") }
          graft.PhaseLog.drain() // clear pre-warmup noise
          time("hamming labels 1x  B=auto")(labelsAuto(n1))
          chosen()
          time(s"hamming labels ${factor}x B=auto")(labelsAuto(n1 * factor))
          chosen()
        } else {
          val b = g.toInt
          // the default d+1 geometry is probed only to 3×: at 1M
          // uniform signatures its ~7·n²/2^9.14 ≈ 6·10⁹ candidate
          // rows spill past this box's 80 GB — measured, not
          // estimated (the first hm run died ENOSPC there). That IS
          // the finding; the wider-block geometries take the full
          // factor in stride.
          val f = if (b == 7) math.min(factor, 3) else factor
          time(s"hamming labels 1x  B=$b")(labels(n1, b))
          time(s"hamming labels ${f}x B=$b")(labels(n1 * f, b))
        }
      }
      spark.stop()
      return
    }

    // JIT/codegen warmup pass at 1x, uncounted
    closure(docs1); semdedup(emb1, 16); ivf(emb1); pagerank(edges1); sweep()

    time("closure 1x")(closure(docs1))
    time(s"closure ${factor}x")(closure(docs10))
    time("semdedup 1x (C=16)")(semdedup(emb1, 16))
    time(s"semdedup ${factor}x (C=${16 * factor})")(semdedup(emb10, 16 * factor))
    time("ivf-topk 1x")(ivf(emb1))
    time(s"ivf-topk ${factor}x")(ivf(emb10))
    time("pagerank 1x")(pagerank(edges1))
    time(s"pagerank ${factor}x")(pagerank(edgesX(factor)))
    time(s"pagerank ${factor * 5 / 2}x")(pagerank(edgesX(factor * 5 / 2)))
    spark.stop()
  }
}
