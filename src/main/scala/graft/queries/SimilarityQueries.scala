package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.{LangMarkers, SparkEntry}
import graft.QuerySupport._
import graft.functions.TextOps
import graft.operators.{CorpusOps, DedupOps, DetParams, GraphOps, SimilarityOps, SketchOps}

/** Similarity search / ANN family over the embeddings table: brute-force, LSH, IVF, PQ, IVF-PQ, TF-IDF pairs, SemDeDup, cross-corpus join, centroids, SQ8, hard negatives, recall eval.
  *
  * Split from [[graft.SparkEntry]] (round 6, hygiene item): entry
  * bodies are byte-identical to the pre-split map; QueryRegistrySpec
  * proves family disjointness and exact oracle key coverage.
  */
private[graft] object SimilarityQueries {
  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // == similarity search over embeddings ==

    // brute-force exact cosine top-5 for a broadcast query set
    "s1_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),


    // sign-LSH bucketed ANN top-3 — AUTO band width since round 16:
    // fixed 4-bit bands put ~n/16 corpus vectors in each query's
    // bucket per band, so per-query probe cost grew linearly with
    // the corpus (an ANN index that rescans 6% of a 100 TB corpus
    // per query is not an index). Bits from one driver-side corpus
    // count hold bucket occupancy ≤ 64 at any scale.
    "s2_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.lshTopKAuto(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 3)
    }),


    // metadata-filtered exact top-k: neighbors restricted to the
    // query's own label class — the attribute is the broadcast-join
    // KEY (pre-filter), never a post-filter on a scored pool
    "s18_filtered_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.filteredTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        "label", 5)
    }),


    // cross-corpus ANN JOIN: both sides large (even vs odd split of
    // the embedding table standing in for crawl-vs-training-set), no
    // broadcast — band-keyed shuffle join + bounded-state top-k.
    // AUTO band width since round 16 (the sf1 sweep measured the
    // fixed 4-bit face at 135× its sf0.1 wall — n²/16 candidates per
    // band), at the RECALL-BIASED occupancy (256): 2 fewer bits than
    // s19's tight face, 4× the expected candidates per probe, still
    // linear in n. s19 keeps the tight default so both ends of the
    // occupancy knob stay oracle-pinned.
    "s8_ann_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.lshJoinTopKAuto(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", 3, occ = DetParams.RecallBandOcc)
    }),


    // s8 with DATA-ADAPTIVE band width — the 100 TB face of the
    // cross-corpus join (see d35): fixed 4-bit bands made the band
    // join's candidate mass |L|x|R|/16 per band — 135x the sf0.1
    // wall at the 10x sf1 sweep; bits grow with the larger side so
    // candidates stay linear at the standard LSH recall trade.
    "s19_ann_join_auto" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.lshJoinTopKAuto(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", 3)
    }),


    // embedding-space governance: pairwise cosine between per-label
    // centroids (classes-separable / sources-drift-together readout,
    // d12's embedding twin). Engine-stable by construction: each
    // float is quantized ONCE via floor-micro-units (pure IEEE ops —
    // the q29 pattern; FLOAT->DECIMAL casts are a dialect trap, Spark
    // goes through the shortest decimal repr where DuckDB keeps the
    // exact binary value), the per-dim centroid is an integer-div
    // mean of exact BIGINT sums (div truncation parity with // is
    // m13's), and all dots/norms are then exact integer arithmetic —
    // one irrational sqrt/round at the very end (the safe one-shot
    // class). Plan: posexplode (narrow) -> one keyed agg to a
    // |labels|x|dims| table (640 rows here, tiny at ANY corpus size)
    // -> self-join on dim over that tiny table. The only full-data
    // pass is the map-side-partial agg; cmu is bounded 1e6 by
    // construction so nothing overflows at any corpus size.
    "s9_centroid_sim" -> ((s, dir) => {
      val cent = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          floor(col("v").cast("double") * lit(1e6)).as("vu"))
        .groupBy(col("label"), col("dim"))
        .agg(expr("sum(vu) div count(1)").as("cmu"))
        .persist()
      val nrm = cent.groupBy(col("label"))
        .agg(sum(col("cmu") * col("cmu")).as("nrm2"))
        .filter(col("nrm2") > 0)
      cent.as("a")
        .join(cent.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.cmu") * col("b.cmu")).as("dot"))
        .join(nrm.as("x"), col("label_a") === col("x.label"))
        .join(nrm.as("y"), col("label_b") === col("y.label"))
        .select(col("label_a"), col("label_b"),
          round(col("dot") / (sqrt(col("x.nrm2")) * sqrt(col("y.nrm2"))), 6)
            .as("cos_sim"))
    }),


    // IVF-bucketed ANN top-3 (coarse quantizer + probed cells)
    "s3_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.ivfTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        numCentroids = 16, probes = 2, k = 3)
    }),


    // product-quantization ANN top-3: 4 subspaces x 16-centroid
    // codebooks (corpus-prefix codebook, like s3's quantizer),
    // asymmetric distance over the code table
    "s4_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.pqTopK(
        e, e.filter(col("vec_id") < 10), e.filter(col("vec_id") < 16),
        "vec_id", "embedding", subspaces = 4, k = 3)
    }),


    // IVF-PQ composition: coarse cells (full distance = sum of
    // subspace distances) + ADC over codes, probed cells only
    "s5_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopK(
        e, e.filter(col("vec_id") < 10), e.filter(col("vec_id") < 16),
        "vec_id", "embedding", subspaces = 4, probes = 2, k = 3)
    }),


    // sparse-vector similarity: TF-IDF cosine pairs through an
    // inverted-index join (CorpusOps.tfidfCosinePairs) — documents
    // meet only through shared terms, Σ df² bounded by the maxDf
    // vocabulary cut, never all-pairs. Word-BIGRAM vocabulary (the
    // unigram vocab of the synthetic corpus is 31 terms — too coarse
    // to discriminate); sequence() is guarded because Spark's
    // sequence(1, 0) DESCENDS where DuckDB's range(1, 1) is empty.
    "s6_tfidf_pairs" -> ((s, dir) => {
      val d0 = t(s, dir, "documents").select(col("doc_id"), cleanTokens.as("toks"))
      val bigrams = when(size(col("toks")) >= 2,
        expr("transform(sequence(1, size(toks) - 1), " +
          "i -> concat(toks[i - 1], ' ', toks[i]))"))
        .otherwise(array().cast("array<string>"))
      val (pairs, _) = CorpusOps.tfidfCosinePairs(d0, "doc_id", bigrams,
        maxDf = 100L, minCos = 0.3)
      pairs
    }),


    // hard-negative mining — the contrastive-training pair generator:
    // per anchor, the top-3 MOST SIMILAR vectors with a DIFFERENT
    // label (easy negatives are useless; the near-boundary ones carry
    // the gradient signal). s1's broadcast-anchor shape with a label
    // predicate in the join; deterministic top-k (sim desc, id).
    "s11_hard_negatives" -> ((s, dir) => {
      // zero-norm guards on BOTH sides (the s7/s8 lesson: 0/0 is NULL
      // in Spark but NaN in DuckDB, and NaN sorts FIRST under desc)
      val e = t(s, dir, "embeddings")
        .filter(SimilarityOps.dotD(col("embedding"), col("embedding")) > 0)
      val anchors = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("embedding").as("a_emb")))
      val scored = e.join(anchors,
          col("vec_id") =!= col("a_id") && col("label") =!= col("a_label"))
        .select(col("a_id"), col("vec_id"),
          SimilarityOps.cosine6(col("a_emb"), col("embedding")).as("sim"))
      val w = Window.partitionBy(col("a_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    }),


    // TRUNCATED-DIMENSION retrieval eval (the Matryoshka-style
    // dimension-budget table): recall@5 of cosine top-5 computed over
    // only the first D dims vs the full-dim exact top-5, per query
    // and budget D in {8, 16, 32}. The tuning readout for trading
    // index width against retrieval quality before building the
    // s3-s5 machinery at a given dim budget. Zero-norm guards on the
    // TRUNCATED prefix too (a nonzero vector can have an all-zero
    // prefix — the s7/s8 NaN-sorts-first class). At scale each
    // budget's pass is the s1 broadcast-query shape; the corpus-side
    // cost is 3 narrow slices + the brute scans, never a cross join
    // of budgets.
    "s12_dim_recall" -> ((s, dir) => {
      val e0 = t(s, dir, "embeddings")
      val full = e0.filter(
        SimilarityOps.dotD(col("embedding"), col("embedding")) > 0)
      val q = full.filter(col("vec_id") < 10)
      val exact = SimilarityOps
        .bruteForceTopK(full, q, "vec_id", "embedding", 5)
        .select(col("q_id"), col("vec_id"))
      Seq(8, 16, 32).map { d =>
        val td = e0
          .select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
          .filter(SimilarityOps.dotD(col("embedding"), col("embedding")) > 0)
        val tq = td.filter(col("vec_id") < 10)
        val approx = SimilarityOps
          .bruteForceTopK(td, tq, "vec_id", "embedding", 5)
          .select(col("q_id"), col("vec_id"))
        val hits = approx.join(exact, Seq("q_id", "vec_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("__h"))
        q.select(col("vec_id").as("q_id"))
          .join(hits, Seq("q_id"), "left")
          .select(lit(d.toLong).as("dim_budget"), col("q_id"),
            coalesce(col("__h"), lit(0L)).as("n_hit"))
      }.reduce(_ union _)
        .withColumn("recall_mu", expr("(1000000 * n_hit) div 5"))
    }),


    // ANN recall@5 eval — the quality metric every approximate index
    // deployment tracks: per query, how many of the sign-LSH top-5
    // (s2's shape) appear in the exact brute-force top-5 (s1's
    // shape). Both sides are deterministic (sim desc, id tiebreak),
    // the overlap is an equi-join on unique (q, id) pairs, and recall
    // is integer micro-units (count ratio — the q29 tie class). At
    // scale the eval runs on a sampled query set exactly like this
    // broadcast one; the corpus-side cost is the two operators'.
    // IVF nprobe tuning sweep (SimilarityOps.ivfProbeSweep) — the
    // recall-vs-probe-budget curve read before committing an s3
    // config, the ANN analogue of d16's banding sweep: one corpus
    // cell-assignment, one query ranking to the largest budget, every
    // budget a filter over the same scored candidate stream, one
    // exact brute-force pass (the price of any recall eval).
    "s13_ivf_probe_sweep" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.ivfProbeSweep(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", numCentroids = 16,
        budgets = Seq(1, 2, 4), k = 5)
    }),


    // MMR DIVERSITY SELECTION (Carbonell & Goldstein 1998): per
    // anchor, top-16 cosine pool then greedy pick-5 trading
    // relevance (0.7) against redundancy (0.3) — the re-rank that
    // keeps a curated subset from collapsing into near-duplicates of
    // one mode. Semantics on MmrSelect; pool stage swappable for the
    // ANN scale path.
    "s14_mmr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.mmrSelect(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", poolK = 16, k = 5,
        lambda = 0.7, mu = 0.3)
    }),


    // recall@5 of the shipped LSH index (s2's auto-geometry
    // lshTopKAuto) against exact brute force, per query
    "q54_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = SimilarityOps.bruteForceTopK(e, q, "vec_id", "embedding", 5)
        .select(col("q_id"), col("vec_id"))
      val approx = SimilarityOps.lshTopKAuto(e, q, "vec_id", "embedding", 5)
        .select(col("q_id"), col("vec_id"))
      val hits = approx.join(exact, Seq("q_id", "vec_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("__h"))
      q.select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("__h"), lit(0L)).as("n_hit"))
        .withColumn("recall_mu", expr("(1000000 * n_hit) div 5"))
    }),


    // int8 scalar quantization (SQ8) — the embedding-compression path
    // every vector index at corpus scale runs (4x storage cut before
    // the PQ/IVF machinery of s3-s5): per-vector symmetric scale
    // max|v|/127, code = floor(v*127/vmax + 0.5) (floor(x+0.5) is
    // identical IEEE in both engines; round() is not), and the
    // reconstruction-error census in exact integer nano-units —
    // per-element floor quantization, BIGINT fold, integer-div mean.
    // Pure narrow transform, no shuffle at any corpus size.
    "s10_sq8_quantize" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(size(col("embedding")) > 0)
        .select(col("vec_id"), col("embedding"),
          greatest(abs(expr("cast(array_max(embedding) as double)")),
            abs(expr("cast(array_min(embedding) as double)"))).as("vmax"))
        .filter(col("vmax") > 0)
        .withColumn("codes",
          expr("transform(embedding, v -> " +
            "cast(floor(cast(v as double) * 127.0 / vmax + 0.5) as int))"))
        .select(col("vec_id"),
          floor(col("vmax") * lit(1e6)).as("vmax_mu"),
          size(col("codes")).as("n_dims"),
          // coalesce per element: a NULL array element would NULL the
          // whole Spark fold while DuckDB's list_sum SKIPS nulls —
          // treating it as 0 matches the oracle's skip semantics
          expr("aggregate(zip_with(embedding, codes, (v, c) -> " +
            "cast(floor(abs(cast(v as double) - c * vmax / 127.0) * 1e9) " +
            "as bigint)), 0L, (acc, x) -> acc + coalesce(x, 0L))")
            .as("sum_err_nano"))
        .withColumn("mean_err_nano", expr("sum_err_nano div n_dims"))),


    // SemDeDup (Abbas et al. 2023): nearest-cell assignment against
    // broadcast coarse cells, within-cell cosine prune at 0.45 (this
    // corpus's planted near-dup level, cf. d5), min-id kept — the
    // cell bound is the explicit capacity/recall trade that keeps the
    // pair stream finite at corpus scale
    "s7_semantic_dedup" -> ((s, dir) => {
      val (kept, _) = SimilarityOps.semanticDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        numCentroids = 16, minCos = 0.45)
      kept
    }),

    // PER-CELL SemDeDup governance census — how much each
    // quantization cell loses to the semantic prune (the
    // embedding-space twin of d20's cluster census); semantics and
    // the min-id-survivor invariant on the operator.
    "s15_semdedup_census" -> ((s, dir) => {
      val (census, _) = SimilarityOps.semanticDedupCensus(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        numCentroids = 16, minCos = 0.45)
      census
    }),

    // COMPOSED s7+s15 in ONE assignment pass (the d21 twin): the kept
    // rows (s7's output) annotated with their cell's census columns
    // (s15's readout). s7 = project (vec_id, cell); s15 = distinct
    // (cell, n_vecs, n_kept, pruned_mu). Standalone s7 and s15 each
    // re-pay the n×C assignment and the within-cell prune; this
    // delivers both for one — the census side is ≤ |cells| rows,
    // broadcast onto the kept frame.
    "s17_kept_census" -> ((s, dir) => {
      val (keptCensus, _) = SimilarityOps.semanticDedupWithCensus(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        numCentroids = 16, minCos = 0.45)
      keptCensus
    }),

    // SIMPLIFIED SILHOUETTE per quantization cell (Rousseeuw 1987,
    // the centroid-based variant): s = (b − a)/max(a, b) with
    // a = cosine DISTANCE to the own cell's centroid and b = the
    // nearest other centroid — the cluster cohesion/separation
    // readout the IVF/SemDeDup cell structure lacks. Exact-integer
    // pipeline: cos quantizes to micro-units ONCE (the t20 decimal
    // recipe), distances are 1e6 − cos_mu (non-negative BIGINTs up
    // to 2e6), per-vector s_mu is one integer micro-division with a
    // both-zero guard, per-cell means are sum div count. Assignment
    // and centroids are the s7 spelling (vec_id < 16 seed centroids,
    // zero-norm guards), so cells line up with s7/s15. One corpus
    // scan against 16 broadcast centroids; per-vector min/max fold
    // in the aggregate — no window, no shuffle above |cells| rows.
    "s16_silhouette" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        .withColumn("c_nrm", SimilarityOps.l2norm(col("c_emb")))
        .filter(col("c_nrm") > 0.0))
      // persisted: dist feeds an AGGREGATE (per-vector own-cell fold)
      // and a row-level JOIN — the documented d16 agg-vs-join class
      // where one side exchanges partial rows and the other raw rows,
      // so ReusedExchange cannot cover them and the embeddings scan
      // would run twice. Released by the query loop's sweep
      // ([[graft.SparkEntry.releasePersisted]]).
      val dist = e.select(col("vec_id"), col("embedding"))
        .withColumn("nrm", SimilarityOps.l2norm(col("embedding")))
        .filter(col("nrm") > 0.0)
        .join(cents)
        .select(col("vec_id"), col("c_id"),
          (lit(1000000L) -
            (round(SimilarityOps.dotD(col("embedding"), col("c_emb")) /
              (col("nrm") * col("c_nrm")), 6).cast("decimal(18,6)") *
              1000000).cast("long")).as("d_mu"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val per = dist
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d_mu"), col("c_id"))).as("own"),
          count(lit(1)).as("nc"))
        .select(col("vec_id"), col("own.c_id").as("cell"),
          col("own.d_mu").as("a_mu"), col("nc"))
      val b = dist.join(per, Seq("vec_id"))
        .filter(col("c_id") =!= col("cell"))
        .groupBy(col("vec_id"), col("cell"), col("a_mu"))
        .agg(min(col("d_mu")).as("b_mu"))
      b.select(col("cell"),
          expr("CASE WHEN greatest(a_mu, b_mu) = 0 THEN 0L " +
            "ELSE (1000000 * (b_mu - a_mu)) div greatest(a_mu, b_mu) " +
            "END").as("s_mu"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("s_mu")).as("ssum"))
        .select(col("cell"), col("n_vecs"),
          expr("ssum div n_vecs").as("mean_sil_mu"))
    })
  )
}
