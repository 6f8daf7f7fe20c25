package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-similarity operators: exact cosine, sign-LSH sketches,
  * brute-force and LSH-bucketed approximate nearest neighbors.
  *
  * Scale design (100 TB / billions of vectors):
  *  - the per-vector sketch is a narrow expression (one corpus pass);
  *  - brute-force top-k broadcasts the (small) query set and never
  *    shuffles the corpus — a BroadcastNestedLoopJoin feeding a
  *    per-query top-k, which AQE executes as a bounded partial top-k
  *    per partition before the final merge;
  *  - the LSH path joins on band buckets, so candidate generation is
  *    hash-partitioned and the expensive exact cosine runs only on
  *    bucket collisions. Band bits should grow ~log2(n) with corpus
  *    size to keep buckets bounded.
  *
  * All math is double-precision with a fixed left-to-right fold so
  * the DuckDB oracle reproduces values bit-for-bit (then both sides
  * round to 6 dp for hash comparison).
  */
object SimilarityOps {
  import DetParams._

  /** Double-precision dot product of two array<float/double> columns,
    * left-to-right accumulation — the codegen'd custom expression
    * ([[graft.plans.VectorDotProduct]]). Bit-identical to the
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` spelling. */
  def dotD(a: Column, b: Column): Column =
    graft.plans.VectorDotProduct.dot(a, b)

  /** Cosine similarity (double). */
  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))

  /** Cosine rounded to 6 dp — the cross-system comparison contract. */
  def cosine6(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** L2 norm of an embedding column (double). */
  def l2norm(emb: Column): Column = sqrt(dotD(emb, emb))

  /** MMR diversity selection: for each query anchor, take its
    * top-`poolK` exact-cosine candidate pool, then greedily pick `k`
    * of them maximizing `lambda * sim(q,c) - mu * max_sel sim(c,s)` —
    * relevance traded against redundancy, the standard re-rank for
    * building DIVERSE training/eval subsets where plain top-k returns
    * near-duplicates of one mode. Selection semantics (tie-breaks,
    * rounding, why `mu` is a separate parameter instead of
    * `1 - lambda`) live on [[graft.plans.MmrSelect]].
    *
    * Output: (q_id, sel_rank, vec_id, sim, mmr), `sel_rank` 1-based
    * in pick order.
    *
    * 100 TB shape: the ONLY corpus-sized work is the pool stage
    * (here [[bruteForceTopK]] — broadcast queries, no corpus
    * shuffle; swap in [[lshTopKAuto]]/IVF for the ANN scale path since
    * any (q_id, vec_id, sim) pool frame composes). Everything after
    * is bounded: poolK rows per anchor flow into one keyed
    * collect_list, and the O(poolK^2) pairwise cosines run inside
    * the per-group expression — quadratic in the POOL bound, never
    * the corpus. */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, poolK: Int, k: Int,
                lambda: Double, mu: Double): DataFrame = {
    val pool = bruteForceTopK(corpus, queries, idCol, embCol, poolK)
    val vecs = corpus.select(col(idCol),
      col(embCol).cast("array<double>").as("emb"))
    pool.join(vecs, Seq(idCol))
      .groupBy(col("q_id"))
      .agg(collect_list(struct(col("sim"),
        col(idCol).cast("long").as("vid"), col("emb"))).as("cands"))
      .select(col("q_id"),
        explode(graft.plans.MmrSelect.of(col("cands"), k, lambda, mu))
          .as("s"))
      .select(col("q_id"), col("s.sel_rank").as("sel_rank"),
        col("s.vec_id").as("vec_id"), col("s.sim").as("sim"),
        col("s.mmr").as("mmr"))
  }

  /** Exact brute-force top-k neighbors for a small query set.
    * `queries` must be broadcastable; the corpus side never shuffles
    * (broadcast nested-loop join + per-query top-k). Norms are
    * precomputed per vector (staged projections) so each pair costs
    * one dot product, not three. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb"))))
    val c = corpus.select(col(idCol), col(embCol))
      .withColumn("c_nrm", l2norm(col(embCol)))
    val scored = c.join(q, col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(dotD(col("q_emb"), col(embCol)) /
          (col("q_nrm") * col("c_nrm")), 6).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** METADATA-FILTERED exact top-k — the vector-DB "filtered search"
    * shape: each query retrieves only among corpus rows whose
    * attribute matches the query's own (label-constrained retrieval,
    * tenant isolation, source-restricted RAG). The filter is applied
    * as PRE-filter, not post-filter: the attribute becomes the JOIN
    * KEY of the broadcast hash join, so candidate pairs form only
    * inside matching attribute classes — a query over a class holding
    * p% of the corpus scores p%·|C| pairs, never the |Q|·|C| of
    * score-then-filter, and (unlike post-filtering a fixed-k pool) k
    * survivors are guaranteed whenever the class has k members.
    * Corpus side never shuffles (broadcast join + per-query top-k);
    * norms staged once per side so each pair costs one dot product. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, attrCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"),
        col(attrCol).as("q_attr"))
      .withColumn("q_nrm", l2norm(col("q_emb"))))
    val c = corpus.select(col(idCol), col(embCol), col(attrCol))
      .withColumn("c_nrm", l2norm(col(embCol)))
    val scored = c.join(q,
        col(attrCol) === col("q_attr") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(dotD(col("q_emb"), col(embCol)) /
          (col("q_nrm") * col("c_nrm")), 6).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** `df` plus its embedding norm `nrm`, zero-norm rows dropped (the
    * s7 guard: 0/0 cosine is NULL in Spark but NaN in DuckDB), one row
    * per [[graft.plans.SketchBandsAuto]] band key in `key`. */
  private def bandKeys(df: DataFrame, emb: String, nrm: String,
                       key: String, bits: Int): DataFrame =
    df.withColumn(nrm, l2norm(col(emb)))
      .filter(col(nrm) > 0.0)
      .withColumn(key, explode(graft.plans.SketchBandsAuto(col(emb), bits)))

  /** LSH-bucketed approximate top-k with DATA-ADAPTIVE band width
    * (round 16 — the headline s2 face): candidates = vectors sharing
    * at least one band key with the query, then exact cosine + top-k
    * on the (bounded) candidate set. With FIXED 4-bit bands each
    * query's bucket collects ≈ n/2⁴ corpus vectors per band, so the
    * per-query candidate pool — and the exact-cosine rescore behind
    * it — grows LINEARLY with the corpus, which defeats the point of
    * an ANN index. Bits-per-band from ONE driver-side corpus count
    * ([[DetParams.autoBitsPerBand]], before the zero-norm guard so
    * the DuckDB oracle's count(*) derives identical geometry) holds
    * expected bucket occupancy — and so per-query probe cost — at
    * ≤ `occ` regardless of corpus size. Recall trade as in
    * [[lshJoinTopKAuto]]; zero-norm guards on both sides (the s7
    * lesson: 0/0 is NULL in Spark but NaN in DuckDB, and NaN sorts
    * FIRST under desc). */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
                  embCol: String, k: Int,
                  occ: Int = DetParams.AutoBandOcc): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = DetParams.autoBitsPerBand(corpus.count(), occ)
    val qb = broadcast(bandKeys(
      queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb")),
      "q_emb", "q_nrm", "q_bkey", bits))
    val cb = bandKeys(corpus.select(col(idCol), col(embCol)),
      embCol, "c_nrm", "bkey", bits)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(idCol))
    cb.join(qb,
        col("bkey") === col("q_bkey") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(dotD(col("q_emb"), col(embCol)) /
          (col("q_nrm") * col("c_nrm")), 6).as("sim"))
      .distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Embedding JOIN between two LARGE tables via sign-LSH banding
    * (cross-corpus near-dup between a new crawl and a training set,
    * retrieval candidate generation), where a broadcast build is
    * impossible: BOTH sides explode to band keys and meet in a
    * band-keyed join — the posting-list shape, a pair only where a
    * band collides, never O(|L|·|R|) — with exact cosine on
    * collisions only and the per-left-row top-k on the bounded-state
    * [[graft.plans.TopKRows]] aggregate (no window sort, so one hot
    * left row cannot form a skewed sort partition). Zero-norm
    * embeddings are dropped on both sides (0/0 cosine is NULL in
    * Spark but NaN in DuckDB — the s7 guard). Deterministic: the
    * (sim desc, id asc) total order matches the row_number oracle.
    *
    * DATA-ADAPTIVE band width (round 15 — the 100 TB path): a fixed
    * 4-bit width collides a random pair per band with p = 2⁻⁴, so
    * the join generates ≈ |L|·|R|/2⁴ candidate rows per band —
    * QUADRATIC in corpus size (measured at the 10× sf1 sweep: 135×
    * the sf0.1 wall). Here bits-per-band grow with the LARGER side
    * ([[DetParams.autoBitsPerBand]]: smallest b with 2^b·occ ≥ n),
    * holding bucket occupancy — and so candidate volume — LINEAR in
    * n. The trade is the standard LSH one: longer bands admit fewer
    * moderate-cosine pairs (exact duplicates still collide at every
    * width); raise `occ` for recall, or move to [[ivfTopK]] whose
    * capacity bound is structural. The geometry derives from one
    * driver-side count per side, mirrored exactly by the DuckDB
    * oracle's integer rule over `count(*)`. */
  def lshJoinTopKAuto(left: DataFrame, right: DataFrame, idCol: String,
                      embCol: String, k: Int,
                      occ: Int = DetParams.AutoBandOcc): DataFrame = {
    val n = math.max(left.count(), right.count())
    val bits = DetParams.autoBitsPerBand(n, occ)
    def banded(df: DataFrame, id: String, emb: String, nrm: String) =
      bandKeys(df.select(col(idCol).as(id), col(embCol).as(emb)),
        emb, nrm, "bkey", bits)
    val lb = banded(left, "l_id", "l_emb", "l_nrm")
    // merge, not shuffle_hash (round 16, the q22 lesson): a
    // shuffle-hash build side of n×bands rows each carrying a 64-dim
    // vector grows linearly with the corpus and CANNOT spill — the
    // exact "not enough memory to build hash map" cliff this
    // operator's auto geometry exists to avoid. SortMergeJoin spills
    // gracefully at any n; the auto geometry already bounds candidate
    // volume, so the sort is over linear-in-n banded rows.
    val rb = banded(right, "r_id", "r_emb", "r_nrm").hint("merge")
    lb.join(rb, "bkey")
      .select(col("l_id"), col("r_id"),
        round(dotD(col("l_emb"), col("r_emb")) /
          (col("l_nrm") * col("r_nrm")), 6).as("sim"))
      .distinct()
      .groupBy(col("l_id"))
      .agg(graft.plans.TopKRows.of(col("sim"), col("r_id"), k).as("top"))
      .select(col("l_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("l_id"), (col("pos") + 1).as("rk"),
        col("r.id").as("r_id"), col("r.ord").as("sim"))
  }

  /** IVF-style approximate nearest neighbors: a deterministic coarse
    * quantizer (the first `numCentroids` corpus vectors), one
    * assignment pass (n x C dots, C fixed — linear in corpus size),
    * then exact search over the `probes` nearest cells only.
    *
    * Scale shape: centroids broadcast; assignment is narrow; the
    * probe join is hash-partitioned on cell id, so search cost is
    * (cells probed / total cells) of the corpus per query. Real
    * deployments would learn centroids with k-means — the quantizer
    * here is deterministic by construction so results are exactly
    * reproducible (and DuckDB-oracle-checkable). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, numCentroids: Int, probes: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = broadcast(corpus.filter(col(idCol) < numCentroids)
      .select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
      .withColumn("c_nrm", l2norm(col("c_emb"))))

    def cellsFor(df: DataFrame, id: String, emb: String, nrm: String, keep: Int) = {
      val w = Window.partitionBy(col(id)).orderBy(col("csim").desc, col("c_id"))
      df.withColumn(nrm, l2norm(col(emb)))
        .join(cents)
        .select(col(id), col(emb), col(nrm), col("c_id"),
          round(dotD(col(emb), col("c_emb")) /
            (col(nrm) * col("c_nrm")), 6).as("csim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= keep)
        .select(col(id), col(emb), col(nrm), col("c_id"))
    }

    val assigned = cellsFor(corpus.select(col(idCol), col(embCol)),
      idCol, embCol, "c_vnrm", keep = 1)
      .withColumnRenamed("c_id", "cell")
    val qcells = broadcast(cellsFor(
      queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb")),
      "q_id", "q_emb", "q_nrm", keep = probes)
      .withColumnRenamed("c_id", "q_cell"))

    // score per cell match, then distinct on the small output rows
    // (a candidate can match <= `probes` cells of one query)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(idCol))
    assigned.join(qcells,
        col("cell") === col("q_cell") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(dotD(col("q_emb"), col(embCol)) /
          (col("q_nrm") * col("c_vnrm")), 6).as("sim"))
      .distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** IVF probe-budget sweep — the nprobe tuning table an operator
    * reads BEFORE committing a probe count to a corpus-scale s3
    * deployment (the ANN analogue of the d16 banding sweep): per
    * query and probe budget, recall@k of probing the top-`budget`
    * cells vs the exact brute-force top-k.
    *
    * Single-pass shape: the corpus is cell-assigned ONCE and the
    * queries cell-ranked ONCE to the LARGEST budget; every (q, v)
    * candidate carries the probe rank of its admitting cell (unique:
    * a corpus vector lives in exactly one cell), so each budget is a
    * `min_rn <= budget` filter over the SAME scored candidate stream
    * — budgets explode on bounded candidate rows, never re-scan or
    * re-score the corpus. The exact side is the one brute-force pass
    * every recall eval pays (q54). Output: one row per
    * (probe_budget, query) with integer micro-unit recall; a query
    * whose probed cells hold no exact neighbor still appears with
    * recall 0 (left join from the full budget x query frame).
    */
  def ivfProbeSweep(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, numCentroids: Int, budgets: Seq[Int],
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxP = budgets.max
    val cents = broadcast(corpus.filter(col(idCol) < numCentroids)
      .select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
      .withColumn("c_nrm", l2norm(col("c_emb"))))
    def ranked(df: DataFrame, id: String, emb: String, nrm: String, keep: Int) = {
      val w = Window.partitionBy(col(id)).orderBy(col("csim").desc, col("c_id"))
      df.withColumn(nrm, l2norm(col(emb)))
        .join(cents)
        .select(col(id), col(emb), col(nrm), col("c_id"),
          round(dotD(col(emb), col("c_emb")) /
            (col(nrm) * col("c_nrm")), 6).as("csim"))
        .withColumn("cell_rn", row_number().over(w))
        .filter(col("cell_rn") <= keep)
        .select(col(id), col(emb), col(nrm), col("c_id"), col("cell_rn"))
    }
    val assigned = ranked(corpus.select(col(idCol), col(embCol)),
        idCol, embCol, "c_vnrm", keep = 1)
      .withColumnRenamed("c_id", "cell").drop("cell_rn")
    val qcells = broadcast(ranked(
        queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb")),
        "q_id", "q_emb", "q_nrm", keep = maxP)
      .withColumnRenamed("c_id", "q_cell")
      .withColumnRenamed("cell_rn", "min_rn"))
    // unique (q, v) rows: v's single cell meets at most one probed
    // cell of q, so min_rn needs no dedup aggregation
    val cand = assigned.join(qcells,
        col("cell") === col("q_cell") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), col("min_rn"),
        round(dotD(col("q_emb"), col(embCol)) /
          (col("q_nrm") * col("c_vnrm")), 6).as("sim"))
    val perBudget = cand
      .select(col("q_id"), col(idCol), col("sim"), col("min_rn"),
        explode(array(budgets.map(lit(_)): _*)).as("probe_budget"))
      .filter(col("min_rn") <= col("probe_budget"))
    val wb = Window.partitionBy(col("probe_budget"), col("q_id"))
      .orderBy(col("sim").desc, col(idCol))
    val approx = perBudget
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= k)
      .select(col("probe_budget"), col("q_id"), col(idCol))
    val exact = bruteForceTopK(corpus, queries, idCol, embCol, k)
      .select(col("q_id"), col(idCol))
    val hits = approx.join(exact, Seq("q_id", idCol))
      .groupBy(col("probe_budget"), col("q_id"))
      .agg(count(lit(1)).as("__h"))
    val budgetRows = corpus.sparkSession.range(1)
      .select(explode(array(budgets.map(lit(_)): _*)).as("probe_budget"))
    queries.select(col(idCol).as("q_id"))
      .crossJoin(budgetRows)
      .join(hits, Seq("probe_budget", "q_id"), "left")
      .select(col("probe_budget").cast("long").as("probe_budget"),
        col("q_id"),
        coalesce(col("__h"), lit(0L)).as("n_hit"))
      .withColumn("recall_mu", expr(s"(1000000 * n_hit) div $k"))
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): split each vector
    * into `subspaces` contiguous subvectors, encode each subvector as
    * its nearest centroid id from a per-subspace codebook, and answer
    * queries by asymmetric distance computation — the query's exact
    * per-(subspace, centroid) distance table is summed over a
    * vector's codes, so scoring a pair is `subspaces` table lookups
    * instead of a full-dimension scan.
    *
    * 100 TB shape: encoding is one broadcast-codebook pass over the
    * corpus (the codes table is the compressed index — 4 small ints
    * per vector here vs 64 floats); the query distance table is tiny
    * (|Q| x subspaces x centroids) and broadcast; the ADC scan
    * shuffles only (q, vec, partial-distance) rows into the per-query
    * top-k. Compose with IVF cells (s3) for the standard IVF-PQ
    * layout — this operator is the PQ half.
    *
    * Determinism/oracle parity: subspace distances expand to three
    * fixed-fold dot products (d2 = <a,a> - 2<a,b> + <b,b>, the
    * codegen [[graft.plans.VectorDotProduct]]), are rounded to 6 dp
    * and quantized to DECIMAL(18,6), so code assignment (argmin with
    * centroid-id tie-break) and ADC sums are exact and order-free on
    * both engines. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             idCol: String, embCol: String, subspaces: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(EmbedDim % subspaces == 0, s"$subspaces must divide $EmbedDim")
    val subDim = EmbedDim / subspaces
    def sub(c: Column, m: Int): Column = slice(c, m * subDim + 1, subDim)
    def d2(a: Column, b: Column, m: Int): Column = {
      val (sa, sb) = (sub(a, m), sub(b, m))
      dotD(sa, sa) - lit(2.0) * dotD(sa, sb) + dotD(sb, sb)
    }
    val codes = pqCodes(
      pqDistTable(corpus, centroids, idCol, embCol, subspaces, "v_id"))
    val qtab = broadcast(
      pqDistTable(queries, centroids, idCol, embCol, subspaces, "q_id")
        .select(col("q_id"), col("m").as("qm"), col("c_id"), col("d")))

    codes.join(qtab, col("qm") === col("m") && col("c_id") === col("code"))
      .filter(col("v_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("v_id"))
      .agg(sum(col("d")).as("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("s"), col("v_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("v_id").as("vec_id"),
        col("s").cast("double").as("adist"), col("rn"))
  }

  /** Per-(vector, centroid, subspace) quantized squared distance table
    * — the shared substrate of [[pqTopK]] and [[ivfPqTopK]]. */
  private def pqDistTable(side: DataFrame, centroids: DataFrame,
                          idCol: String, embCol: String, subspaces: Int,
                          sideId: String): DataFrame = {
    val subDim = EmbedDim / subspaces
    def sub(c: Column, m: Int): Column = slice(c, m * subDim + 1, subDim)
    def d2(a: Column, b: Column, m: Int): Column = {
      val (sa, sb) = (sub(a, m), sub(b, m))
      dotD(sa, sa) - lit(2.0) * dotD(sa, sb) + dotD(sb, sb)
    }
    val cents = broadcast(
      centroids.select(col(idCol).as("c_id"), col(embCol).as("c_emb")))
    side.select(col(idCol).as(sideId), col(embCol).as("emb"))
      .crossJoin(cents)
      .select(col(sideId), col("c_id"),
        posexplode(array((0 until subspaces).map(m =>
          round(d2(col("emb"), col("c_emb"), m), 6)
            .cast("decimal(18,6)")): _*)).as(Seq("m", "d")))
  }

  /** Per-subspace argmin over a [[pqDistTable]] → (v_id, m, code). */
  private def pqCodes(vd: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vd.withColumn("rn", row_number().over(
        Window.partitionBy(col("v_id"), col("m")).orderBy(col("d"), col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("v_id"), col("m"), col("c_id").as("code"))
  }

  /** IVF-PQ: the standard memory-bound ANN layout — coarse inverted
    * cells (s3's shape) composed with PQ codes (s4's shape). The
    * composition is free of new math: the FULL squared L2 distance is
    * the sum of the per-subspace quantized distances, so cell
    * assignment (argmin over summed distances), PQ codes (argmin per
    * subspace), and query cell probes all derive from the one
    * [[pqDistTable]]. Candidates are only the vectors in the query's
    * `probes` nearest cells; ADC scores just those.
    *
    * 100 TB: the cells table is the inverted index (shuffle key =
    * cell id), the codes table is the compressed storage, the query
    * table is broadcast — the corpus full-vector column is touched
    * only by the one encode pass. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                idCol: String, embCol: String, subspaces: Int,
                probes: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vd = pqDistTable(corpus, centroids, idCol, embCol, subspaces, "v_id")
    val cells = vd.groupBy(col("v_id"), col("c_id"))
      .agg(sum(col("d")).as("fd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("v_id")).orderBy(col("fd"), col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("v_id"), col("c_id").as("cell"))
    val codes = pqCodes(vd)
    val qd = broadcast(
      pqDistTable(queries, centroids, idCol, embCol, subspaces, "q_id"))
    val qcells = qd.groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("d")).as("fd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("fd"), col("c_id"))))
      .filter(col("rn") <= probes)
      .select(col("q_id"), col("c_id").as("cell"))
    val cand = cells.join(broadcast(qcells), "cell")
      .filter(col("v_id") =!= col("q_id"))
      .select(col("q_id"), col("v_id"))
    cand.join(codes, "v_id")
      .join(qd.select(col("q_id").as("qq"), col("m").as("qm"),
          col("c_id"), col("d")),
        col("qq") === col("q_id") && col("qm") === col("m") &&
          col("c_id") === col("code"))
      .groupBy(col("q_id"), col("v_id"))
      .agg(sum(col("d")).as("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("s"), col("v_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("v_id").as("vec_id"),
        col("s").cast("double").as("adist"), col("rn"))
  }

  /** Near-duplicate pairs by embedding cosine: sign-LSH banding for
    * candidates, exact cosine filter at `threshold`, with
    * DATA-ADAPTIVE band width (round 15 — the 100 TB path; see
    * [[lshJoinTopKAuto]] for the quadratic fixed-geometry analysis,
    * measured 52× at the 10× sf1 sweep): bits-per-band from ONE
    * driver-side count holds the banded
    * self-join's candidate volume linear in corpus size. Recall
    * trade as there — exact/near-exact duplicates (the operator's
    * target at `threshold` ≥ 0.45) collide at every width; the
    * precision side is unchanged because every candidate still
    * passes the exact-cosine filter. */
  def embeddingNearDupPairsAuto(corpus: DataFrame, idCol: String,
                                embCol: String, threshold: Double,
                                occ: Int = DetParams.AutoBandOcc): DataFrame = {
    // geometry from the RAW count (before the zero-norm guard) so the
    // oracle's count(*) derives the identical bits
    val bits = DetParams.autoBitsPerBand(corpus.count(), occ)
    // bandKeys' zero-norm guard: 0/0 cosine is NULL in Spark
    // (silently filtered by sim >= threshold) but NaN in DuckDB, where
    // NaN >= threshold is TRUE
    val banded = bandKeys(corpus.select(col(idCol), col(embCol)),
        embCol, "nrm", "bkey", bits)
      // merge, not shuffle_hash: the hash build side is n×bands rows
      // of 64-dim vectors — linear in corpus and non-spillable (the
      // q22 cliff). SMJ spills; ReusedExchange still computes the
      // banding pass once for the self-join (PlanShapeSpec pins both).
      .hint("merge")
    banded.as("l").join(banded.as("r"),
        col("l.bkey") === col("r.bkey") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("vec_a"), col(s"r.$idCol").as("vec_b"),
        round(dotD(col(s"l.$embCol"), col(s"r.$embCol")) /
          (col("l.nrm") * col("r.nrm")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    * every embedding to its nearest coarse cell, prune within-cell
    * near-duplicates at `minCos`, keep the min-id representative of
    * each dup group.
    *
    * 100 TB shape: the quantizer is broadcast (corpus-prefix cells,
    * the same contract as [[ivfTopK]]); assignment is one narrow n×C pass; the pairwise
    * cosine runs ONLY within a cell (cell-keyed self-join with
    * `shuffle_hash` exchange reuse, never corpus-wide all-pairs) —
    * the explicit capacity/recall trade SemDeDup makes: cross-cell
    * near-dups are not examined, which is what bounds the pair stream
    * at corpus scale. Loser selection (any vector with a smaller-id
    * in-cell neighbor at ≥ `minCos`) is per-pair, not transitive —
    * greedy within-cell pruning, matching the paper; compose
    * [[graft.operators.GraphOps.connectedComponents]] over
    * [[embeddingNearDupPairsAuto]] (d10's shape) when full closure is
    * wanted.
    *
    * Returns the KEPT rows as (idCol, cell), and a hook releasing the
    * persisted assignment table — call it AFTER the action on the
    * returned frame. */
  def semanticDedup(corpus: DataFrame, idCol: String,
                    embCol: String, numCentroids: Int,
                    minCos: Double): (DataFrame, () => Unit) = {
    val (_, kept, release) =
      semDedupParts(corpus, idCol, embCol, numCentroids, minCos)
    (kept, release)
  }

  /** PER-CELL GOVERNANCE CENSUS of the SemDeDup pass — (cell,
    * n_vecs, n_kept, pruned_mu): how much each quantization cell
    * loses to the semantic-near-dup prune, the embedding-space twin
    * of d20's cluster-size census. A cell's min-id member can never
    * lose (pairs are within-cell, loser ids are strictly larger), so
    * every nonempty cell keeps >= 1; the left join + coalesce is
    * belt-and-braces. Cost on top of the dedup itself: two
    * cell-keyed aggs over the persisted assignment table, which the
    * returned hook releases (the [[semanticDedup]] discipline). */
  def semanticDedupCensus(corpus: DataFrame, idCol: String,
                          embCol: String, numCentroids: Int,
                          minCos: Double): (DataFrame, () => Unit) = {
    val (asg, kept, release) =
      semDedupParts(corpus, idCol, embCol, numCentroids, minCos)
    (semanticDedupCensusFromAssignments(asg, kept), release)
  }

  /** The census READOUT alone, over already-materialized SemDeDup
    * results — the 100 TB composition shape: a governance census runs
    * long after the dedup pass, against the assignment/kept tables the
    * pipeline wrote, and must never re-pay the n×C assignment or the
    * within-cell prune. Both inputs only need their `cell` column
    * (one row per vector / per kept vector), so this is two cell-keyed
    * aggs over |corpus| rows and a |cells|-row join — no embedding is
    * ever touched. */
  def semanticDedupCensusFromAssignments(assignments: DataFrame,
                                         kept: DataFrame): DataFrame = {
    val av = assignments.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val kv = kept.groupBy(col("cell")).agg(count(lit(1)).as("n_kept"))
    av.join(kv, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .select(col("cell"), col("n_vecs"), col("n_kept"),
        expr("(1000000 * (n_vecs - n_kept)) div n_vecs").as("pruned_mu"))
  }

  /** ONE SemDeDup pass delivering BOTH products — the kept rows
    * (s7's output) annotated with their cell's census columns (s15's
    * readout): (idCol, cell, n_vecs, n_kept, pruned_mu). Run
    * standalone, s7 and s15 each pay the n×C assignment + within-cell
    * prune; composed, one pass serves both — project (idCol, cell)
    * for the kept set, group by cell for the census. The census side
    * joins per-cell (≤ numCentroids rows, broadcast) onto the kept
    * frame, so the add-on cost over [[semanticDedup]] alone is two
    * cell-keyed aggs. Returns (frame, release). */
  def semanticDedupWithCensus(corpus: DataFrame, idCol: String,
                              embCol: String, numCentroids: Int,
                              minCos: Double)
      : (DataFrame, () => Unit) = {
    val (asg, kept, release) =
      semDedupParts(corpus, idCol, embCol, numCentroids, minCos)
    // kept embeds the within-cell prune self-join and feeds TWO
    // consumers here (the census agg and the final row-level join) —
    // persist so the prune runs once, released with the assignment
    val keptP = kept
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val census = semanticDedupCensusFromAssignments(asg, keptP)
    val out = keptP.join(broadcast(census), Seq("cell"))
      .select(col(idCol), col("cell"), col("n_vecs"), col("n_kept"),
        col("pruned_mu"))
    (out, () => { keptP.unpersist(blocking = true); release() })
  }

  /** The shared SemDeDup chain: (assignment table, kept frame,
    * release hook). */
  private def semDedupParts(corpus: DataFrame, idCol: String,
                            embCol: String, numCentroids: Int,
                            minCos: Double)
      : (DataFrame, DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    // zero-norm guard (both sides): a degenerate all-zero embedding
    // makes the cosine 0/0 — NULL in Spark (non-ANSI) but NaN/Inf in
    // DuckDB (ieee mode), so cell assignment and the >= minCos prune
    // would diverge from the oracle. Drop degenerate vectors up front,
    // exactly as tfidfCosinePairs' nrm > 0 filter does.
    val cents = broadcast(corpus.filter(col(idCol) < numCentroids)
      .select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
      .withColumn("c_nrm", l2norm(col("c_emb")))
      .filter(col("c_nrm") > 0.0))
    val w = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("c_id"))
    // persisted: the n×C assignment pass feeds THREE consumers — the
    // two self-join sides (cell key; exchange reuse covers those) AND
    // the final anti-join probe (id key, a different exchange the
    // reuse cannot cover — without the cache the whole assignment
    // recomputes from the scan). Callers release via the returned
    // hook; query loops sweep ([[graft.SparkEntry.releasePersisted]]).
    val asg = corpus.select(col(idCol), col(embCol))
      .withColumn("nrm", l2norm(col(embCol)))
      .filter(col("nrm") > 0.0)
      .join(cents)
      .select(col(idCol), col(embCol), col("nrm"), col("c_id"),
        round(dotD(col(embCol), col("c_emb")) /
          (col("nrm") * col("c_nrm")), 6).as("csim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col(embCol), col("nrm"), col("c_id").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .hint("shuffle_hash")
    val losers = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(round(dotD(col(s"a.$embCol"), col(s"b.$embCol")) /
        (col("a.nrm") * col("b.nrm")), 6) >= minCos)
      .select(col(s"b.$idCol").as("__sd_loser"))
      .distinct()
    val kept = asg.join(losers, col(idCol) === col("__sd_loser"), "left_anti")
      .select(col(idCol), col("cell"))
    (asg, kept, () => { asg.unpersist(blocking = true); () })
  }

  /** kNN-classifier evaluation: predict each query vector's label by
    * majority vote over its `k` exact nearest neighbors (cosine, self
    * excluded) and report per-class accuracy — the standard embedding
    * -quality probe for a training-data pipeline (does the embedding
    * space separate the label structure?).
    *
    * Scale shape: rides [[bruteForceTopK]] (broadcast query set, the
    * corpus never shuffles), then everything downstream is keyed by
    * q_id — |queries|×k rows, vanishingly small next to the corpus.
    * The label lookup joins the k-row-per-query neighbor list back to
    * the corpus on the vector id (hash join on the id key; at corpus
    * scale the neighbor side is the small side and AQE broadcasts it).
    *
    * Determinism: neighbor set fixed by (sim desc, id) — the
    * bruteForceTopK order — and the vote winner by (count desc,
    * label), expressed as a min over a (−count, label) struct so it
    * stays inside the hash aggregate (no per-query sort). Accuracy is
    * integer micro-units: no float division reaches the output.
    * Output: (true_label, n_queries, n_correct, acc_mu). */
  def knnClassifyEval(corpus: DataFrame, queries: DataFrame, idCol: String,
                      embCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, idCol, embCol, k)
    val votes = nn
      .join(corpus.select(col(idCol), col(labelCol)), idCol)
      .groupBy(col("q_id"), col(labelCol))
      .agg(count(lit(1)).as("cnt"))
    val pred = votes
      .groupBy(col("q_id"))
      .agg(min(struct((-col("cnt")).as("nc"), col(labelCol).as("l"))).as("win"))
      .select(col("q_id"), col("win.l").as("pred_label"))
    val truth = queries.select(col(idCol).as("q_id"),
      col(labelCol).as("true_label"))
    pred.join(truth, "q_id")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("true_label"), lit(1L))
          .otherwise(lit(0L))).as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        expr("(1000000 * n_correct) div n_queries").as("acc_mu"))
  }

  /** NDCG@k of label-match retrieval (binary relevance: a neighbor is
    * relevant iff it shares the query's label) — the RANK-aware
    * retrieval-quality readout next to [[knnClassifyEval]]'s
    * vote accuracy and the recall evals (q54/s12): two spaces with
    * equal recall@k can differ sharply in whether the relevant hits
    * sit at rank 1 or rank k, and NDCG is the standard way to see it.
    *
    * Exact integer pipeline: the 1/log2(rank+1) discount weights are
    * FROZEN micro-unit literals (k <= 5 — math constants inlined
    * identically in the engine and the oracle, the threshold-literal
    * pattern), DCG is an exact BIGINT sum of matched weights, the
    * ideal DCG is the prefix-sum literal at min(k, n_same_label - 1),
    * and per-query NDCG is one integer micro-division; per-label
    * means are `sum div count`. Queries whose label has no other
    * member (ideal DCG 0) are excluded — NDCG is undefined for them.
    *
    * Scale shape: [[bruteForceTopK]]'s broadcast-queries scan (swap
    * in any ANN top-k frame for the billion-doc path), one bounded
    * per-label count table broadcast back, and aggregation over
    * |queries| rows — the corpus is scanned once and never shuffled.
    */
  def ndcgAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 5, s"frozen discount table covers k in [1,5], got $k")
    // round(1e6 / log2(rank+1)) at 6 dp, ranks 1..5, and prefix sums
    val wtMu = Seq(1000000L, 630930L, 500000L, 430677L, 386853L).take(k)
    val idcgMu = wtMu.scanLeft(0L)(_ + _).tail
    val nn = bruteForceTopK(corpus, queries, idCol, embCol, k)
      .join(corpus.select(col(idCol), col(labelCol)), idCol)
    val truth = queries.select(col(idCol).as("q_id"),
      col(labelCol).as("q_label"))
    val labCnt = broadcast(corpus.groupBy(col(labelCol).as("q_label"))
      .agg(count(lit(1)).as("n_label")))
    val wtCase = (2 to k).foldLeft(when(col("rn") === 1, lit(wtMu.head))) {
      case (acc, i) => acc.when(col("rn") === i, lit(wtMu(i - 1)))
    }
    val dcg = nn.join(truth, "q_id")
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col(labelCol) === col("q_label"), wtCase)
        .otherwise(lit(0L))).as("dcg_mu"))
    dcg.join(labCnt, "q_label")
      .filter(col("n_label") >= 2)
      .select(col("q_label"),
        (lit(1000000L) * col("dcg_mu")).as("num"),
        element_at(typedlit(idcgMu),
          least(lit(k.toLong), col("n_label") - 1L).cast("int")).as("idcg_mu"))
      .select(col("q_label"), expr("num div idcg_mu").as("ndcg_mu"))
      .groupBy(col("q_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("ndcg_mu")).as("snd"))
      .select(col("q_label").as("label"), col("n_queries"),
        expr("snd div n_queries").as("mean_ndcg_mu"))
  }
}
