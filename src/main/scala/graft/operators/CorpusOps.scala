package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level text statistics — the training-side aggregations the
  * reference froze into its model artifacts (CountVectorizer corpus
  * vocabulary, IDF document frequencies; SURVEY.md §2c-2f note), made
  * first-class so the engine can re-fit them:
  * one shuffle on term (hash partitioned, map-side combine), document
  * counts via a broadcast 1-row cross join.
  */
object CorpusOps {

  /** Per-term document frequency + smoothed idf
    * (`ln((N+1)/(df+1))`, Spark ML IDF formula), top `limit` terms by
    * (df desc, term) with a deterministic rank cutoff.
    *
    * The cutoff is `orderBy(...).limit(limit)`, which Spark executes as
    * `TakeOrderedAndProject` — per-partition partial top-k merged on
    * the driver — so the unbounded distinct-term set never funnels
    * through a single-partition sort (a corpus-scale vocabulary is
    * millions of terms; only `limit` rows ever leave the executors). */
  def vocabularyWithIdf(docs: DataFrame, idCol: String, tokens: Column,
                        limit: Int): DataFrame = {
    val total = broadcast(docs.agg(count(lit(1)).as("nd")))
    val dfreq = docs
      .select(col(idCol), explode(array_distinct(tokens)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    dfreq.crossJoin(total)
      .select(col("term"), col("df"),
        round(log((col("nd") + 1).cast("double") / (col("df") + 1)), 6)
          .as("idf"))
      .orderBy(col("df").desc, col("term"))
      .limit(limit)
  }

  /** Dictionary-encode a token column to 1-based int ids — the
    * tokenize-ONCE materialization shape every 100 TB text pipeline
    * stores: downstream operators (dedup signatures, n-gram stats,
    * packing, filtering) consume fixed-width int arrays instead of
    * re-splitting raw strings per query, and the string↔id dictionary
    * lives beside the data, not inside every plan.
    *
    * `vocab`'s FIRST column is the term list in priority order (the
    * [[vocabularyWithIdf]] output's (df desc, term) order); ids are
    * 1-based positions in that order and out-of-vocabulary tokens
    * encode as 0, so id 0 is reserved and the id space is exactly
    * [0, |vocab|]. The dictionary collects to the driver — bounded by
    * the caller's vocabulary limit, the stop-words/centroids class of
    * constant-size collect — and ships as a lazily-built BROADCAST
    * probed by a codegen'd expression ([[graft.plans.DictTokenIds]]):
    * the encode pass is completely narrow (no join, no shuffle; a
    * scan-project at any corpus size) and the plan carries only the
    * broadcast handle, so the encode holds its shape at the
    * reference's own 262,144-term vocabulary where the round-7 map
    * LITERAL would have bloated every task binary (BASELINE.md
    * CountVectorizer row; the r7 verdict's scale seam). Returns
    * `docs` plus the `outCol` int-array column.
    */
  def tokenizeToIds(docs: DataFrame, tokens: Column, vocab: DataFrame,
                    outCol: String = "token_ids"): DataFrame = {
    val termCol = vocab.columns.head
    tokenizeToIds(docs, tokens,
      vocab.select(col(termCol)).collect().map(_.getString(0)).toSeq,
      outCol)
  }

  /** [[tokenizeToIds]] with an already-collected term list — the
    * frozen-dictionary form: because the encode is a pure narrow
    * expression, this overload works unchanged on a STREAMING
    * DataFrame (stateless, watermark-free), which is how an ingest
    * pipeline encodes arriving documents against the vocabulary the
    * batch fit froze. */
  def tokenizeToIds(docs: DataFrame, tokens: Column, terms: Seq[String],
                    outCol: String): DataFrame = {
    val bc = docs.sparkSession.sparkContext
      .broadcast(new graft.plans.TokenDict(terms.toArray))
    docs.withColumn(outCol, graft.plans.DictTokenIds.of(tokens, bc))
  }

  /** Bigram language-model fluency score per document (the
    * CCNet/KenLM-style quality filter, re-expressed relationally):
    * fit an add-one-smoothed bigram model on the corpus itself —
    * P(w|p) = (c(p,w)+1)/(c(p,·)+|V|) — and score each document by
    * the mean log-probability of its bigrams. Low scores flag
    * disfluent/garbage text for training-set filtering.
    *
    * Scale shape: two narrow corpus scans and NO corpus-wide shuffle.
    * The model-fit shuffle moves only per-partition-distinct bigram
    * counts (partial agg bounds it by |V|^2 per partition, Zipf-small
    * in practice), the prefix count c(p,·) folds from c(p,w) instead
    * of re-counting the stream, and the scoring pass probes the
    * broadcast model with no exchange at all. (An exchange-reuse
    * single-scan variant is impossible here: groupBy plants a partial
    * aggregate under its exchange, so the count's exchange subtree can
    * never match a join-probe exchange.) Nothing ever collects.
    *
    * Oracle parity: each probability is one double division and
    * `round(ln(p), 6)` (the m6 idf recipe), then quantized to
    * DECIMAL(18,6) so the per-doc sum is exact and order-free; the
    * final mean is a single double division. Output:
    * (doc_id, n_bigrams, avg_logp) for docs with >= 2 tokens. */
  def bigramLmScores(docs: DataFrame, idCol: String, tokens: Column): DataFrame = {
    val d = docs.select(col(idCol), tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
    val bb = d.select(col(idCol),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("p"),
            element_at(col("toks"), i + 1).as("w")))).as("b"))
      .select(col(idCol), col("b.p").as("p"), col("b.w").as("w"))
      // explicit not-null (vacuously true for tokenized text): the
      // scoring join implies isnotnull(p, w) on its branches but the
      // c1 fold alone implies only isnotnull(p) — stating both on the
      // SHARED stream keeps the c2 exchange subtree canonical-equal
      // across branches, so AQE reuses the bigram-count shuffle
      // instead of re-exploding the corpus for the prefix totals
      .filter(col("p").isNotNull && col("w").isNotNull)
    val c2 = bb.groupBy(col("p"), col("w")).agg(count(lit(1)).as("c2"))
    // c(p,.) folds from c(p,w) — no second pass over the bigram stream
    val c1 = c2.groupBy(col("p")).agg(sum(col("c2")).as("c1"))
    // vocabulary over ALL docs (incl. <2-token ones), matching the
    // unigram universe the smoothing mass is spread over
    val v = broadcast(docs.select(explode(tokens).as("w"))
      .agg(count_distinct(col("w")).as("v")))
    val model = c2.join(c1, "p").crossJoin(v)
      .select(col("p"), col("w"),
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v"))), 6)
          .cast("decimal(18,6)").as("logp"))
    // no broadcast() pin: a corpus-scale bigram model can outgrow the
    // broadcast budget, and AQE already broadcasts it when it is small
    bb.join(model, Seq("p", "w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("logp")).as("sl"))
      .select(col(idCol), col("n_bigrams"),
        (col("sl").cast("double") / col("n_bigrams")).as("avg_logp"))
  }

  /** Held-out bigram-LM quality banding (the CCNet recipe proper:
    * train the LM on a trusted slice, score EVERYTHING, band into
    * head/middle/tail per language). [[bigramLmScores]] fits on the
    * corpus it scores — fine as a fluency signal, but a self-fit
    * model can't flag a whole contaminated source because the
    * contamination is in the training mass; this variant fits
    * c(p,w)/c(p,·)/|V| on `isTrain` rows only and scores every
    * document, unseen bigrams backing off to the smoothing floor
    * (c2=0, and c1=0 for an unseen prefix), so out-of-domain text
    * pays its true penalty.
    *
    * Banding is the q52 bounded-histogram pattern, never a raw-row
    * sort: per-doc scores quantize to milli-nat buckets (score range
    * is physically bounded by ln|V|, so the histogram is a few
    * thousand rows per language regardless of corpus size), tercile
    * cutoffs come from a cumulative window over that tiny table, and
    * each doc bands by two comparisons against its language's
    * broadcast cutoffs.
    *
    * Oracle parity: probabilities quantize to DECIMAL(18,6) via
    * `round(ln(·),6)` (the t10 recipe) and every downstream step is
    * integer: per-doc sums are exact micro-nat BIGINTs, means are
    * integer division (values non-negative, so trunc == floor on
    * both engines), cutoffs are order statistics of integers.
    * Output: (doc_id, lang, n_bigrams, nlp_mu, band) for docs with
    * >= 2 tokens; band 1 = most fluent tercile. */
  def heldOutLmBands(docs: DataFrame, idCol: String, langCol: String,
                     tokens: Column, isTrain: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col(idCol), col(langCol), isTrain.as("is_train"),
        tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
    val bb = d.select(col(idCol), col(langCol), col("is_train"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("p"),
            element_at(col("toks"), i + 1).as("w")))).as("b"))
      .select(col(idCol), col(langCol), col("is_train"),
        col("b.p").as("p"), col("b.w").as("w"))
      .filter(col("p").isNotNull && col("w").isNotNull)
    val c2 = bb.filter(col("is_train"))
      .groupBy(col("p"), col("w")).agg(count(lit(1)).as("c2"))
    // prefix totals fold from c(p,w) — no second pass (t10's trick)
    val c1 = c2.groupBy(col("p")).agg(sum(col("c2")).as("c1"))
    // smoothing vocabulary over TRAIN docs only (incl. <2-token ones):
    // the held-out semantics — test-only tokens are by definition
    // unseen mass, not vocabulary
    val v = broadcast(docs.filter(isTrain)
      .select(explode(tokens).as("w"))
      .agg(count_distinct(col("w")).as("v")))
    val scored = bb
      .join(c2, Seq("p", "w"), "left")
      .join(c1, Seq("p"), "left")
      .crossJoin(v)
      .select(col(idCol), col(langCol),
        round(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v"))), 6)
          .cast("decimal(18,6)").as("logp"))
    // exact integer from here: micro-nat per-bigram, summed as BIGINT
    // (logp <= 0 always since c2+1 <= c1+|V|, so the negated sum and
    // both integer divisions stay non-negative — trunc == floor)
    val perDoc = scored.groupBy(col(idCol), col(langCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum((col("logp") * lit(1000000)).cast("long"))).as("nl_sum"))
      .select(col(idCol), col(langCol), col("n_bigrams"),
        expr("nl_sum div n_bigrams").as("nlp_mu"))
      .withColumn("score_m", expr("nlp_mu div 1000"))
    val hist = perDoc.groupBy(col(langCol), col("score_m"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col(langCol)).orderBy(col("score_m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col(langCol))
    val cuts = hist
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("n", sum(col("cnt")).over(wn))
      .groupBy(col(langCol))
      .agg(min(when(col("cum") * 3 >= col("n"), col("score_m"))).as("cut1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score_m"))).as("cut2"))
    perDoc.join(broadcast(cuts), Seq(langCol))
      .select(col(idCol), col(langCol), col("n_bigrams"), col("nlp_mu"),
        (lit(1) + when(col("score_m") > col("cut1"), 1).otherwise(0)
          + when(col("score_m") > col("cut2"), 1).otherwise(0)).as("band"))
  }

  /** Multinomial Naive Bayes fit — class priors and add-one-smoothed
    * per-term conditional log-probabilities, the other classic
    * text-classifier training pass (sklearn MultinomialNB over the
    * reference's CountVectorizer features). Returns the `topK`
    * highest-count terms per class (count-desc, term tiebreak):
    * (class, term, logp, log_prior).
    *
    * Scale shape: one explode over the token stream feeding a
    * (class, term) count — partial aggregation bounds the shuffle by
    * per-partition-distinct pairs, Zipf-small — then the class totals
    * FOLD from those counts (no second corpus pass, the t10 c1-from-c2
    * trick), and the doc/vocab totals are broadcast 1-row aggregates.
    * The top-k cut is a window over (class) — partitions are classes,
    * tiny. Nothing corpus-sized ever reaches the driver.
    *
    * Oracle parity: probabilities are one double division and
    * `round(ln(·), 6)` from exact integer counts (the m6/t10 recipe). */
  def naiveBayesModel(docs: DataFrame, classCol: String, tokens: Column,
                      topK: Int): DataFrame = {
    // explicit null-class drop: the later joins on classCol imply it
    // anyway, and having it on the SHARED stream keeps every branch's
    // scan subtree identical so the exchange-reuse below can fire
    val d = docs.filter(col(classCol).isNotNull)
      .select(col(classCol), explode(tokens).as("term"))
    val c2 = d.groupBy(col(classCol), col("term")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col(classCol)).agg(sum(col("c2")).as("c1"))
    // vocab folds from the (class, term) counts too — every branch of
    // the plan sits above the SAME partial-agg exchange, so the token
    // stream is exploded/shuffled once and AQE reuses it three ways
    // The trivially-true filter references c2 so RemoveRedundantAggregates
    // cannot collapse the fold back into a second corpus-wide explode.
    val v = broadcast(c2.filter(col("c2") >= 1)
      .agg(count_distinct(col("term")).as("v")))
    val nd = broadcast(docs.agg(count(lit(1)).as("nd")))
    val nc = docs.groupBy(col(classCol)).agg(count(lit(1)).as("nc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(col("c2").desc, col("term"))
    c2.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .join(c1, classCol).join(nc, classCol).crossJoin(v).crossJoin(nd)
      .select(col(classCol), col("term"),
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v"))), 6)
          .as("logp"),
        round(log(col("nc").cast("double") / col("nd")), 6).as("log_prior"))
  }

  /** Distributed logistic-regression fit by full-batch gradient
    * descent — the training side of the reference's frozen
    * LogisticRegressionModel (`model_training.ipynb` trains offline;
    * SentimentModel only *scores*). Closes the re-fit loop the same
    * way [[vocabularyWithIdf]] does for CountVectorizer/IDF.
    *
    * Scale shape: the feature table is persisted once; each iteration
    * is ONE map-reduce pass — every row computes its error against the
    * broadcast-as-literals current weights, and only k+1 aggregate
    * cells (k gradient sums + the row count, computed once) ever reach
    * the driver. No per-row data leaves the executors, no lineage
    * growth (each pass re-plans from the persisted leaf), so the loop
    * runs identically on a 1000-executor corpus.
    *
    * Determinism (oracle parity): the sigmoid is rounded to 6 dp (the
    * t10 `round(ln ,6)` recipe — masks libm ULP differences), each
    * per-row gradient contribution is quantized to DECIMAL(28,12)
    * (exact, order-independent sums — the k-means recipe), and the
    * weight update is plain double arithmetic on identical inputs, so
    * every iteration's weights are bit-identical across engines and
    * cluster sizes.
    *
    * `features` must contain `labelCol` (0.0/1.0 double) and the
    * `featureCols` (doubles; include an explicit bias column of 1.0).
    * Returns the weight per featureCol after `iters` steps at rate
    * `lr`, starting from all-zeros. */
  def logisticFitWeights(features: DataFrame, labelCol: String,
                         featureCols: Seq[String], iters: Int,
                         lr: Double): Array[Double] = {
    val feats = features
      .select((labelCol +: featureCols).map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var w = Array.fill(featureCols.size)(0.0)
      var n = -1L
      for (_ <- 0 until iters) {
        val z = featureCols.zip(w)
          .map { case (c, wi) => lit(wi) * col(c) }
          .reduceLeft(_ + _)
        val p6 = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
        val err = p6 - col(labelCol)
        val sums = featureCols.zipWithIndex.map { case (c, i) =>
          sum((err * col(c)).cast("decimal(28,12)")).cast("double").as(s"g$i")
        }
        val row = feats.agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*).head()
        if (n < 0) n = row.getLong(featureCols.size)
        w = w.zipWithIndex.map { case (wi, i) =>
          wi - lr * (row.getDouble(i) / n)
        }
      }
      w
    } finally { feats.unpersist(blocking = false); () }
  }

  /** [[logisticFitWeights]] for NESTED training subsets in one scan
    * per iteration (round 17 — the m16 scaling-curve shape): each
    * `thresholds` entry T defines a fold as `subsetCol < T`, and
    * every iteration computes ALL folds' gradient cells in ONE
    * aggregation pass over the pool instead of one fit loop per
    * fold — |thresholds|× fewer driver round-trips and no per-fold
    * re-persist, which is what dominated m16's wall (the folds are
    * row-subsets of one persisted table; each tiny gradient job is
    * scheduler latency, not data).
    *
    * BIT-IDENTICAL weights to fitting each fold separately: a fold
    * row's DECIMAL(28,12) gradient contribution is unchanged,
    * non-fold rows contribute NULL (ignored by sum), and decimal
    * sums are exact and order-free — so the conditional sum over
    * the pool equals the sequential fit's sum over the filtered
    * subset, cell for cell (NestedFitSpec pins it). The weight
    * update is the same double arithmetic on identical inputs.
    *
    * Returns per threshold, in input order:
    * (threshold, fold row count, fitted weights). Fails loudly on
    * an empty fold, like the sequential spelling. */
  def logisticFitWeightsNested(pool: DataFrame, labelCol: String,
                               featureCols: Seq[String],
                               subsetCol: String, thresholds: Seq[Int],
                               iters: Int, lr: Double)
      : Seq[(Int, Long, Array[Double])] = {
    val k = featureCols.size
    val ws = Array.fill(thresholds.size)(Array.fill(k)(0.0))
    var ns: Array[Long] = null
    for (_ <- 0 until iters) {
      val cells = thresholds.zipWithIndex.flatMap { case (t, ti) =>
        val z = featureCols.zip(ws(ti).toSeq)
          .map { case (c, wi) => lit(wi) * col(c) }
          .reduceLeft(_ + _)
        val p6 = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
        val err = p6 - col(labelCol)
        val inT = col(subsetCol) < t
        featureCols.zipWithIndex.map { case (c, i) =>
          sum(when(inT, (err * col(c)).cast("decimal(28,12)")))
            .cast("double").as(s"g${ti}_$i")
        } :+ sum(when(inT, 1L).otherwise(0L)).as(s"n$ti")
      }
      val row = pool.agg(cells.head, cells.tail: _*).head()
      if (ns == null)
        ns = thresholds.indices.map(ti => row.getLong(ti * (k + 1) + k)).toArray
      thresholds.indices.foreach { ti =>
        require(ns(ti) > 0,
          s"logisticFitWeightsNested: empty fold ${subsetCol} < ${thresholds(ti)}")
        ws(ti) = ws(ti).zipWithIndex.map { case (wi, i) =>
          // a fold whose rows are all-NULL in a feature column sums to
          // NULL — fail with the same loud diagnostic as an empty fold
          // instead of an opaque NPE off getDouble (r17 advice)
          require(!row.isNullAt(ti * (k + 1) + i),
            s"logisticFitWeightsNested: fold ${subsetCol} < " +
              s"${thresholds(ti)} has no non-NULL ${featureCols(i)} rows")
          wi - lr * (row.getDouble(ti * (k + 1) + i) / ns(ti))
        }
      }
    }
    thresholds.indices.map(ti => (thresholds(ti), ns(ti), ws(ti))).toSeq
  }

  /** All document pairs with TF-IDF cosine similarity ≥ `minCos`,
    * computed through an INVERTED-INDEX join — the sparse-vector
    * similarity search every duplicate-question / related-document
    * pass runs, and the third similarity family next to the
    * shingle-hash (MinHash/SimHash) and embedding (sign-LSH/IVF)
    * paths.
    *
    * 100 TB shape: never all-pairs. Documents meet ONLY through
    * terms they share — the term-keyed self-join of the (doc, term,
    * weight) postings list — so the pair stream is bounded by
    * Σ_term df(term)², not n². That bound is enforced, not hoped
    * for: terms with df > `maxDf` are dropped from the VOCABULARY
    * (norms included, so the similarity stays an exact cosine over
    * the capped vocab — the standard stop-term cut, since a term in
    * half the corpus carries ~no signal but df² pairs); df = 1 terms
    * are additionally pruned from the JOIN only (they cannot pair,
    * so this is pure savings, no semantic change). Everything else
    * is keyed aggregation: tf on (doc, term), df on term, norms on
    * doc, dots on (doc_a, doc_b).
    *
    * Both self-join sides shuffle the SAME postings subtree on term
    * (`shuffle_hash` hint, mirroring minhashCandidatePairs), so
    * ReusedExchange computes the weighting pass once.
    *
    * Determinism: idf is the m6 recipe (`round(ln((N+1)/(df+1)), 6)`),
    * norm² and dot sums go through DECIMAL(28,12) (order-free), and
    * the cosine is 6-dp-rounded before the threshold compare so the
    * kept set is engine-stable at the boundary.
    *
    * Returns the pairs and a hook releasing the persisted weighting
    * table — call it AFTER the action on the returned frame. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String,
                       tokens: Column, maxDf: Long,
                       minCos: Double): (DataFrame, () => Unit) = {
    val total = broadcast(docs.agg(count(lit(1)).as("nd")))
    val tf = docs.select(col(idCol).as("doc"), explode(tokens).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // persisted: the weighting pass feeds the doc-keyed norms
    // aggregate AND the two term-keyed postings sides; exchange reuse
    // covers the postings pair but not the norms branch (different
    // key), which would otherwise re-run explode→tf→df→join from the
    // scan. Callers release via the returned hook; query loops sweep
    // ([[graft.SparkEntry.releasePersisted]]).
    val w = tf.join(dfreq, "term").crossJoin(total)
      .select(col("doc"), col("term"), col("df"),
        (col("tf") *
          round(log((col("nd") + 1).cast("double") / (col("df") + 1)), 6))
          .as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy(col("doc"))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(28,12)"))
        .cast("double")).as("nrm"))
    val postings = w.filter(col("df") >= 2)
      .select(col("doc"), col("term"), col("w"))
      .hint("shuffle_hash")
    val dots = postings.as("a").join(postings.as("b"),
        col("a.term") === col("b.term") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(28,12)"))
        .cast("double").as("dot"))
    val pairs = dots
      .join(norms.select(col("doc").as("doc_a"), col("nrm").as("nrm_a")), "doc_a")
      .join(norms.select(col("doc").as("doc_b"), col("nrm").as("nrm_b")), "doc_b")
      // zero-norm guard: an all-zero-idf vector would make the cosine
      // 0/0 = NaN, and Spark orders NaN ABOVE every threshold — drop
      // degenerate vectors instead of emitting NaN pairs
      .filter(col("nrm_a") > 0.0 && col("nrm_b") > 0.0)
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (col("nrm_a") * col("nrm_b")), 6).as("cos"))
      .filter(col("cos") >= minCos)
    (pairs, () => { w.unpersist(blocking = true); () })
  }

  /** α-temperature source-mix rebalancing (α = 0.5) — the data-mixing
    * primitive of large-scale training pipelines ("don't sample
    * sources proportional to size, upweight the small ones"): the
    * budget of `totalDocs div budgetDen` sampled documents is split
    * across sources proportional to sqrt(n_s) (Gopher/LLaMA-style
    * sub-linear mixing), and each document's keep decision is an
    * INTEGER compare of its content-hash residue against the
    * per-source rate in micro-units — reproducible on any engine and
    * cluster size (t7/q42's sampler with per-source rates).
    *
    * Engine-stable arithmetic: sqrt(n) is quantized to BIGINT
    * micro-units per source (sqrt is bit-identical IEEE in any
    * engine — no pow dialect risk), the normalizer W = Σ w_mu is an
    * exact integer sum, and each rate is one integer division
    * `(T * w_mu * 1e6) div (W * n_s)` capped at 1e6, evaluated in
    * 128-bit integers (Scala BigInt here, HUGEINT in the oracle):
    * the numerator reaches T·sqrt(n_max)·1e12, which already
    * overflows Int64 around 1e6 docs on a skewed corpus — 128 bits
    * hold it beyond 1e13 documents.
    *
    * Plan shape: one keyed count agg (map-side partials) to a
    * |sources|-row table, the 1-row total and the rate table ride
    * broadcasts, and the keep decision is a narrow filter on the
    * full corpus — no raw-row shuffle anywhere.
    *
    * Returns (sampledDocs, censusPerSource). */
  def alphaMixSample(docs: DataFrame, sourceCol: String, hashCol: Column,
                     budgetDen: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // pass 1: per-source counts — ONE column-pruned scan with
    // map-side partials; the result is |sources| rows, so collecting
    // it is constant-size (the k-means-centroid / bloom-words
    // precedent), and the rate arithmetic runs ONCE driver-side in
    // exactly the integer spelling the oracle uses (declaring it as a
    // dependent DataFrame instead would re-derive the counts subtree
    // under each of its three consumers — measured: the corpus scan
    // ran twice even with AQE exchange reuse)
    // null-source rows form their own group (like SQL GROUP BY), and
    // all joins below are null-safe so they sample like any other
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_s"))
      .collect().map(r => (r.get(0).asInstanceOf[String], r.getLong(1)))
    val totalDocs = counts.map(_._2).sum
    val t = BigInt(totalDocs / budgetDen)
    val wMu = counts.map { case (s, n) =>
      (s, n, math.floor(math.sqrt(n.toDouble) * 1e6).toLong) }
    val wSum = BigInt(wMu.map(_._3).sum)
    val rates = wMu.map { case (s, n, w) =>
      (s, n, ((t * w * 1000000) / (wSum * n)).min(1000000).toLong) }
    // pass 2: the keep decision is a narrow filter against the
    // broadcast |sources|-row rate table; the census rides this same
    // pass (one keyed agg over the sampled rows)
    val rateDf = rates.toSeq.toDF(sourceCol, "n_docs", "rate_mu")
    val sampled = docs
      .join(broadcast(rateDf.select(col(sourceCol).as("__src"), col("rate_mu"))),
        col(sourceCol) <=> col("__src"))
      .filter(pmod(DedupOps.md5Hash32(hashCol), lit(1000000L)) < col("rate_mu"))
      .drop("__src", "rate_mu")
    // left from rates: a source whose rate floors to 0 still appears
    // in the census (with n_sampled = 0), it must not vanish
    val census = rateDf
      .join(sampled.groupBy(col(sourceCol).as("__src"))
          .agg(count(lit(1)).as("__c")),
        col(sourceCol) <=> col("__src"), "left")
      .select(col(sourceCol), col("n_docs"), col("rate_mu"),
        coalesce(col("__c"), lit(0L)).as("n_sampled"))
    (sampled, census)
  }

  /** Byte-pair-encoding vocabulary fit — the real iterative merge
    * training (Sennrich et al., ACL 2016), not the merge-candidate
    * count `t5_bpe_tokens` reports: `nMerges` rounds of (count
    * adjacent symbol pairs weighted by word frequency) → (merge the
    * most frequent pair, leftmost-first non-overlapping) over the
    * whole corpus. Returns the learned merge table
    * (merge_rank, lsym, rsym, cnt), nMerges rows.
    *
    * 100 TB shape: the corpus is touched ONCE — the word-frequency
    * aggregation (map-side partials, Zipf-bounded output) — and every
    * merge round runs on that vocabulary-sized table: one pair-count
    * keyed agg, one 1-row driver argmax (the m7 LR-refit / k-means
    * centroid loop pattern), one narrow rewrite. No round shuffles
    * raw corpus rows.
    *
    * Engine-stable merge semantics: each word's symbol sequence is
    * encoded as a string of individually WRAPPED symbols
    * (` s ` concatenated), so one merge pass is a literal
    * string replace of `⟨l⟩⟨r⟩` with `⟨lr⟩` — and replace() in both
    * Spark (UTF8String) and DuckDB scans left-to-right resuming AFTER
    * each replacement, which is exactly BPE's leftmost-first
    * non-overlapping rule ("aaaa" + merge (a,a) → [aa][aa], never
    * [aa][a][a]). Wrapping each symbol in its OWN delimiter pair is
    * what makes adjacent matches share no characters (a single shared
    * separator would break the second of two adjacent merges).
    * Pair counts are exact Long sums; the argmax tie-break is
    * (count DESC, lsym, rsym) on both engines. Tokens containing the
    * U+001F wrapper are dropped defensively (the clean+tokenize chain
    * can never produce one).
    */
  def bpeFit(docs: DataFrame, tokens: Column, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeFitCore(docs, tokens, nMerges)._1
      .toDF("merge_rank", "lsym", "rsym", "cnt")
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the public
    * hashed-n-gram recipe): fit two bag-of-hashed-n-gram bucket
    * distributions — p over the TARGET slice, q over the full raw
    * corpus — and score every doc with >= 1 token by its importance
    * log-weight Σ_f c_f(doc)·(ln p[b(f)] − ln q[b(f)]), add-one
    * smoothed over the `buckets` hash cells. Features are unigrams
    * plus space-joined bigrams hashed into one bucket space by
    * md5-32 % buckets (the cross-engine [[graft.OracleSql.hash32]]
    * spelling).
    *
    * 100 TB shape — DSIR's own two-pass structure, each pass minimal:
    * the FIT pass folds the corpus straight to <= `buckets` histogram
    * rows (one map-side-combined agg keyed on the bucket id — the
    * only shuffle, carrying <= buckets×partitions partial rows) and
    * collects them; the weight table is computed driver-side (the t14
    * rates precedent) and re-enters the plan as a `buckets`-long
    * array literal. The SCORE pass is then a pure NARROW projection —
    * per-row higher-order fold over the feature array, no explode, no
    * join, no shuffle, nothing larger than the literal in any task.
    * Selection (top-k by weight) is the caller's
    * `orderBy(...).limit(k)` — TakeOrderedAndProject, no full sort.
    *
    * Oracle parity: each ln quantizes to DECIMAL(18,6) micro-nats
    * (the t10/t17 recipe; driver-side spelling is the identical
    * `BigDecimal(ln).setScale(6, HALF_UP)` — Spark's own `round`
    * implementation — proven bit-equal in DsirWeightsSpec); weights
    * are exact BIGINT micro-nat sums from there.
    * Output: (idCol, n_feats, weight_mu) for docs with >= 1 token. */
  def dsirWeights(docs: DataFrame, idCol: String, tokens: Column,
                  isTarget: Column, buckets: Int): DataFrame =
    dsirScore(docs, idCol, tokens,
      dsirFitWeights(docs, tokens, isTarget, buckets))

  /** Score half of [[dsirWeights]] against a frozen weight table
    * (from [[dsirFitWeights]]): (idCol, n_feats, weight_mu) for docs
    * with >= 1 token, `weight_mu` a pure narrow per-row fold of the
    * feature array against the literal weight table — no explode, no
    * join, no shuffle, no state — so the same call scores a streaming
    * DataFrame at ingest (DsirStreamSpec runs it on a MemoryStream
    * and pins statelessness and split invariance). */
  def dsirScore(docs: DataFrame, idCol: String, tokens: Column,
                wMu: Array[Long]): DataFrame = {
    val buckets = wMu.length
    docs.select(col(idCol), tokens.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col(idCol), dsirFeatures(col("toks")).as("fs"))
      .select(col(idCol), size(col("fs")).cast("long").as("n_feats"),
        aggregate(col("fs"), lit(0L), (acc, f) =>
          acc + element_at(typedlit(wMu),
            (pmod(DedupOps.md5Hash32(f), lit(buckets)) + 1).cast("int")))
          .as("weight_mu"))
  }

  /** Unigram + space-joined-bigram feature array over a token-array
    * column — the DSIR feature set (tokens are whitespace-split, so
    * the joiner is collision-free). ONE spelling shared by the fit
    * pass and the score pass. */
  private[graft] def dsirFeatures(toks: Column): Column =
    concat(toks,
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "),
            element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>")))

  /** Fit half of [[dsirWeights]]: fold the corpus to the
    * `buckets`-long micro-nat weight table (one map-side-combined agg
    * to <= buckets rows, weights computed driver-side — the t14 rates
    * precedent). The returned array is the FROZEN model artifact the
    * score side ([[dsirScore]]) consumes, batch or streaming. */
  def dsirFitWeights(docs: DataFrame, tokens: Column,
                     isTarget: Column, buckets: Int): Array[Long] = {
    require(buckets >= 1 && buckets <= (1 << 20),
      s"buckets must be in [1, 2^20], got $buckets")
    val hist = docs
      .select(isTarget.as("is_tgt"), tokens.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("is_tgt"), explode(dsirFeatures(col("toks"))).as("f"))
      .select(col("is_tgt"),
        pmod(DedupOps.md5Hash32(col("f")), lit(buckets)).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cq"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"))
      .collect()
    val cq = new Array[Long](buckets); val ct = new Array[Long](buckets)
    hist.foreach { r =>
      cq(r.getLong(0).toInt) = r.getLong(1); ct(r.getLong(0).toInt) = r.getLong(2) }
    val nq = cq.sum; val nt = ct.sum
    // the identical quantization Spark's own round() applies —
    // BigDecimal(double).setScale(6, HALF_UP) — so driver-side
    // weights are bit-equal to an in-plan round(ln(·),6) spelling
    // (DsirWeightsSpec pins this against a scalar reference)
    def lnMicro(num: Long, den: Long): Long =
      (BigDecimal(math.log(num.toDouble / den))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
    Array.tabulate(buckets)(b =>
      lnMicro(ct(b) + 1, nt + buckets) - lnMicro(cq(b) + 1, nq + buckets))
  }

  // ---- Gopher/MassiveText document rules (Rae et al. 2021, A1) -----

  /** The 8 required stop words of the Gopher rule set (>= 2 must
    * appear for a doc to pass). */
  private[graft] val GopherReqStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** RAW-text word split (the rules predate tokenization: symbols
    * count) — shared by [[gopherQuality]] and [[filterVerdicts]]. */
  private[graft] def gopherWords(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Trimmed non-empty raw lines. */
  private[graft] def gopherLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)

  /** The array-local stat columns over (ws, ls) — every rule input
    * except the duplicate-line family, which batch and stream derive
    * differently (keyed agg vs in-row fold). ONE spelling. */
  private[graft] def gopherArrayStats: Seq[Column] = Seq(
    size(col("ws")).cast("long").as("n_words"),
    aggregate(col("ws"), lit(0L), (a, w) => a + length(w))
      .as("word_chars"),
    size(filter(col("ws"), w => w.rlike("[A-Za-z]"))).cast("long")
      .as("n_alpha_words"),
    size(array_intersect(
      array_distinct(transform(col("ws"), w => lower(w))),
      typedlit(GopherReqStops))).cast("long").as("n_req_stop"),
    size(filter(col("ls"),
      l => l.startsWith("-") || l.startsWith("*"))).cast("long")
      .as("n_bullet"),
    size(filter(col("ls"), l => l.endsWith("..."))).cast("long")
      .as("n_ellipsis"))

  /** Micro-unit ratio columns + the conjunction verdict over the raw
    * stat columns — the rule thresholds live HERE and nowhere else
    * ([[gopherQuality]] and [[filterVerdicts]] share this tail, so a
    * threshold tweak lands in both). `carry` names
    * extra `stats` columns to project through unchanged (the
    * streaming funnel threads text/tokens past the tail this way). */
  private[graft] def gopherRuleTail(stats: DataFrame, idCol: String,
                                    carry: Seq[String] = Nil): DataFrame =
    stats.select(col(idCol) +: carry.map(col) ++: Seq(
        col("n_words"),
        expr("(1000000 * word_chars) div n_words").as("mean_wlen_mu"),
        col("n_req_stop"),
        expr("(1000000 * n_dup_lines) div n_lines").as("dup_line_mu"),
        expr("(1000000 * dup_line_chars) div line_chars")
          .as("dup_char_mu"),
        expr("(1000000 * n_bullet) div n_lines").as("bullet_mu"),
        expr("(1000000 * n_ellipsis) div n_lines").as("ellipsis_mu"),
        expr("(1000000 * n_alpha_words) div n_words").as("alpha_mu")): _*)
      .withColumn("pass_gopher",
        (col("n_words").between(50L, 100000L) &&
          col("mean_wlen_mu").between(3000000L, 10000000L) &&
          col("n_req_stop") >= 2L &&
          col("dup_line_mu") <= 300000L &&
          col("dup_char_mu") <= 200000L &&
          col("bullet_mu") <= 900000L &&
          col("ellipsis_mu") <= 300000L &&
          col("alpha_mu") >= 800000L).cast("long"))

  /** The Gopher/MassiveText per-document rule table (Rae et al.
    * 2021, table A1 — the public filter set LLM corpus pipelines
    * standardize on): word-count bounds, mean word length, >= 2 of
    * the 8 required stop words, duplicate-line and
    * duplicate-line-char fractions, bullet-/ellipsis-line fractions,
    * alphabetic-word fraction, and the conjunction verdict — exact
    * integer micro-units, verdict as 0/1. Words/lines are RAW-text
    * splits (the rules predate tokenization).
    *
    * 100 TB shape: one narrow per-doc projection for the array-local
    * stats plus ONE (id, line) keyed agg (map-side combined, bounded
    * by lines-per-doc) for the duplicate-line stats, joined back —
    * no corpus-wide state, one text scan. [[filterVerdicts]] derives
    * the same stats statelessly, in-row ([[inRowLineStatFold]]). */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs
      .select(col(idCol), gopherWords(col(textCol)).as("ws"),
        gopherLines(col(textCol)).as("ls"))
      .filter(size(col("ws")) >= 1)
    val lstats = base
      .select(col(idCol), explode(col("ls")).as("line"))
      .groupBy(col(idCol), col("line")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_lines"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_lines"),
        sum(length(col("line")).cast("long") * col("c")).as("line_chars"),
        sum(when(col("c") > 1, length(col("line")).cast("long") * col("c"))
          .otherwise(0L)).as("dup_line_chars"))
    gopherRuleTail(
      base.join(lstats, Seq(idCol))
        .select(col(idCol) +: gopherArrayStats :+ col("n_lines") :+
          col("n_dup_lines") :+ col("line_chars") :+ col("dup_line_chars"): _*),
      idCol)
  }

  /** Gopher/MassiveText REPETITION signals (Rae et al. 2021, table A1
    * — the repetition sub-table [[gopherQuality]]'s rule set leaves to
    * a separate pass): per document,
    *
    *   - `topN_mu` (n = 2..4): the character fraction absorbed by the
    *     most frequent n-gram — `count * gram_chars / tok_chars`,
    *     where `gram_chars` is the n-gram's character mass excluding
    *     joiner spaces and `tok_chars` the document's total token
    *     character mass. Ties on count break to the LARGEST gram
    *     character mass (deterministic without a string sort).
    *   - `dupN_mu` (n = 5..10): the character fraction COVERED by
    *     duplicated n-grams — token positions lying inside any
    *     occurrence of an n-gram that appears >= 2 times in the doc,
    *     position-UNIONED so overlapping duplicate windows never
    *     double-count a character (the span-union reading used by the
    *     public reimplementations, e.g. Dolma / NeMo Curator).
    *   - `pass_rep`: the table-A1 conjunction (top2 <= 0.20,
    *     top3 <= 0.18, top4 <= 0.16, dup5 <= 0.15 stepping down to
    *     dup10 <= 0.10), as 0/1.
    *
    * All fractions are exact integer micro-units (`1e6 * num div
    * den`), the t20/t25 recipe, so the DuckDB oracle hashes equal.
    *
    * 100 TB shape: every statistic is a function of ONE document, so
    * the whole table is a single narrow projection — the
    * [[graft.plans.RepetitionStats]] expression computes all nine
    * numerators in one pass over the token array (bounded hash maps,
    * rolling window char mass) and NO exchange exists at any scale.
    * The first cut spelled this compositionally (explode both n-gram
    * families, keyed aggs, coverage join): seven stages shuffling
    * ~180 rows per document to rebuild per-document state —
    * structurally wrong even though each agg was map-side combined;
    * the expression collapse is the same move CleanTokens made on the
    * tokenizer chain. */
  /** The nine repetition micro-fraction columns over the `st` stats
    * struct — ONE spelling, shared by [[repetitionSignals]] and the
    * streaming funnel (where a zero `tok_chars` makes them NULL, the
    * coalesce-to-fail path). */
  private[graft] def repMuCols: Seq[Column] =
    (Seq(2, 3, 4).map(n => s"c$n" -> s"top${n}_mu") ++
      (5 to 10).map(n => s"d$n" -> s"dup${n}_mu"))
      .map { case (in, out) =>
        expr(s"(1000000 * st.$in) div st.tok_chars").as(out)
      }

  /** The table-A1 repetition conjunction over [[repMuCols]]'s output
    * columns — thresholds live HERE and nowhere else. */
  private[graft] def repPassCol: Column =
    (col("top2_mu") <= 200000L && col("top3_mu") <= 180000L &&
      col("top4_mu") <= 160000L && col("dup5_mu") <= 150000L &&
      col("dup6_mu") <= 140000L && col("dup7_mu") <= 130000L &&
      col("dup8_mu") <= 120000L && col("dup9_mu") <= 110000L &&
      col("dup10_mu") <= 100000L).cast("long")

  def repetitionSignals(docs: DataFrame, idCol: String,
                        tokens: Column): DataFrame =
    docs
      .select(col(idCol), tokens.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col(idCol), size(col("toks")).cast("long").as("n_toks"),
        graft.plans.RepetitionStats.of(col("toks")).as("st"))
      .select(col(idCol) +: col("n_toks") +:
        col("st.tok_chars").as("tok_chars") +: repMuCols: _*)
      .withColumn("pass_rep", repPassCol)

  /** C4 heuristic filter table (Raffel et al. 2020 §2.2 — the other
    * public rule set next to the Gopher table): per document,
    *
    *   - `n_lines`: trimmed non-empty raw lines (the [[gopherLines]]
    *     spelling);
    *   - `n_kept` / `kept_mu`: lines C4's line filter RETAINS — ends
    *     in terminal punctuation (`.` `!` `?` `"`), carries >= 5
    *     whitespace words, and does not mention "javascript"
    *     (case-insensitive) — count and micro-fraction;
    *   - `n_term`: terminal-punctuation characters in the raw text
    *     (the deterministic stand-in for C4's sentence count — no
    *     sentence segmenter ships in a SQL engine, and the >= 3 rule
    *     only needs a count);
    *   - `has_brace` / `has_lorem`: the code (`{`) and boilerplate
    *     ("lorem ipsum") document drops, as 0/1;
    *   - `pass_c4`: n_term >= 3 AND no brace AND no lorem.
    *
    * Like the repetition table, every statistic is a function of one
    * document: the whole table is a single stateless narrow
    * projection (higher-order array functions, no custom expression
    * needed) — no exchange at any scale, and the SAME operator runs
    * unchanged on a streaming frame. */
  def c4Filters(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = (l: Column) =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= 5 &&
        !contains(lower(l), lit("javascript"))
    docs
      .select(col(idCol), col(textCol).as("text"),
        gopherLines(col(textCol)).as("ls"))
      .filter(size(col("ls")) >= 1)
      .select(col(idCol) +:
        size(col("ls")).cast("long").as("n_lines") +:
        size(filter(col("ls"), keep)).cast("long").as("n_kept") +:
        c4DocStatCols(col("text")): _*)
      .withColumn("kept_mu", expr("(1000000 * n_kept) div n_lines"))
      .withColumn("pass_c4", c4PassCol)
  }

  /** The C4 document conjunction over (n_term, has_brace, has_lorem)
    * — ONE spelling, shared by [[c4Filters]] and the streaming
    * funnel. */
  private[graft] def c4PassCol: Column =
    (col("n_term") >= 3L && col("has_brace") === 0L &&
      col("has_lorem") === 0L).cast("long")

  /** The C4 document-rule input columns over raw `textCol` — every
    * [[c4PassCol]] input is line-independent, so these compute for
    * ANY document (including ones [[c4Filters]]' own line filter
    * would exclude), which is what the funnel's totality needs. */
  private[graft] def c4DocStatCols(textCol: Column): Seq[Column] = Seq(
    (length(textCol) -
      length(translate(textCol, ".!?", ""))).cast("long").as("n_term"),
    contains(textCol, lit("{")).cast("long").as("has_brace"),
    contains(lower(textCol), lit("lorem ipsum")).cast("long")
      .as("has_lorem"))

  /** FILTER FUNNEL: per-group attrition through the three public
    * rule stacks applied in sequence — Gopher ([[gopherQuality]]),
    * then +repetition ([[repetitionSignals]]), then +C4
    * ([[c4Filters]]). Documents a family's own table excludes (empty
    * word/token/line sets) count as FAILING that family, so the
    * funnel is total over the corpus: the left joins coalesce the
    * missing verdicts to 0.
    *
    * Cost is the three signal passes plus small-row id joins (per-doc
    * verdicts, never text); at 100 TB the verdict tables would be
    * materialized once (the tokenize-once pattern) and the funnel
    * becomes a pure small-row aggregation over stored signals. */
  def filterFunnel(docs: DataFrame, idCol: String, textCol: String,
                   tokens: Column, groupCol: String): DataFrame =
    filterVerdicts(docs, idCol, textCol, tokens, Seq(groupCol))
      .select(col(groupCol),
        col("pass_gopher").as("pg"), col("pass_rep").as("pr"),
        col("pass_c4").as("pc"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pg")).as("n_gopher"),
        sum(col("pg") * col("pr")).as("n_gopher_rep"),
        sum(col("pg") * col("pr") * col("pc")).as("n_kept"))
      .select(col(groupCol), col("n_docs"), col("n_gopher"),
        col("n_gopher_rep"), col("n_kept"),
        expr("(1000000 * n_kept) div n_docs").as("kept_mu"))

  /** In-row duplicate-line stats over the `ls` array — per-DISTINCT-
    * line (count, chars) via sort-then-scan: `array_sort` makes equal
    * lines adjacent, so ONE linear fold closes each run as the value
    * changes — O(L log L) in a doc's own line count. (The previous
    * nested fold rescanned the whole array per distinct line: O(L²),
    * an unbounded single-task straggler on a pathological ~1M-line
    * web doc — r16 advice.) The spelling [[filterVerdicts]] uses on
    * batch or streaming input; value-equal to gopherQuality's keyed
    * (id, line) agg by construction (per-distinct-line counts either
    * way — FunnelStreamSpec pins it on an adversarial corpus; the
    * sort is value-invisible, stats are order-free sums). */
  private[graft] def inRowLineStatFold: Column = {
    // accumulator: (prev line, its open run length, closed-run sums)
    val acc0 = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("dl"), lit(0L).as("dc"))
    // fold prev's FINISHED run into the sums (count > 1 ⇒ duplicate
    // mass); a run finishes when the scanned value changes, and the
    // finish lambda closes the last one
    def closeRun(a: Column): Seq[Column] = {
      val c = a.getField("run")
      Seq(
        (a.getField("dl") + when(c > 1L, c).otherwise(0L)).as("dl"),
        (a.getField("dc") + when(c > 1L, c * length(a.getField("prev")))
          .otherwise(0L)).as("dc"))
    }
    aggregate(
      array_sort(col("ls")), acc0,
      (a, l) => {
        val same = coalesce(a.getField("prev") === l, lit(false))
        val closed = closeRun(a)
        struct(
          l.as("prev"),
          when(same, a.getField("run") + 1L).otherwise(1L).as("run"),
          when(same, a.getField("dl")).otherwise(closed(0)).as("dl"),
          when(same, a.getField("dc")).otherwise(closed(1)).as("dc"))
      },
      a => struct(closeRun(a): _*)) // close the final run
  }

  /** Extraction face of [[inRowLineStatFold]]: callers MUST project
    * the fold into a named column in its OWN projection and extract
    * from that column here — passing the raw fold expression twice
    * would re-materialize the whole `array_sort` + linear fold once
    * per extracted field (Catalyst does not CSE across struct-field
    * extraction of a higher-order function; the r17 t30 after-plan
    * showed the lambda twice — r17 verdict item 5). A multi-referenced
    * non-trivial alias survives CollapseProject, so the staged
    * spelling sorts and folds each document's lines exactly once. */
  private[graft] def inRowLineStatColsFrom(fold: Column): Seq[Column] = Seq(
    size(col("ls")).cast("long").as("n_lines"),
    fold.getField("dl").as("n_dup_lines"),
    // total chars over ALL lines — a plain linear fold, no
    // distinct-line view needed (Σ len·c over distinct = Σ len)
    aggregate(col("ls"), lit(0L),
      (a, l) => a + length(l)).as("line_chars"),
    fold.getField("dc").as("dup_line_chars"))

  /** Per-document unigram character entropy from exact counts —
    * (id, n_scored_chars, char_entropy), computed IN-ROW (round 17).
    *
    * The previous spelling exploded one row PER CHARACTER through a
    * (doc, ch) census aggregate, a doc-keyed window for the total,
    * and a second doc-keyed aggregate: a Generate plus two full
    * exchanges for what is per-row arithmetic — the total is just
    * `length(text)` and the per-document state is a tiny
    * character-count map. [[graft.plans.CharEntropyTermSum]] computes
    * the entire quantized term sum in one compiled pass over the
    * text's UTF-8 bytes (an `array_sort` + HOF-fold spelling was
    * tried first and measured SLOWER than the explode — ArrayAggregate
    * is CodegenFallback, per-character interpreted eval). Plan:
    * Scan → Project, ZERO exchanges at any scale.
    *
    * Value-identical to the census spelling: identical character
    * identity (UTF-8 lead-byte stepping — never a first-byte `ascii`
    * proxy that would collide multi-byte code points), the identical
    * `c · round(ln(c/n), 6)::DECIMAL(18,6)` term per distinct char,
    * exact decimal addition either way (CharEntropySpec pins it,
    * incl. multi-byte and randomized corpora). Documents with
    * `length(text) < 1` are excluded, as before. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val n = length(col(textCol)).cast("long")
    docs
      .filter(length(col(textCol)) >= 1)
      .select(col(idCol),
        n.as("n_scored_chars"),
        (lit(0.0) -
          (graft.plans.CharEntropyTermSum.of(col(textCol)).cast("double") / n))
          .as("char_entropy"))
  }

  /** Per-document verdict table under the three public rule stacks —
    * (id, extras..., pass_gopher, pass_rep, pass_c4, keep), TOTAL
    * over the corpus: documents a family's own base filter excludes
    * (empty word/token/line sets) coalesce to failing that family.
    * `keep` is the sequential-funnel conjunction. [[filterFunnel]]
    * is this table aggregated; the same call is the ingest gate on a
    * streaming DataFrame (FunnelStreamSpec: stateless, split-invariant).
    *
    * 100 TB shape (round 16 — rewritten join-free): the old spelling
    * left-joined three per-family verdict tables, i.e. FOUR corpus
    * scans and THREE full-corpus shuffles on the doc id for what is
    * per-row arithmetic. All three stacks now evaluate in ONE
    * stateless narrow projection with zero joins and zero exchanges
    * before the caller's aggregation. Totality without joins: no base filters;
    * a doc with empty words/tokens/lines hits NULL micro-ratios
    * (zero divisors nullif'd — ANSI `div` would throw) whose rule
    * conjunctions coalesce to 0, exactly the old left-join
    * coalesce-to-fail. Rule spellings are the shared threshold
    * tails ([[gopherRuleTail]], [[repMuCols]]/[[repPassCol]],
    * [[c4DocStatCols]]/[[c4PassCol]]), so t25/t27/t29's standalone
    * family tables stay definitionally consistent with the funnel. */
  def filterVerdicts(docs: DataFrame, idCol: String, textCol: String,
                     tokens: Column,
                     extraCols: Seq[String] = Nil): DataFrame = {
    val keep = extraCols.map(col)
    val base = docs.select(col(idCol) +: keep ++: Seq(
      col(textCol),
      gopherWords(col(textCol)).as("ws"),
      gopherLines(col(textCol)).as("ls"),
      tokens.as("toks")): _*)
    val stats = base
      // the line-stat fold is STAGED into its own aliased column so it
      // materializes once; extracting .dl/.dc straight off the fold
      // expression would run the whole array_sort + fold twice per row
      // (see [[inRowLineStatColsFrom]])
      .select(col(idCol) +: keep ++: col(textCol) +: col("toks") +:
        col("ws") +: col("ls") +: Seq(inRowLineStatFold.as("__lsf")): _*)
      .select(col(idCol) +: keep ++: col(textCol) +: col("toks") +:
        gopherArrayStats ++: inRowLineStatColsFrom(col("__lsf")): _*)
      .withColumn("n_words", nullif(col("n_words"), lit(0L)))
      .withColumn("n_lines", nullif(col("n_lines"), lit(0L)))
      .withColumn("line_chars", nullif(col("line_chars"), lit(0L)))
    val g = gopherRuleTail(stats, idCol,
        carry = extraCols ++ Seq(textCol, "toks", "n_lines"))
      .withColumn("pass_gopher", coalesce(col("pass_gopher"), lit(0L)))
    val r = g
      .select(col(idCol) +: keep ++: Seq(col(textCol), col("n_lines"),
        col("pass_gopher"),
        when(size(col("toks")) >= 1,
          graft.plans.RepetitionStats.of(col("toks"))).as("st")): _*)
      .select(col(idCol) +: keep ++: Seq(col(textCol), col("n_lines"),
        col("pass_gopher")) ++: repMuCols: _*)
      .withColumn("pass_rep", coalesce(repPassCol, lit(0L)))
    r.select(col(idCol) +: keep ++: Seq(col("pass_gopher"),
        col("pass_rep"), col("n_lines")) ++:
        c4DocStatCols(col(textCol)): _*)
      .withColumn("pass_c4",
        when(col("n_lines") >= 1L, c4PassCol).otherwise(0L))
      .select(col(idCol) +: keep ++: Seq(col("pass_gopher"),
        col("pass_rep"), col("pass_c4")): _*)
      .withColumn("keep",
        col("pass_gopher") * col("pass_rep") * col("pass_c4"))
  }

  /** COHEN'S KAPPA from a confusion-matrix table (actual, predicted,
    * count) — chance-corrected agreement, the one-number summary raw
    * accuracy overstates when the class mix is skewed:
    * kappa = (po − pe)/(1 − pe), pe = Σ rowᵢ·colᵢ / n². Exactly
    * integer: kappa_mu = 1e6·(n·Σdiag − Σrᵢcᵢ) div (n² − Σrᵢcᵢ),
    * with the n²-scale products in DECIMAL(38,0) (HUGEINT on the
    * oracle side, the t28 device — n² exceeds 2^63 past ~3e9 rows).
    * `div` on DECIMAL truncates toward zero, so the DuckDB oracle
    * sign-splits its floor `//` to match on negative kappa; the
    * degenerate one-cell matrix (pe = 1) reports 0 by convention.
    * Three folds over the class-bounded matrix — nothing above
    * matrix size ever moves (callers persist the matrix, the m13
    * release discipline). */
  def cohensKappaFromMatrix(cm: DataFrame, actualCol: String,
                            predCol: String, nCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val tot = cm.agg(sum(col(nCol)).as("n"),
      sum(when(col(actualCol) === col(predCol), col(nCol))
        .otherwise(0L)).as("diag"))
    val rc = cm.groupBy(col(actualCol)).agg(sum(col(nCol)).as("r"))
      .join(cm.groupBy(col(predCol)).agg(sum(col(nCol)).as("c")),
        col(actualCol) === col(predCol))
      .agg(coalesce(sum(dec(col("r")) * dec(col("c"))),
        lit(0).cast("decimal(38,0)")).as("rc"))
    tot.crossJoin(rc)
      .select(col("n").as("n_docs"), col("diag").as("n_agree"),
        expr("""cast(case
            when cast(n as decimal(38,0)) * n - rc = 0 then 0
            else (cast(1000000 as decimal(38,0)) *
                  (cast(n as decimal(38,0)) * diag - rc)) div
                 (cast(n as decimal(38,0)) * n - rc) end
          as bigint)""").as("kappa_mu"))
  }

  /** BOILERPLATE LINE CENSUS (the CCNet/RefinedWeb paragraph-dedup
    * prerequisite): the corpus-wide frequent-line table — lines
    * (trimmed, non-empty; the [[gopherLines]] spelling) ranked by how
    * many documents carry them, then by total occurrences, then
    * lexicographically. The head of this table IS the boilerplate
    * (navigation chrome, cookie banners, footers): web-scale corpora
    * remove top-table lines before training, and the census is the
    * artifact that decision reads.
    *
    * 100 TB shape: one text scan into a (line) keyed agg — both
    * aggregates map-side combine (count-distinct over doc ids rides
    * a two-level agg Spark plans automatically) — and the ranked
    * cutoff is `TakeOrderedAndProject`, so the unbounded distinct-
    * line set never funnels through one partition (the
    * [[vocabularyWithIdf]] device at line granularity). */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                       limit: Int): DataFrame =
    docs
      .select(col(idCol), explode(gopherLines(col(textCol))).as("line"))
      .groupBy(col("line"))
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .select(col("line"), col("n_docs"), col("n_occ"),
        length(col("line")).cast("long").as("line_chars"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("line"))
      .limit(limit)

  /** BOILERPLATE STRIP accounting — the rewrite pass the
    * [[boilerplateLines]] census motivates: a line is boilerplate
    * when >= `minDocs` distinct documents carry it, and the pass
    * drops every occurrence. Returns per-document
    * (id, n_lines, n_kept, chars_removed); the rewrite itself is the
    * kept-lines concat (posexplode + the same anti-join + a
    * positional re-assembly — same plan skeleton, plus order).
    *
    * 100 TB shape: the boilerplate set is UNBOUNDED (every line
    * shared by two docs), so membership is a JOIN on the line hash —
    * never a collect/broadcast of the line table. Two passes over
    * the exploded lines (census + probe, the self-join class t25's
    * dup-line stats already use) and one per-doc keyed agg. */
  def stripBoilerplateStats(docs: DataFrame, idCol: String,
                            textCol: String, minDocs: Int): DataFrame = {
    val l = docs.select(col(idCol),
      explode(gopherLines(col(textCol))).as("line"))
    val bp = l.groupBy(col("line"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line"), lit(1L).as("is_bp"))
    l.join(bp, Seq("line"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_bp").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_bp").isNotNull,
          length(col("line")).cast("long")).otherwise(0L))
          .as("chars_removed"))
  }

  /** READABILITY (Flesch 1948 / Kincaid et al. 1975): Flesch Reading
    * Ease and Flesch-Kincaid grade level per document — the classic
    * audience-level quality signal next to the rule tables (Gopher/
    * C4 gate garbage; readability BANDS the survivors). Components:
    *
    *   - words: the raw-split [[gopherWords]] spelling;
    *   - sentences: the terminal-punctuation count stand-in (the
    *     [[c4DocStatCols]] `n_term` spelling — no sentence segmenter
    *     ships in a SQL engine), floored at 1 so unpunctuated docs
    *     read as one long sentence instead of dividing by zero;
    *   - syllables: vowel-group runs per word (`[aeiouyAEIOUY]+`),
    *     floored at 1 per word — the standard dictionary-free
    *     heuristic, and a dialect-portable regex (Java == RE2).
    *
    * Both scores are exact integer micro-units: each formula term is
    * one `constant * num div den` with non-negative operands
    * (truncation parity with DuckDB `//`), so the oracle hashes
    * equal. FRE_mu = 206835000 − 1015000·w div s − 84600000·sy div w;
    * FKGL_mu = 390000·w div s + 11800000·sy div w − 15590000
    * (negative = below-first-grade text; kept signed).
    *
    * One stateless narrow projection — no exchange at any scale, runs
    * unchanged on a streaming frame. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), gopherWords(col(textCol)).as("ws"),
        c4DocStatCols(col(textCol)).head)
      .filter(size(col("ws")) >= 1)
      .select(col(idCol),
        size(col("ws")).cast("long").as("n_words"),
        greatest(col("n_term"), lit(1L)).as("n_sent"),
        aggregate(transform(col("ws"), w => greatest(lit(1L),
          size(regexp_extract_all(w, lit("[aeiouyAEIOUY]+"), lit(0)))
            .cast("long"))), lit(0L), (a, x) => a + x).as("n_syll"))
      .select(col(idCol), col("n_words"), col("n_sent"), col("n_syll"),
        (lit(206835000L) - expr("(1015000 * n_words) div n_sent") -
          expr("(84600000 * n_syll) div n_words")).as("fre_mu"),
        (expr("(390000 * n_words) div n_sent") +
          expr("(11800000 * n_syll) div n_words") - lit(15590000L))
          .as("fkgl_mu"))

  /** PII surface patterns — deliberately SIMPLE and dialect-portable:
    * no backreferences, no lookaround, ASCII classes only, so the
    * same literal runs identically under Java regex (Spark) and RE2
    * (DuckDB oracle), and under any RE2-class engine a production
    * scrubber would use. A real pipeline swaps in its compliance
    * team's pattern set; the OPERATOR SHAPE (narrow per-row scan,
    * counts + matched char mass, stateless on a stream) is the part
    * that survives that swap. */
  private[graft] val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiIpv4Re =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PiiPhoneRe = "\\+\\d{7,15}\\b"

  /** Per-document PII surface stats over `textCol` — match counts per
    * pattern family (email, IPv4, international-format phone), total
    * matched character mass, and a 0/1 any-hit flag. The pre-release
    * scan every public corpus effort runs (and the redaction
    * planner's input: `pii_chars` is exactly the char budget a
    * replace pass would rewrite).
    *
    * A column pack (the [[gopherArrayStats]] device): every stat is a
    * function of one row, so callers append these to any projection —
    * batch or streaming, no state, no exchange, one text scan. */
  private[graft] def piiScanCols(textCol: Column): Seq[Column] = {
    def cnt(re: String) = regexp_count(textCol, lit(re)).cast("long")
    def mass(re: String) =
      aggregate(transform(regexp_extract_all(textCol, lit(re), lit(0)),
        m => length(m).cast("long")), lit(0L), (a, x) => a + x)
    Seq(
      cnt(PiiEmailRe).as("n_email"),
      cnt(PiiIpv4Re).as("n_ipv4"),
      cnt(PiiPhoneRe).as("n_phone"),
      (mass(PiiEmailRe) + mass(PiiIpv4Re) + mass(PiiPhoneRe))
        .as("pii_chars"))
  }

  /** Zipf's-law slope of the corpus term-frequency distribution: the
    * OLS fit of ln(freq) against ln(rank) over the top `limit`
    * occurrence-frequency terms (rank 1 = most frequent; ties on
    * freq order by term, which cannot change the fit — tied terms
    * share the same y, so permuting their x's permutes addends of
    * the same sums). A healthy natural-language corpus sits near
    * slope -1; the deviation is the standard corpus-health / domain-
    * shift diagnostic next to [[vocabularyWithIdf]]'s coverage view.
    *
    * Exact integer pipeline (the t10/t17 recipe): ln values are
    * micro-nat quantized (`round(ln, 6)` as DECIMAL(18,6), scaled by
    * 1e6 — an exact integer-valued decimal, so the long cast cannot
    * diverge between engines), the OLS sums are exact BIGINTs, and
    * the final slope combination runs in DECIMAL(38,0) (HUGEINT on
    * the oracle side) because n*Sxy-style products exceed 2^63.
    * Returns ONE row: (n_terms, neg_slope_mu) with `neg_slope_mu` =
    * 1e6 * -slope, non-negative by construction (freq is
    * non-increasing in rank, so the covariance can't be positive).
    *
    * 100 TB shape: one corpus scan into a (term, freq) keyed agg with
    * map-side combine; the rank/fit stages run on the `limit`-row
    * TakeOrderedAndProject result — the unbounded term set never
    * funnels through a single partition. */
  def zipfSlope(docs: DataFrame, tokens: Column, limit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = docs
      .select(explode(tokens).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(limit)
    def microNat(c: Column): Column =
      (round(log(c.cast("double")), 6).cast("decimal(18,6)") *
        lit(1000000)).cast("long")
    // the window runs on the bounded `limit`-row frame — single
    // partition by design, not an accident
    val ranked = census
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("term"))))
      .select(microNat(col("rank")).as("x"), microNat(col("freq")).as("y"))
    ranked
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_terms"),
        expr("""cast((cast(1000000 as decimal(38,0)) *
            (cast(sx as decimal(38,0)) * sy -
             cast(n_terms as decimal(38,0)) * sxy)) div
            (cast(n_terms as decimal(38,0)) * sxx -
             cast(sx as decimal(38,0)) * sx) as bigint)""")
          .as("neg_slope_mu"))
  }

  /** Per-word symbol counts after `nMerges` merges: (w, n_syms) —
    * the vocabulary-sized table t19 joins back onto the corpus for
    * the tokenizer-fertility readout. */
  def bpeWordSymCounts(docs: DataFrame, tokens: Column, nMerges: Int): DataFrame = {
    val Sep = "\u001f"
    bpeFitCore(docs, tokens, nMerges)._2
      .select(col("w"),
        size(split(col("ws"), Sep + Sep)).cast("long").as("n_syms"))
  }

  /** BPE encoding census: fit `nMerges` merges (same loop as
    * [[bpeFit]]), apply them to the whole vocabulary, and return the
    * encoded corpus's symbol-unigram table (sym, cnt) — how much of
    * the corpus each learned vocabulary entry covers, the standard
    * post-fit tokenizer diagnostic (merge coverage vs residual
    * single characters).
    *
    * 100 TB shape: the fit already holds the fully-ENCODED vocabulary
    * — each round's rewrite IS the encoding step — so applying the
    * merge table costs nothing extra: the census is one explode + one
    * keyed agg over the vocabulary-sized table (never the corpus; the
    * corpus is touched once, in the word-frequency agg). Output is
    * bounded by |alphabet| + nMerges symbols.
    */
  def bpeEncode(docs: DataFrame, tokens: Column, nMerges: Int): DataFrame = {
    val Sep = "\u001f"
    bpeFitCore(docs, tokens, nMerges)._2
      .select(col("freq"),
        explode(transform(split(col("ws"), Sep + Sep),
          x => translate(x, Sep, ""))).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Shared merge-training loop: returns (merge table rows, the
    * vocabulary AFTER all won merges are applied — i.e. the encoded
    * words `(freq, ws)`). The persisted word-frequency base is
    * released before returning; evaluating the encoded vocabulary
    * later recomputes one corpus scan plus nMerges narrow replaces. */
  private def bpeFitCore(docs: DataFrame, tokens: Column, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val Sep = "\u001f"
    val base = docs
      .select(explode(tokens).as("w"))
      .filter(!col("w").contains(Sep))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        regexp_replace(col("w"), "(.)", Sep + "$1" + Sep).as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // AQE stays ON for the merge rounds DELIBERATELY (round-11
    // finding): at test SF the per-round argmax jobs are
    // vocabulary-sized and AQE's stage-by-stage re-planning adds
    // ~25% of t18's wall (measured 1.6s vs 1.9-2.2s with a
    // conf-isolated session clone running the loop AQE-off — the
    // mechanism works, plan root drops AdaptiveSparkPlanExec). Not
    // shipped: at the 100 TB design point the word table is NOT tiny
    // (web-scale corpora carry 10⁸-row vocabularies) and the rounds'
    // pair-count groupBy is exactly where AQE's coalesce/skew
    // handling earns its latency — optimizing the microbench would
    // trade real scale behavior for ~0.3s at sf0.1.
    var words = base
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    // LINEAGE CHECKPOINT CADENCE (round-9 verdict item): each merge
    // stacks a withColumn on the previous round's plan, so an
    // unchecked loop analyzes an O(k)-deep logical tree EVERY round —
    // harmless at m14's 8 merges, quadratic driver cost at a real 32k
    // -merge vocab. Every MergeCheckpointEvery merges the vocabulary
    // is re-materialized onto a single LogicalRDD leaf (Tungsten rows
    // persisted, prior round's blocks released), bounding per-round
    // analysis depth at O(MergeCheckpointEvery) and total driver
    // analysis work at O(k * MergeCheckpointEvery) instead of O(k²).
    // Rewrites are value-identical (same rows, same replaces), so the
    // merge table is byte-equal with or without checkpoints —
    // BpeFitSpec's 64-merge pin crosses 3 checkpoints. The LAST checkpoint's
    // blocks release with `base`: recompute through the RDD lineage
    // stays valid (one corpus scan + k narrow replaces, the
    // documented post-return contract).
    var prevRelease: () => Unit = null
    var sinceCheckpoint = 0
    var exhausted = false
    // BATCHED merge selection (round 16 — the 32k-merge driver
    // ceiling): the sequential spelling ran ONE Spark job per merge
    // (orderBy.limit(1).collect()), fine at m14's 8 merges but 32k
    // driver round-trips at a real vocabulary. Each round now
    // collects the top MergeBatchTopR+1 pairs and accepts a prefix
    // of them driver-side under rules that make the batch EXACTLY
    // the sequence the per-merge argmax would have picked:
    //  1. accepted pairs are pairwise SYMBOL-DISJOINT (share no l,
    //     r, or merged l+r) — disjoint merges neither create nor
    //     destroy each other's adjacencies, so every accepted
    //     pair's pre-round count IS its count at selection time;
    //  2. TRUNCATE the round at the first conflicting entry (its
    //     post-merge count is unknowable without recounting — the
    //     next round recounts and picks it up);
    //  3. TIE-GROUP guard: also stop if any non-accepted entry TIED
    //     with the candidate's count conflicts with an accepted
    //     pair — a merge's fallout (new pairs like (x, l+r)) is
    //     bounded by the count of some entry conflicting with it,
    //     so only a tied conflicting entry could spawn a pair that
    //     outranks the candidate under the (cnt, l, r) order;
    //  4. HORIZON guard: a candidate's tie group must be fully
    //     inside the collected list (its count must exceed the last
    //     collected entry's), else rule 3 can't be checked.
    // The first entry of every round is the exact argmax and is
    // always accepted, so progress is >= 1 merge/round and the
    // worst case (all ties/conflicts) degenerates to the sequential
    // behavior. BpeFitSpec pins batch-vs-sequential equality on
    // adversarial tie/cascade corpora; m14's oracle is the unrolled
    // sequential twin, so the hash pins it end to end.
    var rounds = 0
    // all merged-symbol names created so far (any round) — the
    // name-collision guard's lookup set
    val mergeNames = scala.collection.mutable.Set.empty[String]
    while (merges.size < nMerges && !exhausted) {
      rounds += 1
      val top = words
        .select(col("freq"),
          transform(split(col("ws"), Sep + Sep),
            x => translate(x, Sep, "")).as("syms"))
        .select(col("freq"), col("syms"),
          posexplode(slice(col("syms"), lit(1), size(col("syms")) - 1)))
        .select(col("freq"), col("col").as("l"),
          element_at(col("syms"), col("pos") + 2).as("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(MergeBatchTopR + 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true // no adjacent pairs left anywhere
      else {
        val seesBottom = top.length <= MergeBatchTopR // list is exhaustive
        val touched = scala.collection.mutable.Set.empty[String]
        // merged-form lookups for the tie-hazard refinement: an
        // accepted (l_j, r_j) turns "x l_j" adjacencies into
        // (x, l_j+r_j) and "r_j y" ones into (l_j+r_j, y)
        val mergedOfL = scala.collection.mutable.Map.empty[String, String]
        val mergedOfR = scala.collection.mutable.Map.empty[String, String]
        val acceptedKeys = scala.collection.mutable.Set.empty[(String, String)]
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        // UTF8String byte order — the engine's string sort order the
        // (cnt, l, r) argmax tie-break uses
        def bLt(a: String, b: String): Boolean = {
          val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
          var i = 0
          while (i < x.length && i < y.length) {
            val d = (x(i) & 0xff) - (y(i) & 0xff)
            if (d != 0) return d < 0
            i += 1
          }
          x.length < y.length
        }
        var open = true
        for ((l, r, c) <- top if open && merges.size + accepted.size < nMerges) {
          val conflict = touched(l) || touched(r)
          // TIE-HAZARD (rule 3, refined): a tied conflicting entry f
          // can spawn a pair whose count is bounded by cnt(f) == c —
          // dangerous ONLY if the spawned pair's NAME would outrank
          // (l, r) under the lex tie-break. Both of f's sides may
          // appear in merged form after this batch applies, so every
          // raw/merged combination is checked (checking the raw side
          // alone is not conservative: "z" sorts after "az").
          val tieHazard = accepted.nonEmpty && {
            (!seesBottom && top.last._3 == c) || // group may extend past horizon
              top.exists { case (tl, tr, tc) =>
                tc == c && !acceptedKeys((tl, tr)) &&
                  (touched(tl) || touched(tr)) && {
                    val lefts = Seq(tl) ++ mergedOfR.get(tl)
                    val rights = Seq(tr) ++ mergedOfL.get(tr)
                    lefts.exists(cl => rights.exists(cr =>
                      (cl != tl || cr != tr) && // raw f rides its own list slot
                        (bLt(cl, l) || (cl == l && bLt(cr, r)))))
                  }
              }
          }
          if (conflict || tieHazard) open = false
          else {
            accepted += ((l, r, c))
            acceptedKeys += ((l, r))
            touched ++= Seq(l, r, l + r)
            mergedOfL(l) = l + r
            mergedOfR(r) = l + r
            // NAME-COLLISION guard: if the merged name equals a symbol
            // an EARLIER merge already created (two derivations of the
            // same string, e.g. a+xy and ax+y both "axy"), pairs
            // involving that name gain count from BOTH populations and
            // the created-pair bounds above stop holding. Accepting
            // the pair itself is still exact (it is the argmax at its
            // turn), but further lookahead is not — close the round
            // and let the next round recount. Single-code-point base
            // symbols can never collide with a ≥2-code-point
            // concatenation, so checking merge names suffices.
            if (mergeNames(l + r)) open = false
            mergeNames += l + r
          }
        }
        for ((l, r, c) <- accepted) {
          merges += ((merges.size + 1L, l, r, c))
          words = words.withColumn("ws",
            replace(col("ws"), lit(Sep + l + Sep + Sep + r + Sep),
              lit(Sep + l + r + Sep)))
        }
        sinceCheckpoint += accepted.size
        if (sinceCheckpoint >= MergeCheckpointEvery && merges.size < nMerges) {
          val (w, release) = org.apache.spark.sql.graftbridge.DatasetBridge
            .materialized(words, it => while (it.hasNext) it.next())
          if (prevRelease != null) prevRelease()
          prevRelease = release
          words = w
          sinceCheckpoint = 0
        }
      }
    }
    if (prevRelease != null) prevRelease()
    base.unpersist(blocking = false)
    lastFitRounds = rounds
    (merges.toSeq, words)
  }

  /** Pair-count rounds (= Spark argmax jobs) the most recent
    * [[bpeFitCore]] run took — diagnostics for the ScaleProbe bpe
    * mode only (merges/round is the batching win over the one-job-
    * per-merge sequential spelling). */
  @volatile private[graft] var lastFitRounds: Int = 0

  /** Merges between vocabulary re-materializations in [[bpeFitCore]]'s
    * training loop (see the lineage-checkpoint comment there). */
  private val MergeCheckpointEvery = 16

  /** Pair-count entries collected per batched merge round in
    * [[bpeFitCore]] (one extra is fetched as the horizon sentinel).
    * Each round costs one Spark job regardless of how many merges it
    * accepts, so a 32k-merge fit needs ~32k/accepted jobs instead of
    * 32k; the collect stays a bounded driver pull (≤ 257 small rows). */
  private val MergeBatchTopR = 256

  /** TOKEN-BUDGET WATER-FILLING — the allocation a training mix runs
    * when the corpus exceeds the token budget: find the unique water
    * level L such that capping every source at L spends the budget,
    * i.e. Σ_s min(n_s, L) ≤ B < Σ_s min(n_s, L+1), keep small
    * sources whole, cap the big ones at L, and hand the integer
    * remainder B − Σ min(n_s, L) one token each to the capped
    * sources in source order (deterministic). B = total div 2 here —
    * a fixed fraction keeps the query self-contained; production
    * passes an absolute budget.
    *
    * Closed form, not iteration: sort sources by (n_s, source); a
    * source i is UNCAPPED iff serving everything up to it and
    * leveling the rest at n_i fits the budget
    * (cum_{i−1} + (S−i+1)·n_i ≤ B — monotone in i, so the uncapped
    * set is a prefix); L and the remainder then fall out of one
    * integer division against the prefix maximum. Everything after
    * the per-source token agg is window algebra over the S-row
    * census — the windows are single-partition BY DESIGN and bounded
    * by the source DIMENSION (like the t36 16-cell grid), not by
    * corpus rows; the corpus itself contributes exactly one keyed
    * agg. Output: (source, n_tokens, alloc, capped), with
    * Σ alloc = min(B, total) — the invariant TokenBudgetSpec pins. */
  def tokenBudgetAllocation(docs: DataFrame, srcCol: String,
                            tokens: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = docs
      .select(col(srcCol).as("source"), size(tokens).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val wAsc = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val wAll = Window.partitionBy()
    val ranked = census.select(col("source"), col("n_tokens"),
        sum(col("n_tokens")).over(
          wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum"),
        row_number().over(wAsc).as("i"),
        count(lit(1)).over(wAll).as("s_cnt"),
        sum(col("n_tokens")).over(wAll).as("total"))
      .withColumn("budget", expr("total div 2"))
      .withColumn("uncapped",
        col("cum") - col("n_tokens") +
          (col("s_cnt") - col("i") + 1L) * col("n_tokens") <= col("budget"))
    val scal = ranked.agg(
      max(when(col("uncapped"), col("i"))).as("istar"),
      max(when(col("uncapped"), col("cum"))).as("cumstar")).select(
      coalesce(col("istar"), lit(0L)).cast("long").as("istar"),
      coalesce(col("cumstar"), lit(0L)).as("cumstar"))
    val joined = ranked.crossJoin(broadcast(scal)) // 1-row scalar, the q39 class
      .withColumn("denom", col("s_cnt") - col("istar"))
      .withColumn("level",
        when(col("denom") > 0L,
          expr("(budget - cumstar) div denom")).otherwise(lit(0L)))
      .withColumn("rem",
        when(col("denom") > 0L,
          expr("(budget - cumstar) % denom")).otherwise(lit(0L)))
      .withColumn("capped", !col("uncapped"))
    val wCap = Window.partitionBy(col("capped")).orderBy(col("source").asc)
    joined
      .withColumn("rcap", row_number().over(wCap).cast("long"))
      .select(col("source"), col("n_tokens"),
        when(!col("capped"), col("n_tokens"))
          .otherwise(col("level") +
            when(col("rcap") <= col("rem"), 1L).otherwise(0L)).as("alloc"),
        col("capped"))
  }

  /** DETERMINISTIC GLOBAL TRAINING ORDER — the seeded corpus shuffle
    * a training run fixes before packing batches: every document gets
    * a dense position 0..n−1 in the order of `md5(seed ":" id)`
    * (id-tiebroken), reproducible across runs, clusters, and engines.
    *
    * The scale point is HOW the dense index is assigned. The naive
    * spelling — `row_number()` over a global ORDER BY — plans as a
    * single-partition window: one task sees all n rows, which is
    * exactly the 100 TB anti-pattern. Here the hash key's first two
    * hex chars bucket rows into 256 ranges whose lexicographic order
    * IS the global key order (a prefix is order-consistent), so:
    *   1. a 256-row census (bucket → count) computes each bucket's
    *      global offset IN-PLAN: offset(b) = Σ count(b') over b' < b,
    *      spelled as a triangular broadcast self-join of the census
    *      with itself (256×256 comparisons — trivial, fully parallel,
    *      and crucially free of both a driver collect and a
    *      SinglePartition window, so construction stays LAZY and the
    *      census scan is always inside the timed/benched action);
    *   2. positions are offset + (per-bucket rank − 1), ranked by a
    *      Window PARTITIONED on the bucket — 256 bounded partitions
    *      of ~n/256 rows each, fully parallel;
    *   3. batch_id = pos div batchRows falls out for free.
    * The input is scanned twice (census subtree + ranked pass) — the
    * unavoidable price of a dense global index without a global sort;
    * both scans are lazy and belong to the caller's one action.
    * MD5 is uniform enough that no bucket exceeds ~1.2× the mean on
    * real ids; for adversarial skew, widen the prefix to 3-4 chars
    * (4096/65536 buckets) — the census stays broadcast-bounded. */
  def globalTrainOrder(docs: DataFrame, idCol: String, seed: String,
                       batchRows: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val keyed = docs.select(col(idCol), key.as("_k"),
      substring(key, 1, 2).as("_b"))
    val counts = keyed.groupBy(col("_b")).agg(count(lit(1)).as("n"))
    val pred = counts.select(col("_b").as("_b2"), col("n").as("n2"))
    // offset(b) = sum of counts over lexicographically smaller buckets
    // (a hex prefix is order-consistent with the full key); left join
    // keeps the first bucket (no smaller neighbor) at offset 0
    val offDf = counts
      .join(broadcast(pred), col("_b2") < col("_b"), "left")
      .groupBy(col("_b"))
      .agg(coalesce(sum(col("n2")), lit(0L)).as("_off"))
    val w = Window.partitionBy(col("_b")).orderBy(col("_k"), col(idCol))
    keyed.join(broadcast(offDf), Seq("_b"))
      .select(col(idCol),
        (col("_off") + row_number().over(w) - 1L).as("pos"))
      .select(col(idCol), col("pos"),
        expr(s"pos div $batchRows").as("batch_id"))
  }

  /** TOKEN-BUDGET SHARD MANIFEST — the write-side twin of
    * [[globalTrainOrder]]: docs are laid out in the same seeded
    * global order and cut into contiguous shards of ~`targetTokens`
    * tokens each, documents kept atomic (a doc belongs to the shard
    * where its cumulative-token prefix starts, so shards overflow by
    * at most one document — the standard greedy doc-atomic fill every
    * sharded-training-data writer uses). The emitted MANIFEST — one
    * row per shard with document count, token mass, and the
    * [first_pos, last_pos] position range — is what a downstream
    * loader needs to seek without reading data files.
    *
    * Scale shape: the naive spelling is a cumulative `sum() OVER
    * (ORDER BY key)` — a SinglePartition window over all n rows, the
    * same anti-pattern [[globalTrainOrder]] kills for row ranks, here
    * applied to a measure. Same cure: the 2-hex-char key prefix
    * buckets rows into 256 ranges ordered like the full key; a
    * 256-row census (per-bucket row AND token totals) yields each
    * bucket's global row/token offsets via the triangular broadcast
    * self-join (in-plan, lazy, no driver collect); within a bucket a
    * partitioned running sum finishes the prefix. Two lazy scans of
    * the input (census + ranked pass), both inside the caller's one
    * action; everything after the token-count projection moves
    * (id, n) pairs only — the text never shuffles.
    *
    * Precondition: `tokens` must be non-null per row (Spark's
    * `size(null)` is -1 where SQL `len(null)` is NULL — a null text
    * row would skew the prefix). The documents fixture guarantees
    * this; callers with nullable text filter first. */
  def shardManifest(docs: DataFrame, idCol: String, tokens: Column,
                    seed: String, targetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetTokens > 0, "targetTokens must be positive")
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val keyed = docs.select(col(idCol), size(tokens).cast("long").as("_n"),
      key.as("_k"), substring(key, 1, 2).as("_b"))
    val counts = keyed.groupBy(col("_b"))
      .agg(count(lit(1)).as("rows"), sum(col("_n")).as("toks"))
    val pred = counts.select(col("_b").as("_b2"),
      col("rows").as("r2"), col("toks").as("t2"))
    val offDf = counts
      .join(broadcast(pred), col("_b2") < col("_b"), "left")
      .groupBy(col("_b"))
      .agg(coalesce(sum(col("r2")), lit(0L)).as("_roff"),
        coalesce(sum(col("t2")), lit(0L)).as("_toff"))
    val w = Window.partitionBy(col("_b")).orderBy(col("_k"), col(idCol))
    // explicit ROWS frame: the default RANGE frame would pool tied
    // (_k, id) rows into one cumulative value — (_k, id) is unique
    // today, but the oracle spells ROWS and so must we
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = keyed.join(broadcast(offDf), Seq("_b"))
      .select(col(idCol), col("_n"),
        (col("_roff") + row_number().over(w) - 1L).as("pos"),
        // cumulative tokens BEFORE this doc in global key order
        (col("_toff") + sum(col("_n")).over(wRows) - col("_n")).as("_cumb"))
      .withColumn("shard_id", expr(s"_cumb div ${targetTokens}L"))
    cum.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("n_tokens"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
  }
}
