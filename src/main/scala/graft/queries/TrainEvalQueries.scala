package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.{LangMarkers, SparkEntry}
import graft.QuerySupport._
import graft.functions.TextOps
import graft.operators.{CorpusOps, DedupOps, DetParams, GraphOps, SimilarityOps, SketchOps}

/** Train/eval suite: vocab, LR fit, NB fit, χ² keywords, AUC, calibration, confusion, P/R/F1, BPE merge training.
  *
  * Split from [[graft.SparkEntry]] (round 6, hygiene item): entry
  * bodies are byte-identical to the pre-split map; QueryRegistrySpec
  * proves family disjointness and exact oracle key coverage.
  */
private[graft] object TrainEvalQueries {
  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // evaluation: confusion matrix of the t3 language-ID heuristic
    // against the labeled lang column — one keyed aggregate over the
    // (actual, predicted) pairs; the per-class quality readout every
    // classifier eval starts with (m10/m11's categorical sibling)
    "m12_confusion" -> ((s, dir) => langConfusion(s, dir)),


    // per-class precision / recall / F1 from the m12 matrix, as
    // BIGINT micro-units via integer div — ratios of integer counts
    // are exactly the tie-prone quantity float round(x, 6) mishandles
    // (the q29 lesson), and integer arithmetic is engine-stable by
    // construction. F1 spelled 2·tp div (n_pred + n_actual) since
    // n_pred + n_actual = 2·tp + fp + fn.
    // real BPE vocabulary fit: 8 greedy pair merges over the corpus
    // word frequencies (t5 counts merge CANDIDATES; this trains the
    // merge table itself — the m7 LR-refit loop applied to tokenization)
    "m14_bpe_fit" -> ((s, dir) =>
      graft.operators.CorpusOps.bpeFit(
        t(s, dir, "documents"), cleanTokens, nMerges = 8)),


    // TRAINING SCALING CURVE: the data-sizing eval a training
    // pipeline runs before committing corpus budget — fit the m7 LR
    // on nested 25%/50%/100% deterministic subsamples of the train
    // folds (md5-residue split: r=0 is the held-out eval fold; the
    // sub-residue orders the pool so smaller fractions are strict
    // subsets of larger ones), then score each fit on the SAME eval
    // fold. Per fraction: one m7-shape fit (k gradient cells to the
    // driver per step) + one counting agg — constant driver state,
    // 3x the m7 cost at any corpus size, accuracy in integer
    // micro-units.
    "m16_scaling_curve" -> ((s, dir) => {
      val feats = lrFitFeaturesSplit(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // r17: ONE gradient pass per iteration for ALL fractions and
        // ONE scoring pass for all three fits — the sequential
        // per-fraction spelling was 18 tiny driver round-trips
        // (3 × (empty-check + 3 gradient aggs + count + score)) on a
        // persisted table, i.e. pure scheduler latency. The nested
        // fit's conditional sums are value-identical (DECIMAL/
        // integer-quantized per-row contributions, exact order-free
        // sums — NestedFitSpec pins weights bit-identical); the
        // empty-fold fail-loudly check moves into the first gradient
        // pass (logisticFitWeightsNested) and the eval check below.
        val fits = CorpusOps.logisticFitWeightsNested(
          feats.filter(col("r") =!= 0), "y", LrFitCols, "sub",
          Seq(25, 50, 100), iters = 3, lr = 0.5)
        val evalSet = feats.filter(col("r") === 0)
        val cells = fits.zipWithIndex.map { case ((_, _, w), fi) =>
          val z = LrFitCols.zip(w.toSeq).map { case (c, wi) => lit(wi) * col(c) }
            .reduceLeft(_ + _)
          val pred = when(
            round(lit(1.0) / (lit(1.0) + exp(-z)), 6) >= 0.5, 1.0)
            .otherwise(0.0)
          sum(when(pred === col("y"), 1L).otherwise(0L)).as(s"c$fi")
        } :+ count(lit(1)).as("n_eval")
        val scored = evalSet.agg(cells.head, cells.tail: _*).head()
        val nEval = scored.getLong(fits.size)
        require(nEval > 0, "m16: empty eval fold")
        val rows = fits.zipWithIndex.map { case ((frac, nTrain, w), fi) =>
          (frac.toLong, nTrain, nEval, scored.getLong(fi),
            w(0), w(1), w(2), w(3))
        }
        import s.implicits._
        rows.toDF("frac_pct", "n_train", "n_eval", "n_correct",
            "w_xb", "w_x1", "w_x2", "w_x3")
          .withColumn("acc_mu", expr("(1000000 * n_correct) div n_eval"))
      } finally { feats.unpersist(blocking = false); () }
    }),

    "m13_prf" -> ((s, dir) => {
      // cm feeds three consumers (act/prd/tp) on DIFFERENT keys, so
      // exchange reuse cannot cover them — persist the <=25-row
      // matrix instead of tokenizing the corpus three times (released
      // by the query loop's sweep, [[graft.SparkEntry.releasePersisted]])
      val cm = langConfusion(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val act = cm.groupBy(col("lang")).agg(sum(col("n")).as("n_actual"))
      val prd = cm.groupBy(col("pred_lang")).agg(sum(col("n")).as("n_pred"))
      val tp = cm.filter(col("lang") === col("pred_lang"))
        .select(col("lang"), col("n").as("tp"))
      act
        .join(tp, Seq("lang"), "left_outer")
        .join(prd.withColumnRenamed("pred_lang", "lang"), Seq("lang"), "left_outer")
        .select(col("lang"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          col("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          expr("(1000000 * coalesce(tp, 0L)) div nullif(coalesce(n_pred, 0L), 0)")
            .as("precision_u"),
          expr("(1000000 * coalesce(tp, 0L)) div n_actual").as("recall_u"),
          expr("(2000000 * coalesce(tp, 0L)) div (coalesce(n_pred, 0L) + n_actual)")
            .as("f1_u"))
    }),


    // corpus vocabulary + idf (training-side CountVectorizer/IDF twin)
    "m6_vocab" -> ((s, dir) =>
      CorpusOps.vocabularyWithIdf(
        t(s, dir, "documents"), "doc_id", cleanTokens, limit = 500)),


    // distributed re-fit of the reference's LogisticRegression stage
    // (full-batch gradient descent, 3 steps at lr 0.5; quality
    // features -> is-English target). One map-reduce pass per step;
    // only k gradient cells reach the driver. Deterministic to the
    // bit across engines and cluster sizes (see logisticFitWeights).
    "m7_lr_fit" -> ((s, dir) => {
      val w = CorpusOps.logisticFitWeights(
        lrFitFeatures(s, dir), "y", LrFitCols, iters = 3, lr = 0.5)
      import s.implicits._
      Seq(("bias", w(0)), ("x1", w(1)), ("x2", w(2)), ("x3", w(3)))
        .toDF("feature", "weight")
    }),


    // exact ROC-AUC of the m7-fit classifier WITHOUT a global row
    // sort: scores quantize to 6 dp, so the rank pass runs over the
    // score HISTOGRAM — distinct scores are bounded by quantization
    // (≤ 1e6 + 1 rows) at ANY corpus size, so the ordered window here
    // is a bounded constant, not an unpartitioned-window scale hazard.
    // AUC = P(score₊ > score₋) + P(tie)/2 via the Mann–Whitney U
    // statistic; the numerator stays integer (2·U) until one final
    // division, so the value is bit-deterministic across engines and
    // cluster sizes.
    "m10_auc" -> ((s, dir) => {
      val feats = lrFitFeatures(s, dir)
      val w = CorpusOps.logisticFitWeights(feats, "y", LrFitCols,
        iters = 3, lr = 0.5)
      val z = LrFitCols.zip(w).map { case (c, wi) => lit(wi) * col(c) }
        .reduceLeft(_ + _)
      val hist = feats
        .select(col("y"), round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
        .groupBy(col("p"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") === 1.0, 0L).otherwise(1L)).as("nn"))
      val cum = Window.orderBy(col("p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cumneg", sum(col("nn")).over(cum) - col("nn"))
        .agg(sum(col("np") * (lit(2L) * col("cumneg") + col("nn"))).as("u2"),
          sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
        .select((col("u2") / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"),
          col("n_pos"), col("n_neg"))
    }),


    // multinomial Naive Bayes fit over the token stream (class =
    // lang): add-one-smoothed conditionals + class priors, top-10
    // terms per class. All key-partitioned aggs with map-side
    // combine; class totals fold from the (class, term) counts.
    "m8_nb_fit" -> ((s, dir) =>
      CorpusOps.naiveBayesModel(
        t(s, dir, "documents"), "lang", cleanTokens, topK = 10)),


    // class-indicative keywords (χ² feature selection over the doc-
    // frequency contingency table): for each (lang, term) with support
    // ≥ 5, the χ² statistic of term-presence vs class, top 5 terms per
    // class. All four contingency cells derive from three key-
    // partitioned aggregations (term×class, term, class) plus a 1-row
    // doc total riding a broadcast — nothing is ever per-pair. The
    // per-class top-k is a class-keyed window, and χ² is rounded to
    // 6 dp before the ordering so the selection is engine-stable.
    "m9_chi2_keywords" -> ((s, dir) => {
      // the lang-key join pushes isnotnull(lang) into ITS copy of the
      // token scan; filtering here puts the same predicate on every
      // consumer, so the (lang, term) exchange stays canonically equal
      // across the tt branch and the join branch and AQE reuses it
      // (one tokenize pass instead of two)
      val d = t(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .select(col("lang"), array_distinct(cleanTokens).as("toks"))
      val pres = d.select(col("lang"), explode(col("toks")).as("w"))
      val tc = pres.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("a"))
      val tt = tc.groupBy(col("w")).agg(sum(col("a")).as("t"))
      val ct = d.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val nn = d.agg(count(lit(1)).as("n"))
      // dev = a*d - b*c of the 2x2 table, spelled identically in the
      // oracle: double * long products, left-assoc
      val dev = col("a").cast("double") *
          (col("n") - col("c") - col("t") + col("a")) -
        (col("c") - col("a")).cast("double") * (col("t") - col("a"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("chi2").desc, col("w"))
      tc.filter(col("a") >= 5)
        .join(tt, "w").join(broadcast(ct), "lang").crossJoin(broadcast(nn))
        // a term present in EVERY doc has a degenerate 2x2 table
        // (n - t = 0 → 0/0): drop it, identically in the oracle
        .filter(col("t") < col("n"))
        .select(col("lang"), col("w"), col("a"),
          round(col("n").cast("double") * dev * dev /
            (col("c").cast("double") * (col("n") - col("c")) *
              col("t") * (col("n") - col("t"))), 6).as("chi2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("w"), col("a"), col("chi2"))
    }),


    // calibration curve (reliability diagram) of the m7-fit
    // classifier: bucket predictions by percent, compare mean predicted
    // probability to the observed positive rate. One key-partitioned
    // aggregate over the scored stream; DECIMAL sums keep the means
    // order-free. The eval twin of m10's discrimination measure.
    "m11_calibration" -> ((s, dir) => {
      val feats = lrFitFeatures(s, dir)
      val w = CorpusOps.logisticFitWeights(feats, "y", LrFitCols,
        iters = 3, lr = 0.5)
      val z = LrFitCols.zip(w).map { case (c, wi) => lit(wi) * col(c) }
        .reduceLeft(_ + _)
      feats
        .select(col("y"), round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
        .withColumn("bucket",
          least(floor(col("p") * 100).cast("long"), lit(99L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(col("p").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_pred"),
          (sum(col("y").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("pos_rate"))
    }),

    // EXPECTED CALIBRATION ERROR — the scalar m11's curve summarizes
    // to (the standard "can I trust the probabilities" readout):
    // ECE = Σ_b (n_b/N)·|mean_pred_b − pos_rate_b|. Fully integer by
    // algebra: the per-bucket term is |Σp − Σy|/N after the n_b
    // cancels, so the whole statistic is one abs-difference of exact
    // micro-unit sums and ONE final division — no per-bucket division
    // anywhere, hence no rounding accumulation at any corpus size.
    // Same scored stream as m11 (same fit, same 100 buckets).
    "m17_ece" -> ((s, dir) => {
      val feats = lrFitFeatures(s, dir)
      val w = CorpusOps.logisticFitWeights(feats, "y", LrFitCols,
        iters = 3, lr = 0.5)
      val z = LrFitCols.zip(w).map { case (c, wi) => lit(wi) * col(c) }
        .reduceLeft(_ + _)
      feats
        .select(col("y"), round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"))
        .withColumn("bucket",
          least(floor(col("p") * 100).cast("long"), lit(99L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(col("p").cast("decimal(18,6)")) * 1000000).cast("long")
            .as("sp_mu"),
          sum(col("y")).cast("long").as("sy"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_buckets"),
          sum(abs(col("sp_mu") - col("sy") * lit(1000000L))).as("dev_mu"))
        .select(col("n_docs"), col("n_buckets"),
          expr("dev_mu div n_docs").as("ece_mu"))
    }),

    // PRECISION/RECALL THRESHOLD SWEEP — the deployment-side readout
    // the m10 AUC summarizes away: before shipping a classifier you
    // pick an operating point, and this is the table you pick it
    // from. Scores quantize to exact micro-units (the m17 recipe),
    // thresholds ride one narrow explode over the scored stream (3x
    // bounded row growth, ONE corpus pass), and the ratios are
    // integer micro-unit divisions with explicit empty-cell guards
    // (a threshold above every score must report 0, not NULL/error).
    "m18_pr_thresholds" -> ((s, dir) => {
      val feats = lrFitFeatures(s, dir)
      val w = CorpusOps.logisticFitWeights(feats, "y", LrFitCols,
        iters = 3, lr = 0.5)
      val z = LrFitCols.zip(w).map { case (c, wi) => lit(wi) * col(c) }
        .reduceLeft(_ + _)
      feats
        .select(col("y"),
          (round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
            .cast("decimal(18,6)") * 1000000).cast("long").as("p_mu"))
        .select(col("y"), col("p_mu"),
          explode(array(lit(300000L), lit(500000L), lit(700000L)))
            .as("thr_mu"))
        .groupBy(col("thr_mu"))
        .agg(sum(when(col("p_mu") >= col("thr_mu"), 1L).otherwise(0L))
            .as("n_pred_pos"),
          sum(when(col("p_mu") >= col("thr_mu") && col("y") === 1.0, 1L)
            .otherwise(0L)).as("n_tp"),
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"))
        .select(col("thr_mu"), col("n_pred_pos"), col("n_tp"), col("n_pos"),
          expr("CASE WHEN n_pred_pos = 0 THEN 0L " +
            "ELSE (1000000 * n_tp) div n_pred_pos END").as("prec_mu"),
          expr("CASE WHEN n_pos = 0 THEN 0L " +
            "ELSE (1000000 * n_tp) div n_pos END").as("rec_mu"))
    }),

    // kNN-classifier eval (SimilarityOps.knnClassifyEval): per-class
    // accuracy of a majority-vote 5-NN classifier over the embedding
    // space — the standard "does the space separate the labels" probe.
    // Query set is a deterministic 1-in-5 sample (broadcast); the
    // corpus never shuffles; the vote winner is a min over a
    // (−count, label) struct so no per-query sort exists.
    "m15_knn_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // BOUNDED eval set (the s1/s11 broadcast-query discipline): the
      // residue alone is a corpus FRACTION, so both join sides would
      // grow with the corpus — quadratic work (measured 15.9x wall at
      // 10x data in the r14 sf1 sweep). vec_id < 2000 covers every
      // vector at all test SFs (hash-identical) while pinning the
      // eval set at scale — an eval holdout is a constant of the
      // experiment, not a corpus fraction.
      SimilarityOps.knnClassifyEval(
        e, e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 2000),
        "vec_id", "embedding", "label", k = 5)
    }),

    // McNEMAR'S TEST (continuity-corrected) of the t3 heuristic
    // against the majority-class baseline (predict the corpus's most
    // frequent lang for every doc) on the SAME documents — the
    // paired significance readout accuracy deltas lack: b = heuristic
    // right where baseline wrong, c = the reverse, chi² =
    // (|b−c|−1)²/(b+c). Exactly integer: counts are exact, the
    // square stays in BIGINT (b,c <= n), one final micro-division
    // with the b+c=0 guard. One corpus scan + a 1-row broadcast of
    // the majority class (TakeOrdered over the lang census).
    "m22_mcnemar" -> ((s, dir) => {
      val preds = t(s, dir, "documents")
        .select(col("lang"), langPredCol.as("pred_lang"))
      val major = preds.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang"))
        .limit(1)
        .select(col("lang").as("major_lang"))
      preds.crossJoin(broadcast(major))
        .select(
          (col("pred_lang") === col("lang")).cast("long").as("h_ok"),
          (col("major_lang") === col("lang")).cast("long").as("b_ok"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("h_ok") * (lit(1L) - col("b_ok"))).as("b"),
          sum((lit(1L) - col("h_ok")) * col("b_ok")).as("c"))
        .select(col("n_docs"), col("b"), col("c"),
          // the squared term is n²-scale: DECIMAL(38,0) like
          // m21/t28 (HUGEINT on the oracle side); non-negative, so
          // truncating div == the oracle's floor //
          expr("CASE WHEN b + c = 0 THEN 0L ELSE " +
            "cast((cast(1000000 as decimal(38,0)) * (abs(b - c) - 1) " +
            "* (abs(b - c) - 1)) div (b + c) as bigint) END")
            .as("chi2_mu"))
    }),

    // COHEN'S KAPPA: chance-corrected agreement between the t3
    // heuristic and the labels — the one-number summary raw accuracy
    // (m12/m13's po) overstates when the class mix is skewed:
    // kappa = (po - pe)/(1 - pe) with pe = Σ row_i·col_i / n².
    // Exactly integer: kappa_mu = 1e6·(n·Σdiag - Σrᵢcᵢ) div
    // (n² - Σrᵢcᵢ), with the n²-scale products in DECIMAL(38,0)
    // (HUGEINT on the oracle side, the t28 device — n² exceeds 2^63
    // past ~3e9 documents). Three folds over the <= 25-row persisted
    // confusion matrix (the m13 release discipline), nothing above
    // matrix size ever moves.
    "m21_cohens_kappa" -> ((s, dir) =>
      graft.operators.CorpusOps.cohensKappaFromMatrix(
        langConfusion(s, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        "lang", "pred_lang", "n")),

    // HASH-REPLICATE ACCURACY BANDS: the metric-stability readout a
    // single point estimate (m12/m13) hides — the t3 heuristic's
    // accuracy over 10 deterministic ~50% md5-residue subsamples
    // (the m16/t23 salted-residue device; bootstrap-style bands
    // without nondeterministic resampling). One corpus scan; the
    // 10x explode rides tiny (doc_id, ok) rows, never text; exact
    // integer counts per replicate.
    "m20_bootstrap_acc" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          (col("lang") === langPredCol).cast("long").as("ok"))
        .select(col("doc_id"), col("ok"),
          explode(sequence(lit(0L), lit(9L))).as("rep"))
        .filter(pmod(graft.operators.DedupOps.md5Hash32(
          concat(col("doc_id").cast("string"), lit(":m20:"),
            col("rep").cast("string"))), lit(2)) === 0)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
        .select(col("rep"), col("n_docs"), col("n_correct"),
          expr("(1000000 * n_correct) div n_docs").as("acc_mu"))),

    // NDCG@5 of label-match retrieval (SimilarityOps.ndcgAtK): the
    // rank-aware companion to m15's vote accuracy — same 1-in-5
    // query sample, same exact-cosine top-5, but graded by WHERE the
    // same-label hits land (frozen micro-unit log2 discounts, exact
    // BIGINT sums, integer divisions; semantics on the operator).
    "m19_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // bounded eval set — see m15_knn_eval (11.0x at 10x data before)
      SimilarityOps.ndcgAtK(
        e, e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 2000),
        "vec_id", "embedding", "label", k = 5)
    })
  )
}
