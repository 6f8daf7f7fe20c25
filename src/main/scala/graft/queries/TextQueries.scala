package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.{LangMarkers, SparkEntry}
import graft.QuerySupport._
import graft.functions.TextOps
import graft.operators.{CorpusOps, DedupOps, DetParams, GraphOps, SimilarityOps, SketchOps}

/** Text-analysis / corpus operators over the documents table: token stats, quality, language ID, fingerprints, chunking, packing, source mixing.
  *
  * Split from [[graft.SparkEntry]] (round 6, hygiene item): entry
  * bodies are byte-identical to the pre-split map; QueryRegistrySpec
  * proves family disjointness and exact oracle key coverage.
  */
private[graft] object TextQueries {

  /** The id-bigram census tail shared by t21 (inline encode) and t24
    * (stored round-trip) over a frame with a `token_ids` int-array
    * column — ONE spelling, mirroring the oracle side's single
    * `idBigramCensusSql` (a tweak to the tie-break/cast/limit lands
    * in both queries or the stored-vs-inline proof means nothing). */
  private def idBigramCensus(enc: DataFrame): DataFrame =
    enc.filter(size(col("token_ids")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("token_ids")) - 1),
        i => struct(
          element_at(col("token_ids"), i).cast("long").as("l_id"),
          element_at(col("token_ids"), i + 1).cast("long").as("r_id"))))
        .as("b"))
      .groupBy(col("b.l_id").as("l_id"), col("b.r_id").as("r_id"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("l_id"), col("r_id"))
      .limit(50)

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // token statistics (token counting)
    "t1_token_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_uniq"),
          length(concat_ws("", col("toks"))).as("n_alpha_chars"))),


    // quality scoring: ratios from exact integer counts (IEEE-exact)
    "t2_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), cleanTokens.as("toks"))
        .select(
          col("doc_id"),
          (length(regexp_replace(col("text"), "[^A-Za-z]", "")) /
            nullif(length(col("text")), lit(0))).as("alpha_ratio"),
          (size(TextOps.removeStopWords(col("toks"))).cast("double") /
            nullif(size(col("toks")), lit(0))).as("content_ratio"),
          (length(concat_ws("", col("toks"))).cast("double") /
            nullif(size(col("toks")), lit(0))).as("avg_token_len"))),


    // language ID: marker-word scoring with deterministic argmax
    // (the single langPredCol definition m12/m13 also consume)
    "t3_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), langPredCol.as("pred_lang"))),


    // document fingerprinting: full-content hash + min-shingle hash
    "t4_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .select(
          col("doc_id"),
          md5(concat_ws(" ", col("toks"))).as("fp"),
          when(size(col("toks")) >= 3,
            array_min(transform(
              sequence(lit(0), size(col("toks")) - 3),
              i => md5(concat_ws(" ",
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2),
                element_at(col("toks"), i + 3))))))
            .as("min_shingle_fp"))),


    // BPE-ish regex token count (letters runs | digit runs | symbols)
    "t5_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .as("n_bpe"))),


    // winnowing rolling-hash fingerprint (min of 8-char window hashes)
    "t6_rolling_fp" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), DedupOps.rollingFingerprint(col("text")).as("roll_fp"))),


    // deterministic corpus subsample: keep docs whose content hash
    // lands in a fixed residue class — reproducible across runs and
    // cluster sizes (unlike rand()-based sample), narrow, no shuffle
    "t7_det_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(pmod(DedupOps.md5Hash32(col("text")), lit(10)) === 0)
        .select(col("doc_id"), col("lang"))),


    // sequence packing for training: docs go into 32 hash buckets,
    // each bucket packs greedily (in doc_id order) into 4096-token
    // bins via a running token count. The window is partitioned by
    // bucket, so state and sort are per-bucket — scales with buckets
    // x executors, never a global sort (the bucket count would be
    // sized ~ cluster parallelism at 100 TB)
    "t8_seq_pack" -> ((s, dir) => {
      val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          pmod(DedupOps.md5Hash32(col("doc_id").cast("string")), lit(32))
            .as("bucket"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("bucket"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / 4096).as("bin"))
    }),


    // repetition-based quality (Gopher-style): repeated-word fraction
    // and the most-frequent-bigram share of all word bigrams,
    // computed IN-ROW (r17 — plans.TopNgramCount): the old explode →
    // (doc, bigram) count → per-doc max/sum → join-back spelling paid
    // two exchanges and a join for a per-row statistic — the bigram
    // total is just size(toks) − 1 and the max is one small count
    // map. NULL top_bigram_frac for docs with < 2 tokens, exactly the
    // old left join's no-gram-rows NULL (TopBigramSpec pins equality).
    "t9_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .select(col("doc_id"),
          (lit(1) - size(array_distinct(col("toks"))).cast("double") /
            nullif(size(col("toks")), lit(0))).as("dup_word_frac"),
          (graft.plans.TopNgramCount.of(col("toks"), 2).cast("double") /
            (size(col("toks")) - lit(1))).as("top_bigram_frac"))),


    // bigram-LM fluency score (CCNet/KenLM-style quality filter):
    // corpus-fit add-one bigram model, per-doc mean log-probability
    "t10_bigram_lm" -> ((s, dir) =>
      CorpusOps.bigramLmScores(t(s, dir, "documents"), "doc_id", cleanTokens)),


    // character-entropy quality signal (low-entropy docs are boiler-
    // plate/garbage): unigram char entropy from exact counts,
    // computed IN-ROW (r17 — CorpusOps.charEntropy): the old
    // explode → (doc, ch) census → doc window → doc agg spelling
    // paid a Generate and TWO exchanges for per-row arithmetic.
    // Zero exchanges now; value-identical terms (CharEntropySpec).
    "t11_char_entropy" -> ((s, dir) =>
      CorpusOps.charEntropy(t(s, dir, "documents"), "doc_id", "text")),


    // per-source corpus governance profile: the data-mix report every
    // training-set review starts with — one keyed aggregate, DECIMAL
    // order-free means, exact small-domain distinct
    "t13_source_profile" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          (sum(col("n_chars").cast("decimal(18,0)")).cast("double") /
            count(lit(1))).as("avg_chars"),
          (sum(size(cleanTokens).cast("decimal(18,0)")).cast("double") /
            count(lit(1))).as("avg_tokens"))),


    // overlapping token-window chunking — the splitting step every
    // training/RAG pipeline runs before packing (t8 packs whole docs;
    // real corpora need long docs cut to model context first):
    // 32-token windows at stride 24 (8-token overlap so no boundary
    // n-gram is lost), chunk count = floor((n-1)/stride)+1 per doc.
    // Pure narrow explode — one corpus pass, no shuffle; the chunk
    // fingerprint (md5 of the joined window, t4's spelling) feeds
    // span-level dedup downstream.
    "t15_chunk_windows" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks"),
          explode(TextOps.chunkIndices("toks")).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          TextOps.chunkSlice("toks", "chunk_idx").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("chunk_len"),
          TextOps.chunkFingerprint(col("chunk")).as("chunk_fp"))),


    // chunk-sequence packing — t8's greedy packer at CHUNK granularity
    // (what a trainer actually consumes: t15 windows assembled into
    // fixed 128-token sequences): chunks keep document order inside a
    // doc-keyed hash bucket, cumulative length assigns each chunk its
    // sequence id. Window is per-bucket (32 bounded partitions of the
    // corpus — at real scale bucket count rises with cluster size,
    // same note as t8), everything else narrow.
    "t16_chunk_pack" -> ((s, dir) => {
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("doc_id"), col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks"),
          explode(TextOps.chunkIndices("toks")).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          size(TextOps.chunkSlice("toks", "chunk_idx")).as("chunk_len"),
          pmod(DedupOps.md5Hash32(col("doc_id").cast("string")), lit(32))
            .as("bucket"))
        .withColumn("cum", sum(col("chunk_len")).over(w))
        .select(col("doc_id"), col("chunk_idx"), col("bucket"),
          col("chunk_len"),
          floor((col("cum") - col("chunk_len")) / 128).as("seq_id"))
    }),


    // α-temperature source-mix rebalancing (CorpusOps.alphaMixSample):
    // a 25% budget split across sources ∝ sqrt(n_s) — small sources
    // upweighted, the Gopher/LLaMA sub-linear mixing shape — with
    // integer-compare hash sampling. Census output: per-source docs,
    // rate, and sampled count (the report the mix review reads).
    "t14_mix_rebalance" -> ((s, dir) =>
      CorpusOps.alphaMixSample(
        t(s, dir, "documents"), "source", col("text"), budgetDen = 4)._2),


    // corpus bigram PMI (collocation mining): pointwise mutual
    // information from exact unigram/bigram counts, min support 5,
    // top 50. Both count passes are key-partitioned aggs with map-side
    // combine over the streamed n-gram generator; the unigram table
    // joins back on the word key (broadcast at this SF, shuffle-hash at
    // corpus scale); corpus totals ride 1-row broadcasts. The top-k is
    // orderBy+limit → TakeOrderedAndProject, never a global sort.
    "t12_pmi" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(cleanTokens.as("toks"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val bi = toks.select(graft.plans.NgramGenerate.of(col("toks"), 2).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      // corpus totals from ONE narrow pass over per-doc token counts —
      // n_uni = Σ len, n_bi = Σ max(len-1, 0) — map-side partials
      // only, instead of re-aggregating the (word|bigram) count tables
      val tots = toks.select(size(col("toks")).as("l"))
        .agg(sum(col("l")).as("n_uni"),
          sum(greatest(col("l") - 1, lit(0))).as("n_bi"))
      bi.filter(col("cb") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(tots))
        // identical spelling on the oracle side: one double division of
        // two left-assoc triple products, then ln, then 6-dp round
        .select(col("bg"), col("cb"),
          round(log(col("cb").cast("double") * col("n_uni") * col("n_uni") /
            (col("n_bi").cast("double") * col("c1") * col("c2"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("bg"))
        .limit(50)
    }),

    // held-out bigram-LM quality banding (CorpusOps.heldOutLmBands):
    // the CCNet recipe proper — fit the LM on the trusted half of the
    // sources (src0–src9), score every document with smoothing-floor
    // backoff for unseen bigrams, band per-lang into head/middle/tail
    // terciles via the q52 bounded-histogram cutoff (no raw-row sort).
    "t17_heldout_lm" -> ((s, dir) =>
      CorpusOps.heldOutLmBands(t(s, dir, "documents"), "doc_id", "lang",
        cleanTokens, col("source").isin((0 to 9).map("src" + _): _*))),

    // BPE ENCODING census (CorpusOps.bpeEncode): m14 trains the merge
    // table; t18 applies it — the encoded corpus's symbol-unigram
    // coverage, i.e. how much corpus mass each learned vocabulary
    // entry absorbs vs residual single characters. The fit loop's
    // final rewrite already IS the encoded vocabulary, so the census
    // is one explode + keyed agg on the vocab-sized table.
    "t18_bpe_encode" -> ((s, dir) =>
      CorpusOps.bpeEncode(t(s, dir, "documents"), cleanTokens, nMerges = 8)),

    // TOKENIZER FERTILITY (CorpusOps.bpeWordSymCounts): BPE tokens
    // per word per document under the m14-trained merges — the
    // standard tokenizer-quality readout (a language the vocabulary
    // serves badly shows fertility near chars-per-word; a
    // well-covered one near 1). The vocabulary-sized (w, n_syms)
    // table BROADCASTS onto the exploded corpus: one narrow join +
    // one keyed agg, no shuffle of corpus rows beyond the doc agg.
    "t19_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wsyms = broadcast(
        CorpusOps.bpeWordSymCounts(docs, cleanTokens, nMerges = 8))
      docs
        .select(col("doc_id"), col("lang"), explode(cleanTokens).as("w"))
        .join(wsyms, "w")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("n_syms")).as("n_bpe_tokens"),
          count(lit(1)).as("n_words"))
        .select(col("doc_id"), col("lang"), col("n_bpe_tokens"),
          col("n_words"),
          expr("(1000000 * n_bpe_tokens) div n_words").as("fertility_mu"))
    }),

    // DICTIONARY-ENCODED TOKEN IDS (CorpusOps.tokenizeToIds): the
    // tokenize-once storage shape — encode the corpus against the m6
    // vocabulary (ids = 1-based (df desc, term) rank, OOV -> 0) and
    // read every downstream statistic off the ID ARRAY ONLY: per-doc
    // token/OOV counts, OOV rate in integer micro-units, distinct-id
    // census, and two integer checksums (plain id sum + position-
    // weighted sum) that pin the exact id assignment AND ordering
    // against the oracle's vocab join. The encode pass is narrow
    // (broadcast dictionary literal, no join/shuffle); the vocab
    // build is m6's TakeOrderedAndProject; the dictionary collect is
    // bounded by the 500-term limit.
    "t20_token_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = CorpusOps.vocabularyWithIdf(
        docs, "doc_id", cleanTokens, limit = 500)
      CorpusOps.tokenizeToIds(
          docs.select(col("doc_id"), cleanTokens.as("toks")),
          col("toks"), vocab)
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_toks"),
          size(filter(col("token_ids"), x => x === 0)).cast("long")
            .as("n_oov"),
          size(array_distinct(col("token_ids"))).cast("long").as("n_ids"),
          aggregate(col("token_ids"), lit(0L), (a, x) => a + x)
            .as("ids_sum"),
          aggregate(
            transform(col("token_ids"),
              (x, i) => (i + lit(1)).cast("long") * x),
            lit(0L), (a, x) => a + x).as("ids_poschk"))
        .withColumn("oov_mu", expr("(1000000 * n_oov) div n_toks"))
    }),

    // ID-SPACE BIGRAM CENSUS: the downstream consumer that proves the
    // tokenize-once shape COMPOSES — t12's bigram statistics re-read
    // off t20's int arrays instead of re-splitting strings: adjacent
    // (l_id, r_id) pairs (OOV id 0 participates; OOV transitions are
    // a real quality signal), exact counts, deterministic top-50 via
    // TakeOrderedAndProject (never a global sort). At 100 TB this is
    // the query class that runs DAILY against stored id arrays while
    // the string tokenization ran once at ingest.
    "t21_id_bigrams" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = CorpusOps.vocabularyWithIdf(
        docs, "doc_id", cleanTokens, limit = 500)
      idBigramCensus(CorpusOps.tokenizeToIds(
        docs.select(col("doc_id"), cleanTokens.as("toks")),
        col("toks"), vocab))
    }),

    // TOKENIZE-ONCE STORAGE ROUND-TRIP (round 8): t21 re-derives the
    // encode inline; the 100 TB contract is encode ONCE to parquet and
    // have every consumer read STORED arrays. This query runs that
    // contract end-to-end: STAGE writes (doc_id, token_ids) range-
    // clustered+sorted on doc_id via WriteOps.sortedParquet plus the
    // (id, term) dictionary beside it, then the CONSUMER re-reads the
    // FILES and reproduces t21's bigram census from the stored arrays
    // alone — same oracle SQL as t21, so the driver's hash compare
    // proves stored-vs-inline byte-equality, pinning the on-disk
    // schema (array<int>, parquet int32) and dictionary placement.
    // The stage dir is deterministic per input dir and overwritten
    // per run; the require() fail-fasts if the stored int width ever
    // drifts (a silent widen would change nothing at sf0.1 and
    // double the storage at 100 TB).
    "t24_stored_bigrams" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = CorpusOps.vocabularyWithIdf(
          docs, "doc_id", cleanTokens, limit = 500)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      val stage = sys.props("java.io.tmpdir") +
        s"/graft_t24_${java.lang.Integer.toHexString(dir.hashCode)}"
      graft.sinks.WriteOps.sortedParquet(
        CorpusOps.tokenizeToIds(
            docs.select(col("doc_id"), cleanTokens.as("toks")),
            col("toks"), terms, "token_ids")
          .select(col("doc_id"), col("token_ids")),
        s"$stage/token_ids", Seq("doc_id"), numFiles = 4)
      import s.implicits._
      terms.zipWithIndex.map { case (t, i) => (i + 1, t) }
        .toDF("id", "term")
        .write.mode("overwrite").parquet(s"$stage/vocab")
      val stored = s.read.parquet(s"$stage/token_ids")
      require(stored.schema("token_ids").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false) ||
        stored.schema("token_ids").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = true),
        s"stored token_ids must be array<int>, got " +
          stored.schema("token_ids").dataType)
      idBigramCensus(stored)
    }),

    // PER-SOURCE KL DIVERGENCE from the corpus unigram distribution
    // over the vocab-id space — the domain-drift governance readout
    // (which sources' token mix diverges from the corpus mean, i.e.
    // where a mix rebalance or a dedicated quality pass should look
    // first). Add-one smoothing over the FULL source x vocab grid so
    // zero-count terms carry their smoothing mass; logs quantized to
    // integer micro-nats (the t17 recipe) and everything downstream
    // is exact integer arithmetic. 100 TB shape: ONE corpus pass
    // (the occurrence agg over encoded ids, output bounded by
    // |sources| x |vocab|); the KL algebra runs entirely on that
    // grid-sized table.
    // VOCABULARY GROWTH CURVE (Heaps' law readout): distinct-term
    // count at nested 25%/50%/100% corpus fractions — the
    // tokenizer-budget sizing table (how fast does the vocabulary a
    // BPE/dictionary build must absorb grow with corpus size?).
    // Fractions are m16's deterministic salted-residue device, so
    // the subsets NEST and the curve is a real growth curve, not
    // three unrelated samples. One token-level pass (fractions ride
    // a narrow 3x explode) + one doc-level count pass.
    "t23_vocab_growth" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withSub = docs.select(
        pmod(graft.operators.DedupOps.md5Hash32(
          concat(col("doc_id").cast("string"), lit(":t23"))), lit(100))
          .as("sub"),
        cleanTokens.as("toks"))
      val fracs = array(lit(25L), lit(50L), lit(100L))
      val nd = withSub
        .select(col("sub"), explode(fracs).as("frac_pct"))
        .filter(col("sub") < col("frac_pct"))
        .groupBy(col("frac_pct")).agg(count(lit(1)).as("n_docs"))
      val tg = withSub
        .select(col("sub"), explode(col("toks")).as("term"))
        .select(col("sub"), col("term"), explode(fracs).as("frac_pct"))
        .filter(col("sub") < col("frac_pct"))
        .groupBy(col("frac_pct"))
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct(col("term")).as("n_terms"))
      nd.join(tg, Seq("frac_pct"))
        .select(col("frac_pct"), col("n_docs"), col("n_tokens"),
          col("n_terms"))
    }),

    // GOPHER/MASSIVETEXT QUALITY RULES (Rae et al. 2021, table A1):
    // the per-document rule table t2's simple ratios don't cover —
    // semantics, shape, and thresholds documented on the operator
    // (promoted there so the filter funnel shares the exact rule
    // spelling)
    "t25_gopher_quality" -> ((s, dir) =>
      CorpusOps.gopherQuality(t(s, dir, "documents"), "doc_id", "text")),

    // DSIR DATA SELECTION (Xie et al. 2023, importance resampling —
    // the public hashed-n-gram domain-selection recipe): score every
    // doc against the src0 target domain over 1024 hashed uni+bigram
    // buckets and take the top-100 selection. One corpus text scan;
    // both bucket distributions and the broadcast weight table fold
    // from the same (doc, bucket, c) frame; the selection is
    // TakeOrderedAndProject (no full sort). Micro-nat quantization
    // per the t10/t17 ln recipe.
    "t26_dsir_weights" -> ((s, dir) =>
      CorpusOps.dsirWeights(t(s, dir, "documents"), "doc_id",
          cleanTokens, col("source") === "src0", 1024)
        .orderBy(col("weight_mu").desc, col("doc_id"))
        .limit(100)),

    // GOPHER REPETITION SIGNALS (Rae et al. 2021, table A1, the
    // repetition sub-table t25's rule set leaves to a separate pass):
    // top-{2,3,4}-gram char fractions and position-union dup-{5..10}-
    // gram char coverage + the A1 conjunction verdict — semantics,
    // tie-breaks, and the 100 TB shape documented on the operator.
    "t27_rep_ngrams" -> ((s, dir) =>
      CorpusOps.repetitionSignals(t(s, dir, "documents"), "doc_id",
        cleanTokens)),

    // ZIPF SLOPE: OLS ln(freq)-vs-ln(rank) over the top-500 term
    // census — corpus-health diagnostic; exact-integer pipeline and
    // the 100 TB shape documented on the operator.
    "t28_zipf_slope" -> ((s, dir) =>
      CorpusOps.zipfSlope(t(s, dir, "documents"), cleanTokens, 500)),

    // C4 FILTER TABLE (Raffel et al. 2020 §2.2): terminal-punct /
    // 5-word / javascript line retention, sentence-count stand-in,
    // brace + lorem-ipsum drops — the third public rule set beside
    // Gopher (t25/t27) and DSIR (t26). Stateless narrow projection;
    // semantics on the operator.
    "t29_c4_filters" -> ((s, dir) =>
      CorpusOps.c4Filters(t(s, dir, "documents"), "doc_id", "text")),

    "t22_source_kl" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // collect the (ordered) vocabulary ONCE and re-feed it as a
      // local relation: vocab.count() + tokenizeToIds' own collect
      // would each re-run the corpus-scanning TakeOrdered plan
      import s.implicits._
      val terms = CorpusOps.vocabularyWithIdf(
          docs, "doc_id", cleanTokens, limit = 500)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      val nVocab = terms.size
      val enc = CorpusOps.tokenizeToIds(
        docs.select(col("source"), cleanTokens.as("toks")),
        col("toks"), terms, "token_ids")
      val occ = enc
        .select(col("source"), explode(col("token_ids")).as("id"))
        .filter(col("id") > 0)
        .groupBy(col("source"), col("id")).agg(count(lit(1)).as("c"))
      val grid = docs.select(col("source")).distinct()
        .select(col("source"),
          explode(sequence(lit(1), lit(nVocab.toInt))).as("id"))
      val full = grid.join(occ, Seq("source", "id"), "left")
        .select(col("source"), col("id"),
          coalesce(col("c"), lit(0L)).as("c"))
      val ns = full.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val cw = full.groupBy(col("id")).agg(sum(col("c")).as("c_w"))
      val tot = cw.agg(sum(col("c_w")).as("n"))
      def microNat(num: Column, den: Column): Column =
        (round(log(num.cast("double") / den.cast("double")), 6)
          .cast("decimal(18,6)") * lit(1000000)).cast("long")
      full.join(ns, "source")
        .join(broadcast(cw), "id")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("c"), col("n_s"),
          microNat(col("c") + 1, col("n_s") + lit(nVocab)).as("ls_mu"),
          microNat(col("c_w") + 1, col("n") + lit(nVocab)).as("lc_mu"))
        .groupBy(col("source"))
        .agg(first(col("n_s")).as("n_vocab_toks"),
          sum((col("c") + 1) * (col("ls_mu") - col("lc_mu"))).as("klnum"))
        .select(col("source"), col("n_vocab_toks"),
          expr(s"greatest(klnum, 0L) div (n_vocab_toks + $nVocab)")
            .as("kl_mu"))
    }),

    // TEMPORAL DRIFT (PSI) between ADJACENT corpus slices — the
    // census a recurring crawl runs before admitting a new snapshot:
    // Population Stability Index Σ (p_b − q_b)·ln(p_b/q_b) of the
    // document-length distribution between epoch e and e+1. Epochs
    // are deterministic salted hash residues of doc_id (the t23
    // device — a stand-in for real snapshot dates, which the
    // documents table lacks); the distribution is 16 fixed-width
    // n_chars buckets with add-one smoothing over the full grid so
    // empty buckets carry smoothing mass (the t22 recipe). All
    // arithmetic integer: logs quantized to micro-nats ONCE, the
    // p−q difference kept as an exact cross-multiplied rational
    // (DECIMAL(38,0) — n²-scale products, the m22 device), one
    // guarded non-negative division per pair. Cost: ONE narrow
    // corpus pass folded map-side to ≤ 64 cells, COLLECTED
    // (constant-size — the t22 local-relation device) so the grid
    // arithmetic that follows touches no corpus plan again; the
    // shape is flat at 100 TB. PSI ≥ 0 always ((p−q) and ln(p/q)
    // share sign); the greatest guard only pins 6-dp log-rounding
    // noise on near-identical slices, exactly as t22's.
    "t36_psi_drift" -> ((s, dir) => {
      val nB = 16
      val d = t(s, dir, "documents").select(
        pmod(graft.operators.DedupOps.md5Hash32(
          concat(col("doc_id").cast("string"), lit(":t36"))), lit(4))
          .as("epoch"),
        expr(s"least(n_chars div 64, ${nB - 1}L)").as("bucket"))
      val occ = d.groupBy(col("epoch"), col("bucket"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      import s.implicits._
      val full = (for (e <- 0L until 4L; b <- 0L until nB.toLong)
        yield (e, b, occ.getOrElse((e, b), 0L))).toDF("epoch", "bucket", "c")
      val ne = full.groupBy(col("epoch")).agg(sum(col("c")).as("n_e"))
      val fe = full.join(ne, "epoch")
      def microNat(num: Column, den: Column): Column =
        (round(log(num.cast("double") / den.cast("double")), 6)
          .cast("decimal(18,6)") * lit(1000000)).cast("long")
      val p = fe.select(col("epoch").as("epoch_from"), col("bucket"),
        col("c").as("cp"), col("n_e").as("n_from"))
      val q = fe.select((col("epoch") - 1).as("epoch_from"),
        col("bucket"), col("c").as("cq"), col("n_e").as("n_to"))
      p.join(q, Seq("epoch_from", "bucket"))
        .select(col("epoch_from"), col("n_from"), col("n_to"),
          col("cp"), col("cq"),
          microNat(col("cp") + 1, col("n_from") + lit(nB)).as("lp_mu"),
          microNat(col("cq") + 1, col("n_to") + lit(nB)).as("lq_mu"))
        .groupBy(col("epoch_from"))
        .agg(first(col("n_from")).as("n_from"),
          first(col("n_to")).as("n_to"),
          sum(((col("cp") + 1).cast("decimal(38,0)") *
                (col("n_to") + lit(nB)) -
              (col("cq") + 1).cast("decimal(38,0)") *
                (col("n_from") + lit(nB))) *
            (col("lp_mu") - col("lq_mu"))).as("num"))
        .select(col("epoch_from"),
          (col("epoch_from") + 1).as("epoch_to"),
          col("n_from"), col("n_to"),
          expr(s"cast(greatest(num, cast(0 as decimal(38,0))) div " +
            s"(cast(n_from + $nB as decimal(38,0)) * (n_to + $nB)) " +
            "as bigint)").as("psi_mu"))
    }),

    // PSI DRIFT OVER REAL EVENT TIME (t37, round 11): the t36 grid
    // machinery with epochs = CALENDAR DAYS of each document's
    // ingestion event — documents carry no timestamp, so each doc
    // joins its ingestion event (doc_id ↔ event_id, keyed equi-join;
    // AQE broadcasts the pruned 2-column event side at test SFs, a
    // shuffle-hash join at 100 TB) and PSI runs between ADJACENT
    // days, the production drift-monitor shape (t36's hash-residue
    // epochs were a stand-in for exactly this). Same integer
    // arithmetic as t36: add-one smoothing over the full
    // days-present × 16 grid, micro-nat logs, exact cross-multiplied
    // p−q rational in DECIMAL(38,0), guarded non-negative division.
    // Cost: one narrow join + keyed agg folded map-side to
    // |days| × 16 cells; the DENSE grid (every day × every bucket,
    // zeros included — add-one smoothing needs the absent cells) is
    // assembled IN-PLAN by exploding a 16-long sequence under each
    // distinct day and left-joining the occupancy back (r12 advice:
    // the former driver-side collect+local-relation grew with the
    // calendar horizon and hid the census scan from bench timing;
    // this stays lazy, bounded, and fully distributed).
    "t37_psi_event_drift" -> ((s, dir) => {
      val nB = 16
      val ev = t(s, dir, "events")
        .select(col("event_id"), to_date(col("ts")).as("day"))
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"least(n_chars div 64, ${nB - 1}L)").as("bucket"))
        .join(ev, col("doc_id") === col("event_id"))
      val occ = d.groupBy(col("day"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      val full = occ.select(col("day")).distinct()
        .select(col("day"),
          explode(sequence(lit(0L), lit((nB - 1).toLong))).as("bucket"))
        .join(occ, Seq("day", "bucket"), "left")
        .select(col("day"), col("bucket"),
          coalesce(col("c"), lit(0L)).as("c"))
      val ne = full.groupBy(col("day")).agg(sum(col("c")).as("n_e"))
      val fe = full.join(ne, "day")
      def microNat(num: Column, den: Column): Column =
        (round(log(num.cast("double") / den.cast("double")), 6)
          .cast("decimal(18,6)") * lit(1000000)).cast("long")
      val p = fe.select(col("day").as("day_from"), col("bucket"),
        col("c").as("cp"), col("n_e").as("n_from"))
      val q = fe.select(date_sub(col("day"), 1).as("day_from"),
        col("bucket"), col("c").as("cq"), col("n_e").as("n_to"))
      p.join(q, Seq("day_from", "bucket"))
        .select(col("day_from"), col("n_from"), col("n_to"),
          col("cp"), col("cq"),
          microNat(col("cp") + 1, col("n_from") + lit(nB)).as("lp_mu"),
          microNat(col("cq") + 1, col("n_to") + lit(nB)).as("lq_mu"))
        .groupBy(col("day_from"))
        .agg(first(col("n_from")).as("n_from"),
          first(col("n_to")).as("n_to"),
          sum(((col("cp") + 1).cast("decimal(38,0)") *
                (col("n_to") + lit(nB)) -
              (col("cq") + 1).cast("decimal(38,0)") *
                (col("n_from") + lit(nB))) *
            (col("lp_mu") - col("lq_mu"))).as("num"))
        .select(col("day_from"),
          date_add(col("day_from"), 1).as("day_to"),
          col("n_from"), col("n_to"),
          expr(s"cast(greatest(num, cast(0 as decimal(38,0))) div " +
            s"(cast(n_from + $nB as decimal(38,0)) * (n_to + $nB)) " +
            "as bigint)").as("psi_mu"))
    }),

    // FILTER FUNNEL (CorpusOps.filterFunnel): the per-source
    // attrition table a curation run reads before committing to a
    // rule stack — how many documents survive Gopher (t25), then
    // +repetition (t27), then +C4 (t29), applied in sequence;
    // coalesce semantics, cost, and the 100 TB shape documented on
    // the operator.
    "t30_filter_funnel" -> ((s, dir) =>
      CorpusOps.filterFunnel(t(s, dir, "documents"), "doc_id", "text",
        cleanTokens, "source")),

    // TOKEN-BUDGET WATER-FILLING (CorpusOps.tokenBudgetAllocation):
    // the "mix under budget" gate that complements t14's α-temperature
    // rebalancing — given a global token budget B (here total div 2),
    // cap every source at the water level L where
    // Σ min(n_s, L) + remainder = B, remainder spread one token each
    // over the capped sources in source order. Exact integer algebra
    // over the S-row source census only (the corpus contributes one
    // keyed agg); the census windows ARE single-partition, bounded by
    // the source DIMENSION, never by corpus rows — the t36-grid class.
    "t40_token_budget" -> ((s, dir) =>
      CorpusOps.tokenBudgetAllocation(
        t(s, dir, "documents"), "source", cleanTokens)),

    // TOKEN-BUDGET SHARD MANIFEST (CorpusOps.shardManifest): docs in
    // t39's seeded global order cut into ~2000-token doc-atomic
    // shards; one manifest row per shard. The oracle is the naive
    // global cumulative-sum window — the hash compare proves the
    // bucketed two-offset assignment reproduces the exact global
    // token prefix (the t39 argument, applied to a measure).
    "t41_shard_manifest" -> ((s, dir) =>
      CorpusOps.shardManifest(
        t(s, dir, "documents"), "doc_id", cleanTokens,
        seed = "graft-epoch-0", targetTokens = 2000L)),

    // DETERMINISTIC GLOBAL TRAINING ORDER (CorpusOps.globalTrainOrder):
    // the seeded corpus shuffle fixed before batch packing — dense
    // position 0..n-1 in md5-key order, id-tiebroken, assigned WITHOUT
    // a single-partition global window (hex-prefix bucket census +
    // per-bucket bounded ranks; scale rationale on the operator). The
    // oracle is the naive global row_number spelling — fine at
    // sf0.01, the anti-pattern at 100 TB — so the hash compare proves
    // the distributed assignment IS the global order.
    "t39_train_order" -> ((s, dir) =>
      CorpusOps.globalTrainOrder(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", seed = "graft-epoch-0", batchRows = 512)),

    // TOKENIZER-VOCABULARY COVERAGE per source — the gate a training
    // pipeline runs before committing a corpus slice to a frozen
    // tokenizer/model vocabulary: what share of the slice's token
    // mass (and of its distinct terms) falls outside the vocab. One
    // text scan exploded to (source, term), one BROADCAST left join
    // against the committed 262k-term model vocab (a few MB of
    // strings — the canonical small-dim broadcast; at 100 TB only
    // the token stream shuffles for the per-source agg, never the
    // vocab), then a keyed agg with two distinct counts. Rates in
    // exact integer micro-units (the t35 device) so the driver hash
    // is platform-exact.
    "t38_vocab_coverage" -> ((s, dir) => {
      val vocab = s.read
        .parquet(s"${SparkEntry.FixtureDir}/sentiment_vocab.parquet")
        // the oracle SQL applies SELECT DISTINCT defensively; mirror it
        // here so a duplicate term in a regenerated fixture can't fan
        // out the exploded token stream on the engine side only
        .select(col("term")).distinct()
        .select(col("term"), lit(1).as("in_vocab"))
      t(s, dir, "documents")
        .select(col("source"), explode(cleanTokens).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(col("term")).as("n_terms"),
          countDistinct(when(col("in_vocab").isNull, col("term")))
            .as("n_oov_terms"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          col("n_terms"), col("n_oov_terms"),
          expr("(1000000 * n_oov) div n_tokens").as("oov_mu"),
          expr("(1000000 * n_oov_terms) div n_terms").as("oov_term_mu"))
    }),

    // LEXICAL RICHNESS per source: hapax-legomenon rate (share of a
    // source's vocabulary appearing exactly once — the long-tail
    // health signal Zipf's slope (t28) summarizes corpus-wide) and
    // type-token ratio, exact integer micro-units. One text scan
    // into a (source, term) keyed agg (map-side combined), then a
    // vocabulary-bounded per-source fold — the t28/m6 census shape.
    "t35_hapax" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), explode(cleanTokens).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("c")).as("n_tokens"))
        .select(col("source"), col("n_terms"), col("n_hapax"),
          col("n_tokens"),
          expr("(1000000 * n_hapax) div n_terms").as("hapax_mu"),
          expr("(1000000 * n_terms) div n_tokens").as("ttr_mu"))),

    // BOILERPLATE LINE CENSUS (CorpusOps.boilerplateLines): the
    // corpus-wide frequent-line table web pipelines read before the
    // paragraph-dedup pass — top-50 by (docs carrying, occurrences,
    // line); one keyed agg + TakeOrdered, shape on the operator.
    "t33_boilerplate" -> ((s, dir) =>
      CorpusOps.boilerplateLines(t(s, dir, "documents"), "doc_id",
        "text", limit = 50)),

    // BOILERPLATE STRIP accounting (CorpusOps.stripBoilerplateStats):
    // per-doc line/char attrition when >= 2-doc lines are dropped.
    // The corpus has NO cross-doc duplicate lines (checked), so three
    // literal probe docs sharing a "Cookie notice"/"Footer Inc" frame
    // ride along in both engine and oracle — the driver compare
    // exercises actual strips, not just zeroes (the t31 device).
    "t34_strip_boilerplate" -> ((s, dir) => {
      val probes = Seq(
        (9000001L, "Cookie notice\ncontent alpha\nFooter Inc"),
        (9000002L, "Cookie notice\ncontent beta\nFooter Inc"),
        (9000003L, "Cookie notice\ncontent gamma"))
      import s.implicits._
      CorpusOps.stripBoilerplateStats(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(probes.toDF("doc_id", "text")),
        "doc_id", "text", minDocs = 2)
    }),

    // READABILITY (CorpusOps.readability): Flesch Reading Ease +
    // Flesch-Kincaid grade per document — exact-integer micro-units,
    // the vowel-group syllable heuristic, terminal-punct sentence
    // stand-in; semantics and the stateless one-projection shape
    // documented on the operator.
    "t32_readability" -> ((s, dir) =>
      CorpusOps.readability(t(s, dir, "documents"), "doc_id", "text")),

    // PII SURFACE SCAN (CorpusOps.piiScanCols): per-source match
    // counts for the three portable pattern families (email, IPv4,
    // international phone), documents-with-any-hit, and the total
    // matched char mass (= the redaction pass's rewrite budget).
    // One stateless narrow text scan + one small keyed agg. The
    // synthetic corpus is PII-free, so a literal PROBE document
    // (source 'srcpii', spelled identically in the oracle) rides
    // along to make the driver's hash compare exercise nonzero
    // counts — i.e. prove Java-regex/RE2 parity on actual matches,
    // not just on absence; the per-pattern paths are additionally
    // pinned on hand-built docs in PiiScanSpec (the t27 precedent).
    "t31_pii_scan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("source"), col("text"))
        .unionByName(s.range(1).select(lit("srcpii").as("source"),
          lit("reach a@b.co or 10.0.0.1 or +12345678 now").as("text")))
        .select(col("source") +: CorpusOps.piiScanCols(col("text")): _*)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("n_email") + col("n_ipv4") + col("n_phone") > 0L)
            .cast("long")).as("n_pii_docs"),
          sum(col("n_email")).as("n_email"),
          sum(col("n_ipv4")).as("n_ipv4"),
          sum(col("n_phone")).as("n_phone"),
          sum(col("pii_chars")).as("pii_chars"))
    })
  )
}
