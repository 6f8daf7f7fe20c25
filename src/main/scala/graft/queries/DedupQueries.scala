package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.{LangMarkers, SparkEntry}
import graft.QuerySupport._
import graft.functions.TextOps
import graft.multimodal.MultimodalOps
import graft.operators.{CorpusOps, DedupOps, DetParams, GraphOps, SimilarityOps, SketchOps}

/** Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup, edit distance, closures, policies, decontamination, incremental, chunk census.
  *
  * Split from [[graft.SparkEntry]] (round 6, hygiene item): entry
  * bodies are byte-identical to the pre-split map; QueryRegistrySpec
  * proves family disjointness and exact oracle key coverage.
  */
private[graft] object DedupQueries {
  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // == LLM-data-pipeline operators (SURVEY.md §7.6) ==

    // exact dedup via hash groupBy (keeper = min doc_id)
    "d1_exact_dedup" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))),


    // NORMALIZED exact dedup keyed on the ENCODED token-id sequence
    // (round 7): two docs collapse when they tokenize+encode
    // identically — catching the case/punctuation/whitespace variants
    // d1's raw-text equality misses, at dictionary-encode cost (the
    // tokenize-once pipeline gets this dedup nearly free: one
    // groupBy over the already-stored id arrays). Same keyed-agg
    // EMPIRICAL LSH recall/precision on a bounded gold subset — the
    // measurement companion to d16's analytic banding sweep
    // (semantics and the absolutely-bounded all-pairs justification
    // on the operator).
    "d18_lsh_recall" -> ((s, dir) => {
      val (recall, _) = DedupOps.lshCandidateRecall(
        t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, goldN = 250)
      recall
    }),

    // CLUSTER-SIZE CENSUS over the d7 closure + the singleton
    // remainder (docs in no candidate pair) — the governance readout
    // of HOW duplicated the corpus is: per size, cluster and doc
    // counts. Histogram is component-count-bounded; singletons come
    // from two 1-row aggs, never a join against the corpus.
    "d20_cluster_sizes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (lab, _) = GraphOps.connectedComponents(
        DedupOps.minhashCandidatePairs(docs, "doc_id", "text"),
        "doc_a", "doc_b", assumeCanonical = true)
      DedupOps.clusterSizeCensusFromLabels(docs, lab)
    }),

    // COMPOSED d7+d20 in ONE closure pass (the d13 shared-prefix
    // device): the closure labels are materialized once, then BOTH
    // products are readouts over them — the full per-doc label table
    // (every doc: cluster + size, singletons included) annotated with
    // its size's census row. d7 = filter csize >= 2; d20 = distinct
    // (csize, n_clusters, n_docs). Standalone d7 and d20 each re-pay
    // the LSH+closure prefix; this delivers both for one. At 100 TB
    // this is the table the pipeline WRITES after the closure — the
    // FromLabels census faces then read it, never re-running LSH.
    "d21_labels_census" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (lab, _) = GraphOps.connectedComponents(
        DedupOps.minhashCandidatePairs(docs, "doc_id", "text"),
        "doc_a", "doc_b", assumeCanonical = true)
      val full = DedupOps.fullClusterLabels(docs, "doc_id", lab)
      val census = DedupOps.clusterSizeCensusFromLabels(docs, lab)
      full.join(broadcast(census), Seq("csize"))
        .select(col("doc_id"), col("cluster"), col("csize"),
          col("n_clusters"), col("n_docs"))
    }),

    // IMAGE near-dup pairs over the committed deterministic image
    // fixture (visual twin of d3b's SimHash banding; fixture-backed
    // like m5 — testdata has no image payloads, so sfDir is unused
    // and the result is SF-invariant by construction): decode real
    // PNG/BMP payloads → 64-bit DCT pHash → pigeonhole hamming-band
    // join, exact bit_count verify, ok=false decode failures dropped.
    // The DuckDB twin recomputes the pair set ALL-PAIRS from the
    // committed hash table (image_phash.parquet, dumped through this
    // same decode path by DumpImageFixture), so the oracle checks
    // BOTH banding completeness (banded == exact all-pairs — the
    // pigeonhole guarantee, empirically) AND decode+pHash determinism
    // against the committed values. At 100 TB the all-pairs side is
    // the oracle-only device; the engine side never leaves banding.
    "d22_image_neardup" -> ((s, _) => {
      import s.implicits._
      val media = s.read
        .parquet(s"${SparkEntry.FixtureDir}/media_images.parquet")
        .as[MultimodalOps.MediaRow]
      val (pairs, _) = MultimodalOps.hammingNearDupPairs(
        MultimodalOps.imagePHash(media, dim = 32).toDF(),
        "media_id", "phash", maxDist = 6)
      pairs
    }),

    // IMAGE dedup END-TO-END — the d10 keeper-policy shape on the
    // visual side: pHash pairs → connected-component closure
    // (large-star/small-star, component label = min id) → keep the
    // min-id representative per cluster, singletons self-kept. The
    // DuckDB twin computes the closure by recursive CTE over the
    // same all-pairs edge set (bounded: fixture clusters are ≤ 3
    // nodes), so label assignment, cluster sizes, and the keeper
    // policy are all value-checked, not just pair recall.
    "d23_image_dedup" -> ((s, _) => {
      import s.implicits._
      val (labels, _) = MultimodalOps.hammingDedupLabels(
        MultimodalOps.imagePHash(
          s.read.parquet(s"${SparkEntry.FixtureDir}/media_images.parquet")
            .as[MultimodalOps.MediaRow], dim = 32).toDF(),
        "media_id", "phash", maxDist = 6)
      labels
    }),

    // d23 THROUGH THE SCALE GEOMETRY: the identical image-dedup
    // result computed with the block-combination banding (blocks = 8:
    // 28 16-bit block-pair keys/row instead of 7 9-bit bands — the
    // knob a 10⁸⁺-signature corpus turns, ~29× less uniform collision
    // mass for 4× key fan-out; measured in ScaleProbe hm mode). The
    // oracle is d23's all-pairs recursive-CTE closure VERBATIM — the
    // driver's own artifact pins that the scale path is
    // result-identical, not just spec-identical (HammingBlocksSpec's
    // in-battery claim).
    "d26_image_dedup_blocks" -> ((s, _) => {
      import s.implicits._
      val (labels, _) = MultimodalOps.hammingDedupLabels(
        MultimodalOps.imagePHash(
          s.read.parquet(s"${SparkEntry.FixtureDir}/media_images.parquet")
            .as[MultimodalOps.MediaRow], dim = 32).toDF(),
        "media_id", "phash", maxDist = 6, blocks = 8)
      labels
    }),

    // d23 WITH THE GEOMETRY CHOSEN BY THE OPERATOR (r12 verdict #1):
    // with no `blocks`, hammingDedupLabels counts the persisted
    // signature table and picks blocks B from the measured ladder
    // (autoHammingBlocks — B=7 to ~3.5e3 sigs, 8 to ~2.8e5, 9 to
    // ~9.1e6, 10 beyond), so the one silent at-scale cliff — the
    // d+1 split ENOSPC-ing at ~1M uniform signatures — self-tunes
    // away. Since that became the operator default, d23 runs the same
    // call; d28 stays as the registry's named auto-geometry entry.
    // Oracle is d23's all-pairs recursive-CTE closure VERBATIM: the
    // auto choice must be result-identical, not just spec-identical
    // (completeness is invariant in B; only candidate volume moves).
    "d28_image_dedup_auto" -> ((s, _) => {
      import s.implicits._
      val (labels, _) = MultimodalOps.hammingDedupLabels(
        MultimodalOps.imagePHash(
          s.read.parquet(s"${SparkEntry.FixtureDir}/media_images.parquet")
            .as[MultimodalOps.MediaRow], dim = 32).toDF(),
        "media_id", "phash", maxDist = 6)
      labels
    }),

    // EXACT SUBSTRING duplicate spans (Lee et al. 2022 ExactSubstr,
    // r12 verdict #3): maximal token spans whose every 20-token
    // window occurs >= 2 times corpus-wide, at ARBITRARY offsets —
    // the stronger operator behind d9/d15's fixed-chunk fingerprints.
    // Engine: gram fingerprints -> reused-exchange census+join ->
    // per-doc gaps-and-islands merge. Oracle: the same rederivation
    // in DuckDB (parallel-unnest grams, HAVING census, window-island
    // GROUP BY) over the same md5 fingerprints.
    "d27_exact_substring" -> ((s, dir) => {
      val (spans, _) = DedupOps.exactSubstringSpans(
        t(s, dir, "documents"), "doc_id", cleanTokens, window = 20)
      spans
    }),

    // AUDIO near-dup pairs — the d22 device on the audio side:
    // decode real PCM WAV/AIFF payloads → 64-bit spectral fingerprint
    // (Haitsma-Kalker shape: 9×8 time-band energy grid, sign-of-delta
    // bits; volume-invariant by construction) → the SAME pigeonhole
    // hamming banding. maxDist 7 = 8 clean 8-bit bands; the committed
    // fixture's planted structure (AIFF container twins and
    // half-volume copies at distance 0, sparse-click variants ≤ 7)
    // sits inside the bound. Oracle recomputes all-pairs from the
    // committed fingerprint table (audio_afp.parquet).
    "d24_audio_neardup" -> ((s, _) => {
      import s.implicits._
      val media = s.read
        .parquet(s"${SparkEntry.FixtureDir}/media_audio.parquet")
        .as[MultimodalOps.MediaRow]
      val (pairs, _) = MultimodalOps.hammingNearDupPairs(
        MultimodalOps.audioFingerprint(media).toDF(),
        "media_id", "afp", maxDist = 7)
      pairs
    }),

    // AUDIO dedup END-TO-END — d23's closure + keeper policy over the
    // audio fingerprints (the generic hammingDedupLabels operator);
    // recursive-CTE closure oracle.
    "d25_audio_dedup" -> ((s, _) => {
      import s.implicits._
      val (labels, _) = MultimodalOps.hammingDedupLabels(
        MultimodalOps.audioFingerprint(
          s.read.parquet(s"${SparkEntry.FixtureDir}/media_audio.parquet")
            .as[MultimodalOps.MediaRow]).toDF(),
        "media_id", "afp", maxDist = 7)
      labels
    }),

    // d18 measured across the d16 config grid: the banding
    // cost/benefit table from DATA (d16 prices candidate volume;
    // this measures true-pair coverage per config).
    "d19_recall_sweep" -> ((s, dir) => {
      val (sweep, _) = DedupOps.lshRecallSweep(
        t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, goldN = 250,
        cfgs = Seq((2, 6), (3, 4), (4, 3), (6, 2)))
      sweep
    }),

    // shape as d1; the min-id keeper is unique per group, so the
    // output needs no array column (engine int arrays vs oracle
    // BIGINT lists would otherwise be a hasher type mismatch).
    "d17_id_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = CorpusOps.vocabularyWithIdf(
        docs, "doc_id", cleanTokens, limit = 500)
      CorpusOps.tokenizeToIds(
          docs.select(col("doc_id"), cleanTokens.as("toks")),
          col("toks"), vocab)
        .groupBy(col("token_ids"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("keeper_doc_id"), col("n_copies"),
          size(col("token_ids")).cast("long").as("n_toks"))
    }),


    // == dedup family (SURVEY.md §7.6; narrow signature + LSH join) ==

    // MinHash signatures → per-doc LSH band keys (char-trigram sets)
    "d2_minhash_sig" -> ((s, dir) => {
      val sig = DedupOps.withMinhashSignature(
        t(s, dir, "documents"), "doc_id", "text")
      sig.select(col("doc_id") +:
        DedupOps.bandKeys(col("sig")).zipWithIndex
          .map { case (k, i) => k.as(s"b$i") }: _*)
    }),


    // LSH BANDING-PARAMETER SWEEP: candidate volume per (bands x
    // rows) split of the SAME 12-slot MinHash signature — the tuning
    // table (threshold ~ (1/b)^(1/r)) an operator reads before
    // committing a banding config to a 100 TB dedup run. The volume
    // is read from the band-bucket HISTOGRAM (n_cand = sum over
    // buckets of C(size,2) — exactly the verification count the d2b
    // join would generate), NOT from materializing pairs: evaluating
    // a catastrophically loose config costs the same pass as a good
    // one. Fully declarative and SINGLE-PASS: all configs ride one
    // exploded (cfg, band, bkey) stream off one corpus scan; bucket
    // sizes come from a per-bucket window (state bounded by bucket
    // size — the same bound the histogram itself has), rolled up per
    // config with a doc-level distinct. No driver loop, no collect,
    // one scan (PlanShapeSpec pin).
    "d16_lsh_sweep" -> ((s, dir) => {
      val cfgs = Seq((2L, 6L), (3L, 4L), (4L, 3L), (6L, 2L))
      val sig = DedupOps
        .withMinhashSignature(t(s, dir, "documents"), "doc_id", "text")
      val entries = cfgs.flatMap { case (b, r) =>
        DedupOps.bandKeysCfg(col("sig"), b.toInt, r.toInt)
          .zipWithIndex.map { case (k, j) =>
            struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
              lit(j).as("band"), k.as("bkey"))
          }
      }
      val banded = sig
        .select(col("doc_id"), explode(array(entries: _*)).as("e"))
        .select(col("doc_id"), col("e.bands"), col("e.rows_per_band"),
          col("e.band"), col("e.bkey"))
      val wb = Window.partitionBy(
        col("bands"), col("rows_per_band"), col("band"), col("bkey"))
      val sized = banded
        .withColumn("sz", count(lit(1)).over(wb))
        .withColumn("rn", row_number().over(wb.orderBy(col("doc_id"))))
        .filter(col("sz") >= 2)
      val swept = sized
        .groupBy(col("bands"), col("rows_per_band"))
        .agg(
          sum(when(col("rn") === 1, expr("sz * (sz - 1) div 2")))
            .as("n_cand"),
          sum(when(col("rn") === 1, 1L)).as("n_hot_buckets"),
          count_distinct(col("doc_id")).as("n_docs_in_hot"))
      import s.implicits._
      // canonical config frame: a config whose every bucket is unique
      // still emits its zero row (the oracle's per-config subselects do)
      cfgs.toDF("bands", "rows_per_band")
        .join(swept, Seq("bands", "rows_per_band"), "left")
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hot_buckets"), lit(0L)).as("n_hot_buckets"),
          coalesce(col("n_docs_in_hot"), lit(0L)).as("n_docs_in_hot"))
    }),


    // MinHash LSH candidate pairs (band bucket self-join)
    "d2b_minhash_pairs" -> ((s, dir) =>
      DedupOps.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text")),


    // 60-bit SimHash fingerprints (tf-weighted, narrow one-pass)
    "d3_simhash" -> ((s, dir) =>
      DedupOps.withSimhash(t(s, dir, "documents"), "doc_id", cleanTokens)),


    // SimHash hamming-distance pairs via 4x15-bit pigeonhole banding
    "d3b_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashHammingPairs(
        t(s, dir, "documents"), "doc_id", cleanTokens, maxHamming = 3)),


    // n-gram Jaccard verification of MinHash-LSH candidate pairs —
    // the scale pipeline: candidate generation is LSH-bounded (never
    // O(n^2)); the exact intersect runs only on candidates. One
    // array_intersect per pair: |A∪B| = |A|+|B|-|A∩B| with set sizes
    // precomputed; staged projections keep Catalyst from inlining
    // (and thus duplicating) the intersect.
    "d4_ngram_jaccard" -> ((s, dir) => {
      val (pairs, _) = DedupOps.nearDuplicatePairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.6)
      pairs
    }),


    // edit-distance verification of LSH candidate pairs (catches
    // small in-place edits that trigram Jaccard scores leniently)
    "d6_edit_distance" -> ((s, dir) =>
      DedupOps.editDistancePairs(
        t(s, dir, "documents"), "doc_id", "text", maxDist = 100)),


    // embedding-cosine near-dup pairs via sign-LSH banding — AUTO
    // band width since round 16 (the sf1 sweep measured the fixed
    // 4-bit face at 52× its sf0.1 wall: n²/16 candidates per band),
    // at the RECALL-BIASED occupancy (256): 2 fewer bits than d35's
    // tight face, 4× the candidates per bucket, still linear in n.
    "d5_embed_neardup" -> ((s, dir) =>
      SimilarityOps.embeddingNearDupPairsAuto(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.45,
        occ = DetParams.RecallBandOcc)),


    // d5 with DATA-ADAPTIVE band width — the 100 TB face: fixed
    // 4-bit bands collide a random pair per band at 2^-4, making the
    // self-join's candidate volume QUADRATIC in corpus size (52x the
    // sf0.1 wall at the 10x sf1 sweep); bits-per-band grows with one
    // driver-side count so candidates stay linear. The DuckDB oracle
    // derives the identical geometry from count(*) via the same
    // integer rule and truncates its max-width band keys.
    "d35_embed_neardup_auto" -> ((s, dir) =>
      SimilarityOps.embeddingNearDupPairsAuto(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)),


    // near-dup cluster closure: the pair detectors (d2b..d6) emit
    // pairs; an actual dedup pass needs the transitive closure and one
    // representative per cluster. MinHash-LSH candidate pairs →
    // connected components (alternating large-star/small-star,
    // O(log^2 n) shuffle rounds — never a driver-side union-find) →
    // cluster label = component-min doc id + cluster size.
    "d7_dedup_clusters" -> ((s, dir) => {
      val pairs = DedupOps.minhashCandidatePairs(
        t(s, dir, "documents"), "doc_id", "text")
      val (lab, _) = GraphOps.connectedComponents(pairs, "doc_a", "doc_b",
        assumeCanonical = true)
      lab.select(col("node").as("doc_id"), col("component").as("cluster"))
        .withColumn("csize",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
    }),


    // train/benchmark decontamination (the GPT-3-appendix pattern):
    // flag training docs sharing any word 5-gram with a held-out set.
    // The held-out split is hash-deterministic (reproducible across
    // runs/cluster sizes); gram hashes are md5 so the oracle matches
    // exactly. At 100 TB the benchmark gram set is tiny vs the corpus
    // — broadcast it; the corpus side stays narrow (explode + one
    // broadcast-join probe, no corpus shuffle before the per-doc agg).
    "d8_decontaminate" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"),
          (pmod(DedupOps.md5Hash32(col("doc_id").cast("string")), lit(10)) === 0)
            .as("is_test"))
        // streamed generator — no per-doc gram array materialized
        // (plans.NgramGenerate; the transform+slice spelling is its
        // parity oracle in NgramGenerateSpec)
        .select(col("doc_id"), col("is_test"),
          graft.plans.NgramGenerate.of(col("toks"), 5).as("ng"))
        .select(col("doc_id"), col("is_test"), md5(col("ng")).as("gh"))
      val testGrams = grams.filter(col("is_test")).select(col("gh")).distinct()
      grams.filter(!col("is_test"))
        .join(broadcast(testGrams), "gh")
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("gh")).as("n_shared"))
    }),

    // BFF/Dolma-style cross-corpus ADMISSION (Bloom pre-filter): an
    // incoming shard is screened against the already-ingested base
    // corpus at CHUNK granularity — the d15/t15 overlapping token
    // windows, the unit paragraph-level Bloom dedup actually runs at.
    // The base side's chunk fingerprints fold into a constant-size
    // Bloom bitmap (SketchOps.bloomBitmap — one narrow pass, 128 KiB
    // to the driver, shipped back as a plan literal); incoming chunks
    // probe it MAP-SIDE inside codegen, so at a healthy ingest (~all
    // chunks novel) almost nothing reaches the exchange — only
    // bloom-positives pay the exact fingerprint semi-join that
    // removes false positives. The per-doc rollup (how many of my
    // chunks already exist in base) is therefore EXACTLY the plain
    // semi-join's, which is the oracle. Base/incoming split is
    // hash-deterministic like d8/d14.
    "d29_bloom_admission" -> ((s, dir) => {
      val ch = t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"),
          (pmod(DedupOps.md5Hash32(col("doc_id").cast("string")),
            lit(5)) === 0).as("is_new"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("is_new"),
          explode(TextOps.chunkIndices("toks")).as("ci"), col("toks"))
        .select(col("doc_id"), col("is_new"),
          TextOps.chunkFingerprint(TextOps.chunkSlice("toks", "ci"))
            .as("chunk_fp"))
      SketchOps.bloomPrunedSemiJoin(
          ch.filter(col("is_new")).select(col("doc_id"), col("chunk_fp")),
          "chunk_fp",
          ch.filter(!col("is_new")).select(col("chunk_fp")), "chunk_fp")
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("chunk_fp")).as("n_shared_chunks"))
    }),

    // ExactSubstr WINDOW sweep (the d16 discipline on the d27 knob):
    // duplication readout per candidate gram window in ONE text pass
    // — duplicated-gram starts, maximal spans, docs hit, duplicated
    // token mass per W. How a practitioner prices the window choice.
    "d33_span_window_sweep" -> ((s, dir) => {
      val (sweep, _) = DedupOps.exactSubstringWindowSweep(
        t(s, dir, "documents"), "doc_id", cleanTokens, Seq(10, 20, 40))
      sweep
    }),

    // ExactSubstr span REMOVAL accounting (Lee et al. 2022 §4.1's
    // actual deduplicate step — d27's action face, the d32 of the
    // t33→t34 census→strip discipline): every duplicated span
    // stripped except the keep-one occurrence decided by the span's
    // leading gram's first corpus occurrence (struct-min, no global
    // sort). Integer strip accounting per doc.
    "d32_span_strip" -> ((s, dir) => {
      val (strip, _) = DedupOps.exactSubstringStrip(
        t(s, dir, "documents"), "doc_id", cleanTokens, window = 20)
      strip
    }),

    // SPAN-LEVEL ADMISSION census (d27 vs a static base — the d14
    // delta-vs-base shape applied to exact-substring dedup): a
    // gram of an INCOMING doc is duplicated iff it occurs anywhere in
    // the already-ingested base, islands merge exactly as in d27. The
    // base side is one distinct gram projection (a persisted index at
    // scale); per-delta cost is O(delta grams), never O(base). Base/
    // incoming split is hash-deterministic like d8/d14/d29.
    "d31_span_admission" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = pmod(DedupOps.md5Hash32(col("doc_id").cast("string")),
        lit(5)) === 0
      DedupOps.exactSubstringSpansVsBase(
        docs.filter(isNew), docs.filter(!isNew), "doc_id",
        cleanTokens, cleanTokens, window = 20)
    }),

    // INGESTION-TIME span STRIP (d31's action face, the d32 strip
    // discipline under admission semantics): every arriving doc
    // strips ALL spans duplicated against the base (the base holds
    // the canonical copy — keep-one never arises), per-doc integer
    // accounting over ALL arriving docs, stripped mass as the UNION
    // of span extents. Same hash-deterministic base/incoming split as
    // d31.
    "d34_span_strip_vs_base" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = pmod(DedupOps.md5Hash32(col("doc_id").cast("string")),
        lit(5)) === 0
      DedupOps.exactSubstringStripVsBase(
        docs.filter(isNew), docs.filter(!isNew), "doc_id",
        cleanTokens, cleanTokens, window = 20)
    }),

    // LEAKAGE-FREE train/val/test SPLIT: the d7/d21 near-dup closure
    // decides the assignment unit — every member of a connected
    // near-dup cluster lands in the SAME split (assigning by per-doc
    // hash would leak near-copies of eval documents into train, the
    // contamination Lee et al. 2022 measure). The split hashes the
    // CLUSTER label, so assignment is reproducible across runs and
    // cluster counts; singletons (docs in no candidate pair) are
    // their own unit, giving ~80/10/10 by the mod-10 ladder. At
    // 100 TB this is the d7 closure (banded LSH, never all-pairs)
    // plus one narrow hash projection — no new shuffle beyond d21's.
    "d30_leak_free_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (cc, _) = GraphOps.connectedComponents(
        DedupOps.minhashCandidatePairs(docs, "doc_id", "text"),
        "doc_a", "doc_b", assumeCanonical = true)
      val lab = cc
        .select(col("node").as("doc_id"), col("component").as("cluster"))
      val h = pmod(DedupOps.md5Hash32(
        concat(lit("split:"), col("cluster").cast("string"))), lit(10))
      docs.select(col("doc_id"))
        .join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .select(col("doc_id"), col("cluster"),
          when(h === 0, "test").when(h === 1, "val")
            .otherwise("train").as("split"))
    }),


    // duplicated-span measurement (the span-level signal behind
    // "Deduplicating Training Data Makes Language Models Better",
    // Lee et al. 2022): per doc, the fraction of its word 8-gram
    // occurrences that appear in at least one other document. Two
    // key-partitioned aggregations over the exploded gram stream —
    // the same shuffles an exact substring-dedup pass needs at scale.
    "d9_dup_spans" -> ((s, dir) => {
      val g = t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .select(col("doc_id"),
          graft.plans.NgramGenerate.of(col("toks"), 8).as("ng"))
        .select(col("doc_id"), md5(col("ng")).as("gh"))
      val gd = g.groupBy(col("gh")).agg(count_distinct(col("doc_id")).as("nd"))
      g.join(gd, "gh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
    }),


    // end-to-end corpus dedup (the d4+d7 capstone): verified near-dup
    // pairs → cluster closure → one representative per cluster
    "d10_dedup_keep" -> ((s, dir) => {
      val (keepMin, _, _) = DedupOps.dedupPipeline(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.6)
      keepMin.select(col("doc_id"), col("lang"))
    }),


    // quality-policy dedup (d10's practical variant): per near-dup
    // cluster keep the LONGEST member, not the min id — the "keep the
    // best copy" policy real corpus pipelines use
    "d11_dedup_keepbest" -> ((s, dir) => {
      val (_, keepBest, _) = DedupOps.dedupPipeline(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.6)
      keepBest(col("n_chars")).select(col("doc_id"), col("lang"), col("n_chars"))
    }),


    // BOTH keep policies from ONE LSH→verify→closure pass
    // (DedupOps.dedupPipeline): d10 and d11 as standalone
    // queries each pay the full prefix — the composed shape is what a
    // real pipeline runs when it wants to compare policies, and it
    // pays the dominant cost once (the cluster labels stay
    // materialized across both policy branches).
    "d13_dedup_policies" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (keepMin, keepBest, _) = DedupOps.dedupPipeline(
        docs, "doc_id", "text", threshold = 0.6)
      keepMin.select(col("doc_id"), lit("min_id").as("policy"))
        .unionByName(keepBest(col("n_chars"))
          .select(col("doc_id"), lit("keep_best").as("policy")))
    }),


    // incremental ingestion dedup: a delta batch (doc_id % 5 = 0
    // standing in for today's crawl) admitted against the base corpus
    // (the rest) — band-keyed delta-vs-base join, trigram-Jaccard
    // verify on collisions only, dup_of = smallest matching base id
    // (NULL = admitted). The shape that NEVER re-pairs base-vs-base:
    // per-batch cost rides the delta, not the 100 TB corpus.
    "d14_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (admitted, _) = DedupOps.incrementalDedup(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", threshold = 0.6)
      admitted
    }),


    // d14 THROUGH THE STORED SIGNATURE INDEX (r16 verdict #1): the
    // base corpus's band keys + trigram table persisted ONCE as a
    // parquet artifact (writeSignatureIndex — the t24 stage pattern),
    // then the SAME delta admitted against the index with zero
    // base-corpus text scans and zero base-side hashing. The oracle
    // is d14's SQL verbatim: the stored-index path must be
    // result-identical, not just spec-identical. (The index build is
    // timed inside the query — an honest composite; the probe's
    // `incr` mode isolates the amortized per-batch cost.)
    "d36_dedup_from_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stage = sys.props("java.io.tmpdir") +
        s"/graft_d36_${java.lang.Integer.toHexString(dir.hashCode)}"
      DedupOps.writeSignatureIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", stage, numFiles = 8)
      DedupOps.incrementalDedupFromIndex(
        s, stage, docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", threshold = 0.6)._1
    }),


    // cross-document duplicated-chunk detection over the t15 windows
    // (the exact-substring dedup readout at window granularity, Lee
    // et al. 2022): chunk fingerprints shared by 2+ DOCUMENTS, with
    // occurrence census and the min-doc keeper — repeated boilerplate
    // windows surface here even when whole documents differ. One
    // keyed agg on the fingerprint (map-side partials); the heavy
    // tail (unique fps, the vast majority) dies in the partial
    // aggregate before the shuffle.
    "d15_chunk_dups" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), cleanTokens.as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"),
          explode(TextOps.chunkIndices("toks")).as("ci"),
          col("toks"))
        .select(col("doc_id"),
          TextOps.chunkFingerprint(TextOps.chunkSlice("toks", "ci"))
            .as("chunk_fp"))
        .groupBy(col("chunk_fp"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper_doc"))
        .filter(col("n_docs") >= 2)),


    // cross-source contamination matrix (corpus governance): how many
    // near-dup candidate pairs span each (source, source) combination.
    // Rides the d2b LSH band-bucket candidates — never all-pairs; the
    // source lookup joins the 2-column doc→source projection; the
    // final matrix aggregate is |sources|² rows.
    "d12_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      DedupOps.minhashCandidatePairs(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"))
        .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(least(col("sa.source"), col("sb.source")).as("src_a"),
          greatest(col("sa.source"), col("sb.source")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    })
  )
}
