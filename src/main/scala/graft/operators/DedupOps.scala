package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for large-scale text pipelines:
  * exact hash-dedup, MinHash+LSH candidate generation, SimHash
  * fingerprints, and n-gram Jaccard verification.
  *
  * Design for 100 TB: every per-document signature here is a *narrow*
  * column expression (no shuffle, stays in one scan pass over the
  * corpus); the only shuffles are the final candidate-pair joins,
  * which are keyed on LSH band buckets so their fan-out is bounded by
  * band size, never O(n^2). The verify stage (pairwise Jaccard) runs
  * only on candidate pairs.
  *
  * All hashing routes through md5 prefixes so the DuckDB oracle can
  * reproduce values exactly (Spark `conv(substr(md5 ..))` ==
  * DuckDB `CAST('0x'||substr(md5 ..) AS BIGINT)`).
  */
object DedupOps {
  import DetParams._

  /** 32-bit base hash of a string column: first 8 md5 hex chars. */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit hash of a string column: first 15 md5 hex chars (fits
    * positive signed 64-bit in both Spark and DuckDB). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** (idCol, sig): the MinHash signature (length
    * [[DetParams.MinhashK]]) over a document's distinct character
    * trigrams, sig_i = min over shingles of (a_i*h32(s)+b_i) mod P,
    * with the expensive steps staged across separate projections:
    * trigrams → md5 hashes → K minima. CollapseProject
    * keeps multi-referenced non-trivial aliases materialized, so the
    * md5 pass runs once per document; both hashing and signature are
    * one-primitive-loop codegen expressions
    * ([[graft.plans.Md5Hash32Array]], [[graft.plans.MinHashSignature]])
    * value-identical to their built-in spellings. */
  def withMinhashSignature(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), graft.plans.HashedTrigrams32(col(textCol)).as("__hs"))
      .select(col(idCol), graft.plans.MinHashSignature(col("__hs")).as("sig"))

  /** LSH band keys from a MinHash signature: md5 over the band index
    * and its [[DetParams.MinhashRows]] signature slots. */
  def bandKeys(sig: Column): Seq[Column] =
    bandKeysCfg(sig, MinhashBands, MinhashRows)

  /** [[bandKeys]] generalized to any (bands x rows) split of the
    * signature — the d16 banding-parameter sweep evaluates several
    * splits of the SAME signature, so the key spelling must be one
    * definition. Fails loudly when the split overruns the signature:
    * `element_at` past the array end yields NULL and `concat_ws`
    * SKIPS nulls, so an oversized grid would otherwise build
    * plausible-looking keys from fewer slots than requested. */
  def bandKeysCfg(sig: Column, bands: Int, rows: Int): Seq[Column] = {
    require(bands * rows <= DetParams.MinhashK,
      s"bands*rows = ${bands * rows} exceeds signature length " +
        s"${DetParams.MinhashK}: band keys would silently drop the " +
        "NULL slots past the array end")
    (0 until bands).map { b =>
      val slots = (0 until rows).map(r =>
        element_at(sig, b * rows + r + 1))
      md5(concat_ws("_", lit(b) +: slots: _*))
    }
  }

  /** (idCol, simhash): the 60-bit SimHash over a token array
    * (duplicates = tf weighting) — bit b is set iff the sum over tokens
    * of (bit b of h60(token) ? +1 : -1) is > 0. Tokenization and
    * hashing are staged across projections so each runs once per
    * document; the fingerprint is the one-pass codegen
    * [[graft.plans.SimHash60]]. Pure narrow expression — no shuffle,
    * one corpus pass. */
  def withSimhash(df: DataFrame, idCol: String, tokens: Column): DataFrame =
    df.select(col(idCol), tokens.as("__toks"))
      .select(col(idCol), transform(col("__toks"), t => md5Hash60(t)).as("__hs"))
      .select(col(idCol), graft.plans.SimHash60(col("__hs")).as("simhash"))

  /** Near-duplicate candidate pairs by SimHash hamming distance.
    * Pigeonhole banding: a 60-bit fingerprint splits into 4 chunks of
    * 15 bits; hamming(a,b) <= 3 implies at least one identical chunk,
    * so the self-join on (chunk_idx, chunk_val) finds every such pair
    * without O(n^2) comparisons; bit_count(xor) then verifies exactly.
    * Same scale shape as MinHash LSH: narrow signature pass + bounded
    * bucket join. */
  def simhashHammingPairs(docs: DataFrame, idCol: String, tokens: Column,
                          maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4x15-bit banding guarantees recall only to hamming 3")
    val sig = withSimhash(docs, idCol, tokens)
    val banded = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map { c =>
        shiftright(col("simhash"), 15 * c).bitwiseAND(lit(0x7fffL))
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
      // shuffle-hash, not broadcast: both self-join sides then shuffle
      // the SAME child on the same keys and ReusedExchange computes the
      // simhash signature pass once (mirrors minhashCandidatePairs).
      .hint("shuffle_hash")
    banded.as("l").join(banded.as("r"),
        col("l.chunk_idx") === col("r.chunk_idx") &&
        col("l.chunk_val") === col("r.chunk_val") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"),
        col("l.simhash").as("sh_a"), col("r.simhash").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowing-style rolling-hash fingerprint: minimum over all
    * 8-char windows of the polynomial hash
    * h(w) = sum w[j]*B^(7-j) mod P (B=257, P=1e9+7). Narrow one-pass;
    * null for texts shorter than the window. Routed through the
    * codegen'd O(len) rolling expression
    * ([[graft.plans.RollingHashMin]]). */
  def rollingFingerprint(text: Column): Column =
    graft.plans.RollingHashMin(text)

  /** (id, tgh, ntg) — sorted hashed-trigram table. Sorted once per
    * document: the MinHash minima and `size` are order-invariant, and
    * sorting lets verify stages count intersections with an
    * allocation-free merge scan ([[graft.plans.SortedIntersectCount]])
    * instead of a per-pair hash-set build. Shared by the self-join
    * (d4/d10) and delta-vs-base (d14) verify paths — ONE spelling, so
    * a DetParams/sort change cannot silently diverge them. */
  private def trigramTable(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = docs
    .select(col(idCol),
      array_sort(graft.plans.HashedTrigrams32(col(textCol))).as("tgh"))
    .withColumn("ntg", size(col("tgh")))

  /** (id, band, bkey) exploded LSH band keys from a trigram table.
    * Min over distinct hashes == min over hashes-of-distinct-trigrams,
    * so the signature (and its band keys) matches the d2/d2b
    * spelling. */
  private def bandedKeys(tg: DataFrame, idCol: String): DataFrame = tg
    .select(col(idCol), graft.plans.MinHashSignature(col("tgh")).as("sig"))
    .select(col(idCol),
      posexplode(array(bandKeys(col("sig")): _*)).as(Seq("band", "bkey")))

  /** Full near-duplicate pipeline: MinHash-LSH candidate pairs →
    * exact trigram-Jaccard verify at `threshold`. The trigram table is
    * persisted for the duration of the query because three branches
    * consume it (signature derivation + both verify-join sides) and
    * Spark recomputes un-materialized lineage per branch; the
    * returned hook unpersists it (blocking) — call it after the action
    * on the result (query loops sweep instead,
    * [[graft.SparkEntry.releasePersisted]]).
    *
    * The verify stage intersects *hashed* trigram sets (distinct
    * 32-bit md5-prefix values), not strings: the persisted table is
    * array<long> instead of array<string> (~4× smaller, primitive
    * equality in the intersect), and because the DuckDB oracle hashes
    * with the identical function, any hash collision shrinks both
    * systems' sets identically — the compare is exact even though the
    * Jaccard is now over hashed-trigram space. */
  def nearDuplicatePairs(docs: DataFrame, idCol: String,
                         textCol: String, threshold: Double)
      : (DataFrame, () => Unit) = {
    val tg = trigramTable(docs, idCol, textCol).persist()
    val banded = bandedKeys(tg, idCol).hint("shuffle_hash")
    val cands = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bkey") === col("r.bkey") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
    val result = cands
      .join(tg.as("a"), col("doc_a") === col(s"a.$idCol"))
      .join(tg.as("b"), col("doc_b") === col(s"b.$idCol"))
      .select(col("doc_a"), col("doc_b"),
        graft.plans.SortedIntersectCount.of(
          col("a.tgh"), col("b.tgh")).as("i"),
        (col("a.ntg") + col("b.ntg")).as("st"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("st") - col("i"))).as("jac_raw"))
      .filter(col("jac_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jac"))
    (result, () => { tg.unpersist(blocking = true); () })
  }

  /** Near-duplicate pairs verified by edit distance: MinHash-LSH
    * candidates (never O(n^2)), then exact Levenshtein only on the
    * candidate pairs, keeping those within `maxDist`. Levenshtein is
    * O(len_a*len_b) per pair — affordable precisely because the LSH
    * gate bounds the pair count; it catches small in-place edits that
    * trigram Jaccard scores leniently. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int): DataFrame = {
    val cands = minhashCandidatePairs(docs, idCol, textCol)
      .select(col("doc_a"), col("doc_b"))
    val txt = docs.select(col(idCol), col(textCol))
    cands
      .join(txt.as("a"), col("doc_a") === col(s"a.$idCol"))
      .join(txt.as("b"), col("doc_b") === col(s"b.$idCol"))
      // |len(a)-len(b)| is a lower bound on edit distance — prunes the
      // bulk of candidates before any DP runs
      .filter(abs(length(col(s"a.$textCol")) - length(col(s"b.$textCol")))
        <= maxDist)
      // Myers bit-parallel thresholded distance ([[graft.plans
      // .EditDistanceBounded]]) — value-identical to the built-in
      // `levenshtein(a, b, maxDist)` banded DP (its parity oracle) at
      // ~40x fewer word ops per pair; q-gram prefilters cannot prune at
      // these text lengths (a trigram bound certifies <= len/3 edits),
      // so the per-pair verify itself is the thing to make fast
      .select(col("doc_a"), col("doc_b"),
        graft.plans.EditDistanceBounded.of(
          col(s"a.$textCol"), col(s"b.$textCol"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  /** End-to-end corpus deduplication — the call a pipeline actually
    * makes: MinHash-LSH candidates → exact trigram-Jaccard verify at
    * `threshold` → transitive closure of the verified pairs
    * ([[GraphOps.connectedComponents]]) → keep one representative per
    * near-dup cluster, all other cluster members anti-joined away.
    * Untouched documents pass through. Composes the d4 and d7 shapes;
    * every stage is the LSH-bounded / O(log^2 n)-round machinery
    * documented there.
    *
    * ONE pass, every keep policy derived from it: d10 (min-id
    * representative) and d11 (quality argmax) differ only in the last
    * anti-join, yet as independent operators each would re-pay the
    * candidate generation, exact verification, and O(log²n) cluster
    * closure — the dominant cost. Callers (and the composed d13
    * query) apply any number of policies against the materialized
    * cluster labels; the closure's fixpoint leaf stays persisted until
    * `release()`.
    *
    * `keepBest(quality)` keeps the cluster member maximizing `quality`
    * (id-ascending tiebreak) — the policy real pipelines want ("of
    * these near-identical pages, keep the longest / highest scoring
    * one", cf. CCNet's per-shard quality ordering). The cluster labels
    * cover only documents in a verified pair (a tiny fraction of the
    * corpus at scale), so ONLY those members enter the argmax window,
    * and the losers leave the full corpus through the same anti-join
    * as `keepMinId`: untouched documents never shuffle (the anti-
    * join's probe side is the tiny loser set, which AQE broadcasts),
    * and each window partition is one near-dup cluster — bounded
    * unless the corpus genuinely holds that many copies of one
    * document.
    *
    * Returns (keepMinId, keepBest(quality), release). */
  def dedupPipeline(docs: DataFrame, idCol: String,
                    textCol: String, threshold: Double)
      : (DataFrame, Column => DataFrame, () => Unit) = {
    val (pairs, pairsRelease) =
      nearDuplicatePairs(docs, idCol, textCol, threshold)
    val (labels, ccRelease) = GraphOps.connectedComponents(
      pairs.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b",
      // verified pairs are distinct with doc_a < doc_b (the LSH
      // self-join's condition) — the closure skips its canonicalizing
      // exchange (r18)
      assumeCanonical = true)
    // the closure materialized its edge set eagerly, so the verify
    // stage's trigram persist can be released before any action
    pairsRelease()
    val keepMin = docs.join(
      labels.filter(col("node") =!= col("component"))
        .select(col("node").as(idCol)),
      Seq(idCol), "left_anti")
    def keepBest(quality: Column): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component")).orderBy(quality.desc, col(idCol))
      val losers = docs
        .join(labels.select(col("node").as(idCol), col("component")), Seq(idCol))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > 1)
        .select(col(idCol))
      docs.join(losers, Seq(idCol), "left_anti")
    }
    (keepMin, keepBest _, ccRelease)
  }

  /** Incremental (delta-vs-base) near-duplicate admission — the
    * ingestion shape: a new batch of documents is checked against an
    * already-deduplicated base corpus WITHOUT any base-vs-base work.
    * MinHash band keys from each side meet in a band-keyed join
    * (posting-list shape, never O(|delta|*|base|)); exact trigram-
    * Jaccard verifies the collisions only; every delta doc comes back
    * with `dup_of` = the smallest matching base id (NULL = admitted).
    *
    * Scale shape: at 100 TB the base side of the band join reads a
    * PERSISTED signature index built once when the base corpus was
    * deduplicated — the point of incremental ingestion is that the
    * base text is never re-scanned per batch; the verify stage
    * fetches base trigram sets only for docs that actually collide
    * (the candidate join prunes first), so per-batch cost is
    * proportional to the delta and its collisions, not the corpus.
    * Here both sides derive signatures inline from text; the persist
    * discipline mirrors [[nearDuplicatePairs]].
    */
  def incrementalDedup(base: DataFrame, delta: DataFrame,
                       idCol: String, textCol: String,
                       threshold: Double)
      : (DataFrame, () => Unit) = {
    val baseTg = trigramTable(base, idCol, textCol).persist()
    val deltaTg = trigramTable(delta, idCol, textCol).persist()
    // band-keyed delta-vs-base join, MERGE-hinted (r17, replacing the
    // r6-era shuffle_hash): a hash build over the base band table is
    // linear in the CORPUS and cannot spill — the exact cliff the r16
    // s8/s19/d5/d35 work measured OOMing at sf1 ("not enough memory
    // to build hash map"). SortMergeJoin spills at any scale; both
    // sides here are unbounded in principle (the base IS the corpus,
    // a delta batch has no contract), so no broadcast side exists and
    // merge is the only spill-safe strategy (PlanShapeSpec pins no
    // ShuffledHashJoin). Callers with a STORED base index should use
    // [[incrementalDedupFromIndex]], which re-enables delta-side
    // broadcast under AQE stats. One row per colliding (delta, base)
    // pair after the distinct.
    val cands = bandedKeys(deltaTg, idCol).as("l").hint("merge")
      .join(bandedKeys(baseTg, idCol).as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey"))
      .select(col(s"l.$idCol").as("delta_id"), col(s"r.$idCol").as("base_id"))
      .distinct()
    val dupOf = cands
      .join(deltaTg.as("a"), col("delta_id") === col(s"a.$idCol"))
      .join(baseTg.as("b"), col("base_id") === col(s"b.$idCol"))
      .select(col("delta_id"), col("base_id"),
        graft.plans.SortedIntersectCount.of(
          col("a.tgh"), col("b.tgh")).as("i"),
        (col("a.ntg") + col("b.ntg")).as("st"))
      .filter(col("i").cast("double") / (col("st") - col("i")) >= threshold)
      .groupBy(col("delta_id"))
      .agg(min(col("base_id")).as("dup_of"))
    val admitted = delta.select(col(idCol))
      .join(dupOf, col(idCol) === col("delta_id"), "left")
      .select(col(idCol), col("dup_of"))
    (admitted, () => {
      baseTg.unpersist(blocking = true)
      deltaTg.unpersist(blocking = true)
      ()
    })
  }

  /** Persist the base corpus's dedup SIGNATURE INDEX as a stored
    * artifact — the piece [[incrementalDedup]]'s contract
    * assumes but did not ship (r16 verdict #1): without it every
    * delta batch re-derives trigrams + MinHash over the FULL base
    * corpus, i.e. per-batch cost rides the 100 TB corpus instead of
    * the batch. Built ONCE when the base is deduplicated; layout is
    * read performance ([[graft.sinks.WriteOps]] discipline):
    *
    *  - `<path>/bands` — (id, bkey) directory-partitioned by `band`
    *    ([[DetParams.MinhashBands]] dirs) and sorted by (bkey, id)
    *    within, so parquet min/max row-group stats prune bkey point
    *    lookups and the band join reads postings, not the corpus;
    *  - `<path>/trigrams` — (id, tgh, ntg) range-clustered + sorted
    *    on id, so the verify stage's fetch of COLLIDING base docs
    *    prunes to the row groups holding them.
    *
    * The text column never appears in the index: admission needs
    * signatures (band keys) and hashed trigram sets only. */
  def writeSignatureIndex(base: DataFrame, idCol: String, textCol: String,
                          path: String, numFiles: Int = 32): Unit = {
    val tg = trigramTable(base, idCol, textCol).persist()
    try {
      graft.sinks.WriteOps.partitionedSorted(
        bandedKeys(tg, idCol).select(col("band"), col("bkey"), col(idCol)),
        s"$path/bands", partitionCols = Seq("band"),
        sortCols = Seq("bkey", idCol), maxRecordsPerFile = 5000000L,
        tasksPerPartition = math.max(1, numFiles / MinhashBands))
      graft.sinks.WriteOps.sortedParquet(
        tg, s"$path/trigrams", Seq(idCol), numFiles)
    } finally tg.unpersist(blocking = true)
  }

  /** Incremental dedup admission against a STORED signature index
    * (see [[writeSignatureIndex]]) — the 100 TB ingestion shape:
    * per-batch work is the delta's own signature pass plus index
    * reads, with ZERO base-corpus text scans and zero base-side
    * hashing. Result-identical to [[incrementalDedup]] on
    * the same (base, delta) — d36 pins that against d14's oracle.
    *
    * Join strategy: UNHINTED on purpose. The premise of incremental
    * ingestion is delta ≪ base, so AQE broadcasts the delta band keys
    * and the stored band index streams through the join with NO
    * shuffle, no sort, and no corpus-sized hash build; when a batch
    * is genuinely large, AQE falls back to sort-merge, which spills
    * (PlanShapeSpec pins that ShuffledHashJoin never appears). The
    * verify stage joins the candidate pairs (collision-bounded) back
    * to the stored trigram table the same way — base trigram sets are
    * fetched only for docs that actually collide. */
  def incrementalDedupFromIndex(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String, delta: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double)
      : (DataFrame, () => Unit) = {
    val deltaTg = trigramTable(delta, idCol, textCol).persist()
    val baseBands = spark.read.parquet(s"$indexPath/bands")
      .select(col("band").cast("int").as("band"), col("bkey"),
        col(idCol))
    val baseTg = spark.read.parquet(s"$indexPath/trigrams")
    val cands = bandedKeys(deltaTg, idCol).as("l")
      .join(baseBands.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey"))
      .select(col(s"l.$idCol").as("delta_id"), col(s"r.$idCol").as("base_id"))
      .distinct()
      .persist()
    // SEMI-PRUNE the stored trigram table to colliding ids BEFORE the
    // verify join (measured at the ×40 incr probe: without it the
    // fetch planned as an SMJ that shuffled + sorted the ENTIRE
    // base-sized trigram table per batch — the one base-proportional
    // stage left in the admit). The broadcast side is one id per
    // colliding base doc — collision-bounded, 8 bytes/doc — so the
    // trigram table STREAMS through a broadcast semi filter: per-batch
    // base cost is two streaming index scans, no shuffle, no sort.
    //
    // GUARDED (r18, r17 verdict item 3): a HIGH-duplication corpus —
    // the population dedup exists for — can make the colliding-id set
    // a large fraction of the base, and an unconditional broadcast of
    // it would OOM the driver building the hash relation. The id set
    // is counted first (one cheap job that also fills the cands
    // persist both consumers read); at or under the bound (2²² ids =
    // 32 MB of packed longs, ~10x that as a built hash relation —
    // driver-memory math, not a data tune; override
    // -Dgraft.d36.broadcastIds) it broadcasts exactly as before,
    // above it the semi join runs UNHINTED so AQE plans a spillable
    // sort-merge (or its own broadcast if runtime stats allow) —
    // IncrementalIndexSpec pins the fallback plan has no broadcast of
    // the id set and stays result-identical.
    val hitIds = cands.select(col("base_id")).distinct()
    val maxBroadcastIds = sys.props.get("graft.d36.broadcastIds")
      .flatMap(_.toLongOption).getOrElse(1L << 22)
    val prune =
      if (hitIds.count() <= maxBroadcastIds) broadcast(hitIds) else hitIds
    val baseHit = baseTg.join(prune,
      col(idCol) === col("base_id"), "left_semi")
    val dupOf = cands
      .join(deltaTg.as("a"), col("delta_id") === col(s"a.$idCol"))
      .join(baseHit.as("b"), col("base_id") === col(s"b.$idCol"))
      .select(col("delta_id"), col("base_id"),
        graft.plans.SortedIntersectCount.of(
          col("a.tgh"), col("b.tgh")).as("i"),
        (col("a.ntg") + col("b.ntg")).as("st"))
      .filter(col("i").cast("double") / (col("st") - col("i")) >= threshold)
      .groupBy(col("delta_id"))
      .agg(min(col("base_id")).as("dup_of"))
    val admitted = delta.select(col(idCol))
      .join(dupOf, col(idCol) === col("delta_id"), "left")
      .select(col(idCol), col("dup_of"))
    // cands persisted because BOTH the semi-prune's broadcast side
    // and the verify join consume it — recomputing would re-scan the
    // band index (a base-sized read) a second time per batch
    (admitted, () => {
      deltaTg.unpersist(blocking = true)
      cands.unpersist(blocking = true)
      ()
    })
  }

  /** EMPIRICAL LSH candidate recall/precision on a bounded gold
    * subset — the measurement companion to the d16 analytic banding
    * sweep: d16 prices candidate VOLUME from the band histogram;
    * this measures what fraction of TRUE >= `threshold` pairs the
    * current banding actually surfaces (recall — missed pairs are
    * dedup leakage) and what fraction of surfaced candidates are
    * true (precision — the verify stage's hit rate). The gold
    * subset is the `goldN` documents smallest by md5(id): an
    * ABSOLUTELY bounded TakeOrdered cutoff, never a corpus-growing
    * fraction, so the exact all-pairs verify is O(goldN²) work at
    * ANY corpus size — the one place an all-pairs join is correct,
    * because its input size is a constant of the config, not of the
    * data. One row: counts + recall/precision in micro-units, and a
    * hook releasing the persisted gold-subset trigram table (the
    * [[nearDuplicatePairs]] discipline). */
  def lshCandidateRecall(docs: DataFrame, idCol: String,
                         textCol: String, threshold: Double,
                         goldN: Int): (DataFrame, () => Unit) = {
    val gold = docs
      .select(col(idCol), col(textCol))
      .orderBy(md5Hash32(col(idCol).cast("string")), col(idCol))
      .limit(goldN)
    val tg = trigramTable(gold, idCol, textCol).persist()
    val exact = tg.as("a")
      .join(tg.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        graft.plans.SortedIntersectCount.of(
          col("a.tgh"), col("b.tgh")).as("i"),
        (col("a.ntg") + col("b.ntg")).as("st"))
      .filter(col("i").cast("double") / (col("st") - col("i")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val banded = bandedKeys(tg, idCol).hint("shuffle_hash")
    val cands = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bkey") === col("r.bkey") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
    val hits = exact
      .join(cands.withColumn("c", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        // sum over ZERO rows (no true pairs) is NULL, not 0
        coalesce(sum(coalesce(col("c"), lit(0L))), lit(0L)).as("n_hit"))
    val out = gold.agg(count(lit(1)).as("n_docs"))
      .crossJoin(hits)
      .crossJoin(cands.agg(count(lit(1)).as("n_cand")))
      .select(col("n_docs"), col("n_true").as("n_true_pairs"),
        col("n_cand").as("n_cand_pairs"), col("n_hit"),
        expr("CASE WHEN n_true = 0 THEN 0L " +
          "ELSE (1000000 * n_hit) div n_true END").as("recall_mu"),
        expr("CASE WHEN n_cand = 0 THEN 0L " +
          "ELSE (1000000 * n_hit) div n_cand END").as("cand_precision_mu"))
    (out, () => { tg.unpersist(blocking = true); () })
  }

  /** [[lshCandidateRecall]] across a banding-config GRID — the
    * empirical face of the d16 analytic sweep, on one shared gold
    * subset: exact truth computed ONCE, every config's band keys
    * ride one exploded entry array (the d16 single-pass device), and
    * each config gets (candidates, hits, recall, precision). d16
    * prices what a config COSTS (candidate volume); this measures
    * what it BUYS (true-pair coverage) — together they are the
    * banding cost/benefit table, derived from data instead of the
    * S-curve assumption. Bounded exactly like [[lshCandidateRecall]],
    * and its hook releases the same one persist (the gold trigram
    * table). Each caller-supplied config is validated against the
    * signature length up front (see [[bandKeysCfg]]) so a bad grid
    * fails loudly before any Spark job runs. */
  def lshRecallSweep(docs: DataFrame, idCol: String,
                     textCol: String, threshold: Double,
                     goldN: Int, cfgs: Seq[(Int, Int)])
      : (DataFrame, () => Unit) = {
    val gold = docs
      .select(col(idCol), col(textCol))
      .orderBy(md5Hash32(col(idCol).cast("string")), col(idCol))
      .limit(goldN)
    val tg = trigramTable(gold, idCol, textCol).persist()
    val exact = broadcast(tg.as("a")
      .join(tg.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        graft.plans.SortedIntersectCount.of(
          col("a.tgh"), col("b.tgh")).as("i"),
        (col("a.ntg") + col("b.ntg")).as("st"))
      .filter(col("i").cast("double") / (col("st") - col("i")) >= threshold)
      .select(col("doc_a"), col("doc_b")))
    val sig = tg.select(col(idCol),
      graft.plans.MinHashSignature(col("tgh")).as("sig"))
    val entries = cfgs.flatMap { case (b, r) =>
      bandKeysCfg(col("sig"), b, r).zipWithIndex.map { case (k, j) =>
        struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(j).as("band"), k.as("bkey"))
      }
    }
    val banded = sig
      .select(col(idCol), explode(array(entries: _*)).as("e"))
      .select(col(idCol), col("e.bands").as("bands"),
        col("e.rows_per_band").as("rows_per_band"),
        col("e.band").as("band"), col("e.bkey").as("bkey"))
      .hint("shuffle_hash")
    val cands = banded.as("l").join(banded.as("r"),
        col("l.bands") === col("r.bands") &&
        col("l.rows_per_band") === col("r.rows_per_band") &&
        col("l.band") === col("r.band") &&
        col("l.bkey") === col("r.bkey") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col("l.bands").as("bands"),
        col("l.rows_per_band").as("rows_per_band"),
        col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
    // Candidate volume and gold-hit count in ONE pass: left-mark each
    // candidate pair against the (broadcast) gold-pair table and fold
    // both counts in a single per-config aggregation. Round 13: the
    // previous spelling persisted `cands` and scanned it twice (one
    // groupBy for volume, a second join+groupBy for hits) — the merged
    // pass drops the persist, one full scan of the pair set, and two
    // materialization jobs; the output is hash-identical.
    val scored = cands
      .join(broadcast(exact.withColumn("is_hit", lit(1L))),
        Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("is_hit"), lit(0L))).as("n_hit"))
    val out = scored
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_true"))))
      .select(col("bands"), col("rows_per_band"), col("n_true"),
        col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_true = 0 THEN 0L " +
          "ELSE (1000000 * n_hit) div n_true END").as("recall_mu"),
        expr("CASE WHEN n_cand = 0 THEN 0L " +
          "ELSE (1000000 * n_hit) div n_cand END").as("cand_precision_mu"))
    (out, () => {
      tg.unpersist(blocking = true)
      ()
    })
  }

  /** Candidate near-duplicate pairs via MinHash LSH: explode band
    * keys, self-join per bucket, dedup pairs. The shuffle is keyed on
    * band buckets; with b bands the corpus is scanned once and
    * shuffled b times its signature size (not its text size). */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = withMinhashSignature(docs, idCol, textCol)
    val banded = sig.select(
      col(idCol),
      posexplode(array(bandKeys(col("sig")): _*)).as(Seq("band", "bkey")))
      // shuffle-hash, not broadcast: both sides of the self-join then
      // shuffle the SAME child plan on the same keys, so Spark's
      // ReusedExchange computes the signature pass once instead of
      // once per side (a broadcast build would re-derive it).
      .hint("shuffle_hash")
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bkey") === col("r.bkey") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Cluster-size census from a MATERIALIZED label table — the
    * 100 TB composition shape: a governance census runs long after
    * the dedup pass, against the (node, component) label table the
    * closure wrote, and must never re-pay the LSH candidate
    * generation or the O(log²n) closure. Inputs: the corpus (only
    * its row COUNT is read — one 1-row agg over any narrow column)
    * and the label table covering exactly the clustered documents.
    * Output: (csize, n_clusters, n_docs) per cluster size, with the
    * singleton remainder derived arithmetically (docs minus labeled
    * nodes), never via a join against the corpus. Cost above the
    * materialized inputs: one component-keyed agg over |labels| rows
    * plus two 1-row counts. */
  def clusterSizeCensusFromLabels(docs: DataFrame,
                                  labels: DataFrame): DataFrame = {
    val hist = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      .select(col("csize"), col("n_clusters"),
        (col("csize") * col("n_clusters")).as("n_docs"))
    val singles = docs.agg(count(lit(1)).as("nd"))
      .crossJoin(labels.agg(count(lit(1)).as("nl")))
      .select(lit(1L).as("csize"),
        (col("nd") - col("nl")).as("n_clusters"),
        (col("nd") - col("nl")).as("n_docs"))
    // closure components have >= 2 nodes, so size 1 exists only in
    // the singleton branch — the union cannot double-count a size
    hist.unionByName(singles).filter(col("n_clusters") > 0)
  }

  /** Full per-document cluster-label table from a materialized
    * (node, component) closure: EVERY corpus document labeled —
    * clustered docs carry their component and its size, singletons
    * their own id with csize 1. This is the table a 100 TB pipeline
    * writes once after the closure; d7's member view (filter
    * csize >= 2), d20's census (group by csize), and any keep policy
    * are then cheap readouts that never re-run LSH or the closure.
    * Shape: the label side is the clustered fraction (tiny next to
    * the corpus — AQE broadcasts it), sizes are one component-keyed
    * agg over it; the corpus itself is touched once, narrow. */
  def fullClusterLabels(docs: DataFrame, idCol: String,
                        labels: DataFrame): DataFrame = {
    val sized = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
    val lab = labels.select(col("node"), col("component"))
      .join(sized, Seq("component"))
    docs.select(col(idCol))
      .join(lab, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"),
        coalesce(col("csize"), lit(1L)).as("csize"))
  }

  /** The (doc_id, pos, gh) gram table behind [[exactSubstringSpans]]
    * and [[exactSubstringSpansVsBase]] — one shared spelling so the
    * batch, vs-base, and probe paths cannot silently diverge.
    * Emitted by [[graft.plans.GramHashGenerate]] (r15): the old
    * `posexplode(transform(sequence(...)))` spelling materialized the
    * whole per-document gram array — ~30 MB in ONE row buffer for a
    * 10⁶-token document — before Generate could stream it; the
    * generator streams (pos, gh) rows from one token-byte resolution
    * with byte-identical MD5 values (GramGenerateSpec pins parity
    * against the built-in spelling). */
  private def substringGramTable(docs: DataFrame, idCol: String,
                                 tokens: Column, window: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens.as("toks"))
      .select(col("doc_id"),
        graft.plans.GramHashGenerate.of(col("toks"), window)
          .as(Seq("pos", "gh")))

  /** The duplicated-gram census stage of [[exactSubstringSpans]] in
    * isolation, in the operator's OWN spelling (persisted gram table
    * → partial-aggregating groupBy census → join-back — so the probe
    * times the stage as it actually executes, hot grams included):
    * one row per duplicated-gram OCCURRENCE, (doc_id, pos, gh, occ),
    * occ ≥ 2. Exposed for the ScaleProbe d27/skew modes, which time
    * the census and the full span operator separately. Persists the
    * gram table for the query's duration (released by the query
    * loop's [[graft.SparkEntry.releasePersisted]] sweep or the session
    * LRU — probe-side face, not a library loop surface). */
  def exactSubstringDupGramCensus(docs: DataFrame, idCol: String,
                                  tokens: Column, window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2 tokens")
    val grams = substringGramTable(docs, idCol, tokens, window).persist()
    val census = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    grams.join(census, Seq("gh"))
      .select(col("doc_id"), col("pos"), col("gh"), col("occ"))
  }

  /** EXACT SUBSTRING duplicate spans at arbitrary boundaries — the
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", §4.1 ExactSubstr) spine re-expressed as Spark
    * relational algebra instead of a suffix array. d9/d15 fingerprint
    * fixed chunks; this finds the MAXIMAL duplicated token spans at
    * any offset:
    *
    *  1. every `window`-token n-gram of every document fingerprinted
    *     (unhex(md5) — 16 BYTES of binary key, not the 32-char hex
    *     string: the gram table is the dominant exchange and the key
    *     is most of each row, so halving it halves the shuffle; at
    *     128 bits a collision across 10¹² grams is ~10⁻¹³, and the
    *     100 TB user swaps in a longer hash, not a different plan);
    *  2. a gram is DUPLICATED iff it occurs ≥ 2 times corpus-wide
    *     (cross-document or self-repetition alike — ExactSubstr
    *     semantics); the census is a partial-aggregating
    *     `groupBy(gh).count()` over the PERSISTED gram table,
    *     semi-joined back (r15 — the skew-safe spelling, see below);
    *     posting-list shape, never all-pairs;
    *  3. runs of CONSECUTIVE duplicated start positions merge into
    *     maximal spans (gaps-and-islands: island = pos − row_number
    *     per doc — the Window is partitioned by document, bounded by
    *     document length, never global).
    *
    * A span [s, e] in the output means every `window`-gram starting
    * in [s, e−window+1] occurs elsewhere — the standard distributed
    * relaxation of suffix-array maximality (a span is reported once,
    * with its full extent, not once per window). Output:
    * (doc_id, span_start, span_end, span_tokens), positions 0-based
    * token indices, span_tokens ≥ window by construction.
    *
    * CENSUS SPELLING (r15, replacing the r14 gh-window): real web
    * corpora carry boilerplate grams with 10⁸–10⁹ occurrences, and a
    * `count() OVER (PARTITION BY gh)` window routes EVERY occurrence
    * of such a gram to one task — a single-task multi-GB sort that
    * AQE's skew mitigation cannot split (it applies to joins, not
    * windows). The census is therefore a `groupBy(gh).count()`:
    * partial aggregation bounds the hot key to ONE partial row per
    * map partition before the exchange, so no reducer ever sees the
    * hot gram's row mass. The duplicated-gram set then joins back to
    * the gram table — broadcast when it is small (no gram exchange at
    * all), sort-merge with AQE's OptimizeSkewedJoin splitting the hot
    * gram's partition when it is not (skew-join mitigation DOES apply
    * here — that is the point of spelling the census as a join). The
    * gram table is PERSISTED so both branches read one explode
    * (census+join without it pays the Generate twice — r14 audit;
    * PlanShapeSpec pins both branches to InMemoryTableScan); the
    * returned hook releases it (the [[nearDuplicatePairs]]
    * discipline).
    *
    * 100 TB shape: the gram table is O(total tokens) narrow rows
    * (id, pos, 16-byte hash), persisted once (MEMORY_AND_DISK — the
    * suffix-array reference materializes comparable state);
    * exchanges are the census partials (gh, count — narrower than
    * the gram rows, hot keys pre-combined map-side) and, only in the
    * non-broadcast regime, one AQE-skew-split gram exchange for the
    * join-back; the doc-keyed island window sees ONLY duplicated
    * rows. One gram explode total. Nothing quadratic, nothing
    * driver-side, no single-task hot-key funnel. */
  def exactSubstringSpans(docs: DataFrame, idCol: String,
                          tokens: Column, window: Int)
      : (DataFrame, () => Unit) = {
    require(window >= 2, "window must be >= 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val grams = substringGramTable(docs, idCol, tokens, window).persist()
    // skew-safe census: partial-aggregating groupBy (hot gram → one
    // partial row per map partition), never a gh window (all hot-gram
    // occurrences on one task, no AQE mitigation for windows)
    val dup = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("gh"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val out = grams.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + window - 1).cast("long").as("span_end"),
        (max(col("pos")) - min(col("pos")) + window).cast("long")
          .as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
    (out, () => { grams.unpersist(blocking = true); () })
  }

  /** The ACTION face of [[exactSubstringSpans]] — ExactSubstr span
    * REMOVAL with keep-one-occurrence semantics (Lee et al. 2022
    * §4.1 deduplicate, not just measure): every maximal duplicated
    * span is stripped from every document EXCEPT the one canonical
    * occurrence, decided by the span's LEADING gram: a span survives
    * iff its (doc_id, span_start) is the lexicographic minimum over
    * ALL corpus occurrences of that leading gram. Exactly one span
    * per leading-gram group survives when the minimum occurrence is
    * itself a span start; when the minimum lies MID-span elsewhere
    * (an overlapping longer run already keeps that content), the
    * group conservatively strips everything — the distributed
    * relaxation of suffix-array keep-one (global occurrence order
    * without a global sort), erring toward removal, never toward
    * keeping two copies.
    *
    * Output is the per-doc strip accounting (the t34 discipline):
    * (doc_id, n_tokens, n_spans, n_spans_stripped, n_tokens_stripped,
    * n_tokens_kept), all integers — n_tokens_kept = n_tokens −
    * n_tokens_stripped, docs without spans keep everything.
    *
    * n_tokens_stripped is the size of the UNION of the stripped
    * spans' token extents, NOT the sum of their lengths: two islands
    * whose duplicated START runs are separated by a gap g < window
    * have OVERLAPPING token extents (starts {0} and {2} at W=5 cover
    * [0,4] and [2,6] — 7 distinct tokens, not 10), so summing
    * span_tokens double-counts the overlap and can push
    * n_tokens_kept negative (r14 advice). The union is a second
    * gaps-and-islands pass over the per-doc stripped extents — a
    * spans-sized table, negligible next to the gram exchanges.
    *
    * 100 TB shape: d27's exact plan — ONE gram explode (persisted),
    * ONE skew-safe census `groupBy(gh)` whose partial aggregation
    * computes BOTH the occurrence count and the first-occurrence
    * struct-min map-side (hot grams pre-combined before the
    * exchange — see [[exactSubstringSpans]]'s census note), a
    * join-back (broadcast or AQE-skew-split), the doc-keyed island
    * merge carrying the leading gram's first_occ out via
    * `min_by(first_occ, pos)`, and a per-doc agg. The keep-one
    * decision adds ZERO shuffles on top of d27. The returned hook
    * releases the gram-table persist (the [[nearDuplicatePairs]]
    * discipline). */
  def exactSubstringStrip(docs: DataFrame, idCol: String,
                          tokens: Column, window: Int)
      : (DataFrame, () => Unit) = {
    require(window >= 2, "window must be >= 2 tokens")
    import org.apache.spark.sql.expressions.Window
    // same skew-safe census device as [[exactSubstringSpans]], with
    // the first corpus occurrence computed by the SAME aggregation
    val grams = substringGramTable(docs, idCol, tokens, window).persist()
    val census = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first_occ"))
      .filter(col("occ") >= 2)
      .select(col("gh"), col("first_occ"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = grams.join(census, Seq("gh"))
      .select(col("doc_id"), col("pos"), col("first_occ"))
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + window).cast("long")
          .as("span_tokens"),
        min_by(col("first_occ"), col("pos")).as("lead_first_occ"))
    // the span's leading gram decides the keeper: compare the span's
    // own coordinate to that gram's first corpus occurrence
    val decided = spans
      .select(col("doc_id"), col("span_start"), col("span_tokens"),
        // field names must match first_occ's (doc_id, pos) for the
        // struct comparison to typecheck
        (col("lead_first_occ") === struct(col("doc_id"),
          col("span_start").cast("int").as("pos"))).as("keep"))
    val counts = decided.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_spans_stripped"))
    val mass = mergedExtentMass(decided.filter(!col("keep"))
      .select(col("doc_id"), col("span_start").cast("long").as("s"),
        (col("span_start") + col("span_tokens") - 1).cast("long").as("e")))
    val out = docs.select(col(idCol).as("doc_id"),
        size(tokens).cast("long").as("n_tokens"))
      .join(counts, Seq("doc_id"), "left")
      .join(mass, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_spans_stripped"), lit(0L)).as("n_spans_stripped"),
        coalesce(col("n_tokens_stripped"), lit(0L)).as("n_tokens_stripped"),
        (col("n_tokens") - coalesce(col("n_tokens_stripped"), lit(0L)))
          .as("n_tokens_kept"))
    (out, () => { grams.unpersist(blocking = true); () })
  }

  /** Union token mass of possibly-overlapping per-doc extents
    * (doc_id, s, e), inclusive bounds — the interval-merge
    * gaps-and-islands pass behind [[exactSubstringStrip]]'s (and the
    * vs-base strip's) n_tokens_stripped: extents whose start exceeds
    * the running max end of all earlier extents open a new merged
    * island; each island contributes max(e)−min(s)+1. Output:
    * (doc_id, n_tokens_stripped). Operates on a SPANS-sized table
    * (per-doc window, bounded by per-doc span count). */
  private def mergedExtentMass(extents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    extents
      .withColumn("brk",
        when(col("s") > coalesce(
            max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(-1L)),
          1L).otherwise(0L))
      .withColumn("grp", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("e")) - min(col("s")) + 1L).as("m"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens_stripped"))
  }

  /** [[exactSubstringSpans]] against a STATIC BASE corpus — the
    * incremental/streaming variant (the d14 delta-vs-base shape
    * applied to span dedup): a gram of an ARRIVING document is
    * duplicated iff it occurs ANYWHERE in `base`, and maximal runs of
    * duplicated gram starts merge into spans exactly as in the batch
    * operator. Because the census side is the static base alone, a
    * document's spans are a function of (document, base) only —
    * independent of which micro-batch delivered it or what else
    * shares the batch. That invariance is what lets a foreachBatch
    * writer run it per micro-batch (d31 is its batch face).
    *
    * 100 TB shape: identical to d27's — the base gram set is one
    * distinct projection, the delta side explodes only the arriving
    * batch, and the join is a semi-join on the 16-byte binary key.
    * The semi-join is skew-safe: a hot boilerplate gram in the
    * ARRIVING batch is join-side skew (AQE splits it), and the
    * gram-set side carries one row per gh. Per-batch cost is O(batch
    * grams), never O(base). */
  def exactSubstringSpansVsBase(delta: DataFrame, base: DataFrame,
                                idCol: String, deltaTokens: Column,
                                baseTokens: Column, window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    substringGramTable(delta, idCol, deltaTokens, window)
      .join(baseGramSet(base, idCol, baseTokens, window), Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + window - 1).cast("long").as("span_end"),
        (max(col("pos")) - min(col("pos")) + window).cast("long")
          .as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
  }

  /** The distinct base gram set behind [[exactSubstringSpansVsBase]]
    * — (gh) only, occurrence counts are irrelevant to admission,
    * presence is. */
  def baseGramSet(base: DataFrame, idCol: String, tokens: Column,
                  window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2 tokens")
    substringGramTable(base, idCol, tokens, window)
      .select(col("gh")).distinct()
  }

  /** ACTION face of [[exactSubstringSpansVsBase]] — the d32 strip
    * discipline under admission semantics: an ARRIVING document
    * strips EVERY span duplicated against the base (the base already
    * holds the canonical copy, so no keep-one decision arises — the
    * arriving occurrence is never the first), with per-doc integer
    * accounting over ALL delta docs (span-free docs keep everything).
    * n_tokens_stripped is the UNION of span extents (overlapping
    * islands counted once — the d32 rule). Output: (doc_id, n_tokens,
    * n_spans, n_tokens_stripped, n_tokens_kept).
    *
    * 100 TB shape: [[exactSubstringSpansVsBase]]'s plan plus two
    * spans-sized passes (interval merge + per-doc agg) — per-batch
    * cost stays O(batch grams), never O(base). */
  def exactSubstringStripVsBase(delta: DataFrame, base: DataFrame,
                                idCol: String, deltaTokens: Column,
                                baseTokens: Column, window: Int): DataFrame =
    stripAccounting(delta, idCol, deltaTokens,
      exactSubstringSpansVsBase(delta, base, idCol, deltaTokens,
        baseTokens, window))

  /** Per-doc strip accounting over a (doc_id, span_start, span_end,
    * span_tokens) span table where EVERY span strips: span count from
    * one spans-sized agg, stripped token mass from
    * [[mergedExtentMass]] (union of extents, the d32 overlap rule). */
  private def stripAccounting(delta: DataFrame, idCol: String,
                              deltaTokens: Column,
                              spans: DataFrame): DataFrame = {
    val counts = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))
    val mass = mergedExtentMass(spans.select(col("doc_id"),
      col("span_start").as("s"), col("span_end").as("e")))
    delta.select(col(idCol).as("doc_id"),
        size(deltaTokens).cast("long").as("n_tokens"))
      .join(counts, Seq("doc_id"), "left")
      .join(mass, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_tokens_stripped"), lit(0L)).as("n_tokens_stripped"),
        (col("n_tokens") - coalesce(col("n_tokens_stripped"), lit(0L)))
          .as("n_tokens_kept"))
  }

  /** WINDOW-SIZE SWEEP for [[exactSubstringSpans]] — the d16
    * discipline applied to the ExactSubstr knob: per candidate gram
    * window W, the corpus-level duplication readout a practitioner
    * prices W with (Lee et al. 2022 use 50 BPE tokens; the right
    * word-token W is corpus-dependent). ONE text pass: every row
    * explodes its grams for ALL windows at once (tagged (w, pos,
    * gh)), the occurrence census is the d27 window partitioned by
    * (w, gh), islands merge per (w, doc), and the final agg folds to
    * one row per window:
    * (gram_window, n_dup_gram_starts, n_spans, n_docs, span_tokens)
    * — duplicated-gram starts, maximal spans, documents hit, and
    * total duplicated token mass. All counts exact/integer.
    *
    * 100 TB shape: d27's plan with the gram table Σ_W (len−W+1)
    * rows instead of one window's — the sweep costs the UNION of its
    * windows in one pass, never a pass per window; everything after
    * the explode is the same census/island algebra keyed one level
    * wider ((w, gh) census groupBy — skew-safe like d27's, see
    * [[exactSubstringSpans]]). Output is |windows| rows, and the
    * returned hook releases the gram-table persist (the
    * [[nearDuplicatePairs]] discipline). */
  def exactSubstringWindowSweep(docs: DataFrame, idCol: String,
                                tokens: Column, windows: Seq[Int])
      : (DataFrame, () => Unit) = {
    require(windows.nonEmpty && windows.forall(_ >= 2),
      "windows must be >= 2 tokens")
    require(windows.distinct.size == windows.size,
      "duplicate window sizes would double-count the census")
    import org.apache.spark.sql.expressions.Window
    // one generator emits EVERY window's (w, pos, gh) rows from one
    // token resolution — the old flatten(array(perWindow)) spelling
    // built Σ_W (len−W+1) structs in one row buffer (~90 MB for a
    // 10⁶-token doc at this sweep) before the explode could stream
    val grams = docs
      .select(col(idCol).as("doc_id"), tokens.as("toks"))
      .select(col("doc_id"),
        graft.plans.GramHashSweepGenerate.of(col("toks"), windows)
          .as(Seq("w", "pos", "gh")))
      .persist()
    // skew-safe (w, gh) census — see [[exactSubstringSpans]]
    val dup = grams.groupBy(col("w"), col("gh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("w"), col("gh"))
    val wd = Window.partitionBy(col("w"), col("doc_id")).orderBy(col("pos"))
    val out = grams.join(dup, Seq("w", "gh"), "left_semi")
      .select(col("w"), col("doc_id"), col("pos"))
      .withColumn("isl", col("pos") - row_number().over(wd))
      .groupBy(col("w"), col("doc_id"), col("isl"))
      .agg(
        (max(col("pos")) - min(col("pos")) + 1).cast("long").as("n_starts"),
        (max(col("pos")) - min(col("pos")) + col("w")).cast("long")
          .as("span_tokens"))
      .groupBy(col("w"))
      .agg(
        sum(col("n_starts")).as("n_dup_gram_starts"),
        count(lit(1)).as("n_spans"),
        count_distinct(col("doc_id")).as("n_docs"),
        sum(col("span_tokens")).as("span_tokens"))
      .select(col("w").cast("int").as("gram_window"),
        col("n_dup_gram_starts"), col("n_spans"), col("n_docs"),
        col("span_tokens"))
    (out, () => { grams.unpersist(blocking = true); () })
  }
}
