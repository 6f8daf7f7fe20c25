package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-normalization operator chain re-expressed as pure built-in
  * `Column` expressions (fully whole-stage-codegen'd; zero UDFs).
  *
  * Semantics pinned to the reference pipeline's cleaning UDF
  * (`consumer_local.py:46-48`):
  * `re.sub(r"[^A-Za-z\n ]|(http\S+)|(www.\S+)", "", s.lower().strip()).split()`
  *  - lowercase, trim
  *  - delete every char outside `[A-Za-z\n ]`, and whole `http…`/`www…`
  *    runs (dot in `www.\S+` is an unescaped any-char, kept as-is)
  *  - whitespace tokenization dropping empty tokens (Python `.split()`)
  *
  * Stop-word removal mirrors the reference model's StopWordsRemover
  * stage (181-word English list, case-insensitive;
  * `pre_trained_model/stages/0_StopWordsRemover_…/metadata/part-00000:1`).
  */
object TextOps {

  /** The reference's cleaning regex, Java-regex spelling. Applied after
    * lower() so `A-Z` never matches (kept for as-written parity). */
  val CleanRegex: String = "[^A-Za-z\\n ]|(http\\S+)|(www.\\S+)"

  /** lower + trim + regex-delete. String -> String. (The literal
    * reference spelling — [[cleanTokens]]' ground truth; the hot path
    * runs the fused scanner instead.) */
  def clean(c: Column): Column =
    regexp_replace(lower(trim(c)), CleanRegex, "")

  /** Whitespace tokenization with empty tokens dropped (Python
    * `.split()` semantics — Spark's `split` keeps boundary empties). */
  def tokenize(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > lit(0))

  /** Reference clean+tokenize as the literal regex chain — kept as
    * the executable ground truth [[graft.CleanTokensSpec]] pins the
    * fused scanner against. */
  def cleanTokensReference(c: Column): Column = tokenize(clean(c))

  /** Full clean+tokenize chain: String -> Array[String].
    *
    * Round 8: the regex chain was measured tokenization-BOUND on the
    * scoring path (~1k docs/s/core vs BASELINE.md's ≥10⁴ target; the
    * LR scoring UDF added nothing measurable), so the regex-delete +
    * split + empty-drop stages now run as ONE byte scan
    * ([[graft.plans.CleanTokens]], codegen'd) with spec-pinned
    * byte-equality to the regex spelling on the real corpus and
    * adversarial inputs. `lower`/`trim` stay built-ins in front. */
  def cleanTokens(c: Column): Column =
    graft.plans.CleanTokens.of(lower(trim(c)))

  /** The 181-word English stop list used by the reference model's
    * StopWordsRemover stage (Spark ML default English list). The
    * artifact's metadata inlines its own copy of the list; the word-by-
    * word identity with this one is checked only where the artifact is
    * mounted (FixtureModelSpec), and [[graft.ml.FixtureModel]] serves
    * this list when it is not. */
  lazy val englishStopWords: Array[String] =
    org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("english")

  private lazy val stopWordsLower: Set[String] =
    englishStopWords.map(_.toLowerCase(java.util.Locale.UK)).toSet

  /** Case-insensitive stop-word filter over an Array[String] column.
    * Built-ins only, no shuffle, no UDF: `isInCollection` plants an
    * `In` that the optimizer rewrites to `InSet` (hash-set membership,
    * O(1) per token) — vs the O(|stoplist|) linear scan an
    * `array_contains(lit(...))` spelling would do per token. */
  def removeStopWords(tokens: Column): Column =
    filter(tokens, t => !lower(t).isInCollection(stopWordsLower.toSeq.sorted))

  /** Comma scrub (producer.py:40 `text.replace(',', '')`). */
  def scrubCommas(c: Column): Column = regexp_replace(c, ",", "")

  // ---- token-window chunking (t15/t16/d15) --------------------------
  // ONE spelling shared by every query that chunks
  // (the d14/d4 lesson: parity guaranteed by copy-paste is parity
  // until the first isolated edit). The DuckDB twin is generated from
  // the same constants in OracleSql.chunkWindowSql.

  /** Tokens per chunk window. */
  val ChunkSize: Int = 32

  /** Window stride (ChunkSize - stride tokens of overlap). */
  val ChunkStride: Int = 24

  /** 0-based chunk indices for a token-array column (by name):
    * floor((n-1)/stride)+1 windows; callers pre-filter size >= 1. */
  def chunkIndices(toksName: String): Column =
    org.apache.spark.sql.functions.expr(
      s"sequence(0, (size($toksName) - 1) div $ChunkStride)")

  /** The ci-th window of a token array (1-based slice, end-clamped —
    * matches DuckDB's inclusive list_slice). */
  def chunkSlice(toksName: String, ciName: String): Column =
    org.apache.spark.sql.functions.expr(
      s"slice($toksName, $ciName * $ChunkStride + 1, $ChunkSize)")

  /** Chunk fingerprint: md5 of the space-joined window (t4's doc
    * fingerprint spelling at window granularity). */
  def chunkFingerprint(chunk: Column): Column =
    md5(concat_ws(" ", chunk))
}
