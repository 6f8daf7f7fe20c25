package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{CharEntropyTermSum, CleanTokens, EditDistanceBounded, HashedTrigrams32, Md5Hash32Array, MinHashSignature, NgramGenerate, QuantileSketchAgg, RepetitionStats, RollingHashMin, SimHash60, SortedIntersectCount, TopKRows, VectorDotProduct, ZValue}

/** Session-extension registration for the engine's custom Catalyst
  * machinery, so SQL users get the functions too:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions) ...      // builder path
  * or
  *   spark.sql.extensions=graft.GraftExtensions      // config path
  * or
  *   GraftExtensions.register(spark)                 // live session
  *
  * Registered functions (each value-identical to a built-in spelling
  * kept as its oracle spec):
  *   vec_dot(a, b)            double dot product of two numeric arrays
  *   md5_hash32_array(a)      md5-prefix 32-bit hash of each element
  *   minhash_signature(hs)    K affine minima over hashed shingles
  *   simhash60(hs)            60-bit SimHash over hashed tokens
  *   hashed_trigrams32(s)     distinct hashed char-trigrams of a string
  *   rolling_hash_min(s)      min 8-char-window polynomial hash
  *   edit_distance_bounded(a, b, k)  Myers bit-parallel levenshtein <= k
  *   sorted_intersect_count(a, b)    merge-scan |a ∩ b| of sorted arrays
  *   ngram_generate(toks, n)  generator: streamed space-joined n-grams
  *   z_value(bits, d1, d2, ...)      Morton interleave of binned dims
  *   top_k_rows(ord, id, k)   aggregate: k best (ord desc, id asc) pairs
  *   quantile_sketch(v, k, phi...)  aggregate: mergeable KLL-style
  *                            quantile sketch (n, rank bound, estimates)
  *   clean_tokens(s)          fused reference clean+tokenize scanner
  *                            (regex-delete + ws-split + empty-drop;
  *                            apply lower(trim(s)) first for the full
  *                            reference chain)
  *   repetition_stats(toks)   Gopher repetition numerators of a token
  *                            array in one pass (tok_chars, c2..c4,
  *                            d5..d10)
  *   char_entropy_term_sum(s) DECIMAL(38,6) Σ c·round(ln(c/n),6) over
  *                            a string's distinct characters (the
  *                            t11 unigram-entropy numerator)
  *
  * (DictTokenIds is deliberately NOT SQL-registered: it carries a
  * broadcast dictionary handle, which SQL children cannot express —
  * use CorpusOps.tokenizeToIds from the API.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  private def unary(name: String, clazz: Class[_], mk: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Builder) = (
    FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 1, s"$name takes exactly 1 argument")
      mk(children.head)
    })

  private val vecDot = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VectorDotProduct].getName, "vec_dot"),
    ((children: Seq[Expression]) => {
      require(children.length == 2, "vec_dot takes exactly 2 arguments")
      VectorDotProduct(children.head, children(1))
    }): Builder)

  private val editDistBounded = (
    FunctionIdentifier("edit_distance_bounded"),
    new ExpressionInfo(classOf[EditDistanceBounded].getName, "edit_distance_bounded"),
    ((children: Seq[Expression]) => {
      require(children.length == 3, "edit_distance_bounded takes exactly 3 arguments")
      val k = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "edit_distance_bounded threshold must be an INT literal")
      }
      EditDistanceBounded(children.head, children(1), k)
    }): Builder)

  private val sortedIntersect = (
    FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
    ((children: Seq[Expression]) => {
      require(children.length == 2, "sorted_intersect_count takes exactly 2 arguments")
      SortedIntersectCount(children.head, children(1))
    }): Builder)

  private val ngramGen = (
    FunctionIdentifier("ngram_generate"),
    new ExpressionInfo(classOf[NgramGenerate].getName, "ngram_generate"),
    ((children: Seq[Expression]) => {
      require(children.length == 2, "ngram_generate takes exactly 2 arguments")
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "ngram_generate window must be an INT literal")
      }
      NgramGenerate(children.head, n)
    }): Builder)

  private val zValue = (
    FunctionIdentifier("z_value"),
    new ExpressionInfo(classOf[ZValue].getName, "z_value"),
    ((children: Seq[Expression]) => {
      require(children.length >= 2, "z_value takes (bits, dim1[, dim2...])")
      val bits = children.head match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "z_value bits must be an INT literal")
      }
      ZValue(children.tail, bits)
    }): Builder)

  private val topKRows = (
    FunctionIdentifier("top_k_rows"),
    new ExpressionInfo(classOf[TopKRows].getName, "top_k_rows"),
    ((children: Seq[Expression]) => {
      require(children.length == 3, "top_k_rows takes (ord, id, k)")
      val k = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "top_k_rows k must be an INT literal")
      }
      TopKRows(children.head, children(1), k)
    }): Builder)

  private val quantileSketch = (
    FunctionIdentifier("quantile_sketch"),
    new ExpressionInfo(classOf[QuantileSketchAgg].getName, "quantile_sketch"),
    ((children: Seq[Expression]) => {
      require(children.length >= 3,
        "quantile_sketch takes (value, k, phi[, phi...])")
      import org.apache.spark.sql.catalyst.expressions.Literal
      val k = children(1) match {
        case Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException(
          "quantile_sketch k must be an INT literal")
      }
      val phis = children.drop(2).map {
        case Literal(v: Double, _) => v
        case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
        case _ => throw new IllegalArgumentException(
          "quantile_sketch phis must be numeric literals")
      }
      QuantileSketchAgg(children.head, k, phis.toSeq)
    }): Builder)

  private val all = Seq(
    vecDot,
    topKRows,
    quantileSketch,
    editDistBounded,
    sortedIntersect,
    ngramGen,
    zValue,
    unary("md5_hash32_array", classOf[Md5Hash32Array], Md5Hash32Array(_: Expression)),
    unary("minhash_signature", classOf[MinHashSignature], MinHashSignature(_: Expression)),
    unary("simhash60", classOf[SimHash60], SimHash60(_: Expression)),
    unary("hashed_trigrams32", classOf[HashedTrigrams32], HashedTrigrams32(_: Expression)),
    unary("rolling_hash_min", classOf[RollingHashMin], RollingHashMin(_: Expression)),
    unary("clean_tokens", classOf[CleanTokens], CleanTokens(_: Expression)),
    unary("repetition_stats", classOf[RepetitionStats],
      RepetitionStats(_: Expression)),
    unary("char_entropy_term_sum", classOf[CharEntropyTermSum],
      CharEntropyTermSum(_: Expression)))

  /** Idempotent registration into an already-built session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
