package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

import graft.functions.TextOps

/** Engine-native representation of the reference's frozen 5-stage
  * sentiment `PipelineModel`
  * (`/root/reference/pre_trained_model/`, SURVEY.md §2h):
  *
  *   M1 StopWordsRemover  (181-word English list, case-insensitive)
  *   M2 CountVectorizerModel (262,144-term vocab → sparse TF)
  *   M3 IDFModel          (stored idf vector; minDocFreq floor baked in)
  *   M4 StringIndexerModel (label dictionary only at inference)
  *   M5 LogisticRegressionModel (binomial; margin>0 → 1.0)
  *
  * Held as plain Scala arrays/maps and broadcast once; scoring is a
  * single in-JVM pass per row with float-op ordering identical to
  * Spark ML's sparse path (ascending vocab index), so predictions
  * reproduce `PipelineModel.transform` bit-for-bit.
  *
  * @param vocab     term → vocab index (CountVectorizer vocabulary order)
  * @param idf       dense idf weights, length numFeatures
  * @param coef      dense LR coefficients, length numFeatures
  * @param intercept LR intercept
  * @param threshold LR decision threshold on P(class=1)
  * @param labels    StringIndexer labels (index i → original label)
  * @param stopWords StopWordsRemover word list
  */
final case class SentimentModel(
    vocab: java.util.HashMap[String, Int],
    idf: Array[Double],
    coef: Array[Double],
    intercept: Double,
    threshold: Double,
    labels: Array[String],
    stopWords: Array[String]) extends Serializable {

  def numFeatures: Int = idf.length

  /** UTF8String-keyed vocab/stop-set twins, built lazily ONCE per JVM
    * (executor-side, off the broadcast value): lets the codegen margin
    * expression probe tokens as the raw `UTF8String`s Tungsten rows
    * hold, with zero per-token String materialization — the ScalaUDF
    * path paid a full ArrayData→Seq[String] conversion per row. */
  @transient private lazy val vocabU8
      : java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Integer](vocab.size() * 2)
    vocab.forEach((k, v) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(k),
        Integer.valueOf(v)))
    m
  }
  @transient private lazy val stopU8
      : java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    stopWords.foreach(w =>
      s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w.toLowerCase)))
    s
  }

  /** Per-thread scoring scratch (r11 verdict observation → r12): the
    * TreeMap<Integer,Integer> path allocated a boxed node per distinct
    * term per row. `counts` is a dense int array over the vocab
    * (262k × 4 B = 1 MiB/thread — executor threads are bounded, rows
    * are not); `touched` lists the indices hit this row so reset is
    * O(distinct terms), never O(vocab). */
  private final class ScoreScratch(nFeatures: Int) {
    val counts = new Array[Int](nFeatures)
    var touched = new Array[Int](256)
  }
  @transient private lazy val scratch = new ThreadLocal[ScoreScratch] {
    override def initialValue(): ScoreScratch = new ScoreScratch(numFeatures)
  }

  /** Case-insensitive stop probe without the per-token `toLowerCase`
    * allocation: a full-ASCII token with no [A-Z] byte IS its own
    * lowercase (the serving chain's cleaned tokens are all such), so
    * probe it directly; anything else takes the exact
    * `UTF8String.toLowerCase` path — same semantics as
    * `lower(t) IN stopSet` for every input, byte for byte. */
  private def isStop(tok: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    val nb = tok.numBytes()
    var i = 0
    var plain = true
    while (plain && i < nb) {
      val b = tok.getByte(i)
      if (b < 0 || (b >= 'A' && b <= 'Z')) plain = false
      i += 1
    }
    if (plain) stopU8.contains(tok) else stopU8.contains(tok.toLowerCase)
  }

  /** [[margin]] evaluated directly over Tungsten array data — the
    * codegen path ([[graft.plans.SparseTfIdfMargin]]). Identical float
    * semantics: TF counts folded per vocab index, features iterated in
    * ascending index order (the touched-index sort below), `(tf *
    * idf(i)) * coef(i)` association. `filterStops` folds the M1
    * stop-word filter (case-insensitive, like `lower(t) IN stopSet`)
    * into the same pass, so no intermediate filtered array is
    * materialized. Null tokens are skipped (the UDF path dropped them
    * via the filter HOF / failed vocab lookup — same outcome). */
  def marginUtf8(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                 filterStops: Boolean): Double = {
    val sc = scratch.get()
    val counts = sc.counts
    var touched = sc.touched
    var nT = 0
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        if (!filterStops || !isStop(tok)) {
          val idx = vocabU8.get(tok)
          if (idx != null) {
            val j = idx.intValue()
            if (counts(j) == 0) {
              if (nT == touched.length) {
                touched = java.util.Arrays.copyOf(touched, nT * 2)
                sc.touched = touched
              }
              touched(nT) = j
              nT += 1
            }
            counts(j) += 1
          }
        }
      }
      i += 1
    }
    // ascending vocab-index accumulation (the Spark-ML float-op
    // order the parity specs pin) — sort the touched indices, never
    // the vocab
    java.util.Arrays.sort(touched, 0, nT)
    var acc = 0.0
    var t = 0
    while (t < nT) {
      val j = touched(t)
      acc += (counts(j).toDouble * idf(j)) * coef(j)
      counts(j) = 0 // reset for the next row, O(touched)
      t += 1
    }
    acc + intercept
  }

  /** Raw margin w·(tf⊙idf) + b over a stop-word-filtered token list.
    * Reproduces CountVectorizer→IDF→LR exactly: TF counts folded per
    * vocab index, features iterated in ascending index order. */
  def margin(words: Iterable[String]): Double = {
    // tf counts by vocab index (CountVectorizerModel semantics:
    // unknown terms dropped, minTF=1 keeps all, counts not binarized)
    val counts = new java.util.TreeMap[Int, Int]()
    val it = words.iterator
    while (it.hasNext) {
      val idx = vocab.getOrDefault(it.next(), -1)
      if (idx >= 0) counts.merge(idx, 1, Integer.sum)
    }
    var acc = 0.0
    val e = counts.entrySet().iterator()
    while (e.hasNext) {
      val kv = e.next()
      val i = kv.getKey
      // features(i) = tf * idf (M3), then dot with coef (M5) —
      // same association as ml.feature.IDFModel + BLAS.dot
      acc += (kv.getValue.toDouble * idf(i)) * coef(i)
    }
    acc + intercept
  }

  /** LR prediction: P(1) = σ(margin) > threshold. For threshold 0.5
    * this is margin > 0 (σ strictly monotone; tie → class 0). */
  def predict(words: Iterable[String]): Double = {
    val t = math.log(threshold / (1.0 - threshold))
    if (margin(words) > t) 1.0 else 0.0
  }
}

object SentimentModel {

  /** Column-level scorer over a tokens column (stop words NOT yet
    * removed — M1 runs inside). Adds `prediction: double`. */
  def scorer(spark: SparkSession, model: SentimentModel): SentimentScorer =
    new SentimentScorer(spark.sparkContext.broadcast(model))
}

/** Broadcast-backed scoring functions, exposed as Columns. Round 11:
  * every scoring column is built on the [[graft.plans.SparseTfIdfMargin]]
  * codegen expression (M1 stop-word filter folded into the same pass) —
  * the whole M1–M5 serving chain is now a single whole-stage-codegen
  * span with zero UDFs. */
final class SentimentScorer(bc: Broadcast[SentimentModel]) extends Serializable {

  /** logit(threshold): the margin cutoff equivalent to
    * P(1) > threshold (σ strictly monotone). Computed once,
    * driver-side. */
  private val logitThreshold: Double = {
    val t = bc.value.threshold
    math.log(t / (1.0 - t))
  }

  private[graft] def marginCol(tokens: Column, filterStops: Boolean): Column =
    graft.plans.SparseTfIdfMargin.margin(tokens, bc, filterStops)

  /** tokens → prediction in ONE margin evaluation (threshold folded
    * into the expression — see SparseTfIdfMargin.predictCutoff). Null
    * tokens → null prediction (UnaryExpression null propagation). */
  private[graft] def predictCol(tokens: Column, filterStops: Boolean): Column =
    graft.plans.SparseTfIdfMargin.predict(tokens, bc, filterStops, logitThreshold)

  /** margin COLUMN REFERENCE → prediction with the UDF path's null
    * contract (null margin → null prediction, not 0.0). Only ever
    * applied to an attribute reference (withScores' `__margin`), so
    * the double reference is cheap. */
  private def predictionOf(m: Column): Column =
    when(m.isNotNull, when(m > lit(logitThreshold), 1.0).otherwise(0.0))

  /** tokens (pre-stop-word-removal) → prediction. */
  def predictFromTokens(tokens: Column): Column =
    predictCol(tokens, filterStops = true)

  /** Full reference chain on a raw text column: clean → tokenize →
    * stop words → TF → IDF → LR. Adds `cleaned_data` and `prediction`. */
  def scoreText(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("cleaned_data", TextOps.cleanTokens(col(textCol)))
      .withColumn("prediction", predictFromTokens(col("cleaned_data")))

  /** Column-parity twin of the reference `PipelineModel.transform`
    * output: adds `rawPrediction: array<double>`,
    * `probability: array<double>`, `prediction: double` over a tokens
    * column (stop words not yet removed). Binomial-LR conventions:
    * `rawPrediction = [-m, m]`, `probability = [1-σ(m), σ(m)]`,
    * `prediction` by threshold — the same double ops in the same order
    * as the retired struct UDF, so bit-parity holds. The margin is
    * materialized as a real `__margin` column first: CollapseProject
    * declines to inline a non-cheap expression referenced more than
    * once, so the dot product runs ONCE per row and the three outputs
    * are arithmetic over the attribute reference (the old struct-
    * materialization trick, without the struct). Null tokens → all
    * three columns null. */
  def withScores(df: DataFrame, tokensCol: String): DataFrame = {
    val m = col("__margin")
    val p1 = lit(1.0) / (lit(1.0) + exp(-m))
    df.withColumn("__margin", marginCol(col(tokensCol), filterStops = true))
      .withColumn("rawPrediction", when(m.isNotNull, array(-m, m)))
      .withColumn("probability", when(m.isNotNull, array(lit(1.0) - p1, p1)))
      .withColumn("prediction", predictionOf(m))
      .drop("__margin")
  }
}

/** Native loader for the on-disk `PipelineModel` artifact layout
  * (JSON stage metadata + Parquet coefficient tables). Reads the same
  * bytes `org.apache.spark.ml.PipelineModel.load` would, without
  * depending on cross-version ML persistence compatibility
  * (artifacts were written by Spark 3.0.0; see SURVEY.md §7 risks). */
object ModelLoader {

  def load(spark: SparkSession, path: String): SentimentModel = {
    val stagesDir = new java.io.File(s"$path/stages")
    require(stagesDir.isDirectory, s"no stages/ under $path")
    def stageDir(prefix: String): String =
      stagesDir.listFiles().map(_.getName).find(_.startsWith(prefix))
        .map(n => s"$path/stages/$n")
        .getOrElse(sys.error(s"stage $prefix missing under $path/stages"))

    // --- M1 StopWordsRemover: metadata-only (word list inline) ---
    val swMeta = spark.read.json(s"${stageDir("0_")}/metadata")
    // explicitly-set params land in paramMap, defaults in defaultParamMap
    val swCol =
      if (swMeta.select(col("paramMap.*")).columns.contains("stopWords"))
        "paramMap.stopWords"
      else "defaultParamMap.stopWords"
    val stopWords: Array[String] = swMeta
      .select(explode(col(swCol)).as("w"))
      .collect().map(_.getString(0))

    // --- M2 CountVectorizerModel: vocabulary parquet (one row) ---
    val vocabRow = spark.read.parquet(s"${stageDir("1_")}/data").head()
    val vocabSeq = vocabRow.getSeq[String](vocabRow.fieldIndex("vocabulary"))
    val vocab = new java.util.HashMap[String, Int](vocabSeq.length * 2)
    vocabSeq.zipWithIndex.foreach { case (w, i) => vocab.put(w, i) }

    // --- M3 IDFModel: idf vector (minDocFreq floor already applied) ---
    val idfRow = spark.read.parquet(s"${stageDir("2_")}/data").head()
    val idf = vectorToDense(
      idfRow.get(idfRow.fieldIndex("idf")), vocabSeq.length)

    // --- M4 StringIndexerModel: label dictionary ---
    val siRow = spark.read.parquet(s"${stageDir("3_")}/data").head()
    val labels: Array[String] =
      siRow.getSeq[scala.collection.Seq[String]](siRow.fieldIndex("labelsArray"))
        .head.toArray

    // --- M5 LogisticRegressionModel ---
    val lrDir = stageDir("4_")
    val lrRow = spark.read.parquet(s"$lrDir/data").head()
    val numFeatures = lrRow.getInt(lrRow.fieldIndex("numFeatures"))
    val intercept = vectorToDense(
      lrRow.get(lrRow.fieldIndex("interceptVector")), 1)(0)
    val coef = matrixRowToDense(
      lrRow.get(lrRow.fieldIndex("coefficientMatrix")), numFeatures)
    val lrMeta = spark.read.json(s"$lrDir/metadata")
    val threshold = extractParam(lrMeta, "threshold").getOrElse(0.5)

    SentimentModel(vocab, idf, coef, intercept, threshold, labels, stopWords)
  }

  /** paramMap value with defaultParamMap fallback (ML persistence puts
    * explicitly-set params in paramMap, defaults in defaultParamMap). */
  private def extractParam(meta: DataFrame, name: String): Option[Double] = {
    def tryCol(c: String): Option[Double] =
      if (meta.columns.contains(c.split('.').head))
        scala.util.Try(meta.select(col(c)).head().getDouble(0)).toOption
      else None
    tryCol(s"paramMap.$name").orElse(tryCol(s"defaultParamMap.$name"))
  }

  /** VectorUDT column value → dense array. With spark-mllib on the
    * classpath the parquet reader materializes the UDT (`ml.linalg
    * .Vector`); without it the raw struct {type, size, indices,
    * values} surfaces as a Row. Handle both. */
  private def vectorToDense(v: Any, expectedSize: Int): Array[Double] = v match {
    case vec: org.apache.spark.ml.linalg.DenseVector => vec.values
    case vec: org.apache.spark.ml.linalg.SparseVector =>
      val out = new Array[Double](math.max(vec.size, expectedSize))
      var k = 0
      while (k < vec.indices.length) { out(vec.indices(k)) = vec.values(k); k += 1 }
      out
    case r: Row =>
      val tpe = r.getByte(r.fieldIndex("type"))
      if (tpe == 1) { // dense
        r.getSeq[Double](r.fieldIndex("values")).toArray
      } else { // sparse
        val size = r.getInt(r.fieldIndex("size"))
        val out = new Array[Double](math.max(size, expectedSize))
        val idx = r.getSeq[Int](r.fieldIndex("indices"))
        val vals = r.getSeq[Double](r.fieldIndex("values"))
        var k = 0
        while (k < idx.length) { out(idx(k)) = vals(k); k += 1 }
        out
      }
    case other => sys.error(s"unsupported vector value: ${other.getClass}")
  }

  /** MatrixUDT column value → dense coefficient row (numRows == 1).
    * Handles UDT-materialized matrices and raw structs in dense,
    * CSC, and CSR (isTransposed) layouts. */
  private def matrixRowToDense(m: Any, numFeatures: Int): Array[Double] = m match {
    case mat: org.apache.spark.ml.linalg.Matrix =>
      val out = new Array[Double](numFeatures)
      mat.foreachActive((_, j, v) => out(j) = v)
      out
    case r: Row =>
      val tpe = r.getByte(r.fieldIndex("type"))
      val numCols = r.getInt(r.fieldIndex("numCols"))
      val transposed = r.getBoolean(r.fieldIndex("isTransposed"))
      val out = new Array[Double](numFeatures)
      if (tpe == 1) { // dense, row-major iff transposed
        val vals = r.getSeq[Double](r.fieldIndex("values"))
        var j = 0
        while (j < numCols) { out(j) = vals(j); j += 1 } // 1×N: same either way
      } else {
        val ptrs = r.getSeq[Int](r.fieldIndex("colPtrs"))
        val inds = r.getSeq[Int](r.fieldIndex("rowIndices"))
        val vals = r.getSeq[Double](r.fieldIndex("values"))
        if (!transposed) {
          // CSC: ptrs over columns; rowIndices all 0 for a 1×N matrix
          var j = 0
          while (j < numCols) {
            var k = ptrs(j)
            while (k < ptrs(j + 1)) { out(j) = vals(k); k += 1 }
            j += 1
          }
        } else {
          // CSR: ptrs over rows (one row); inds hold column indices
          var k = ptrs(0)
          while (k < ptrs(1)) { out(inds(k)) = vals(k); k += 1 }
        }
      }
      out
    case other => sys.error(s"unsupported matrix value: ${other.getClass}")
  }
}
