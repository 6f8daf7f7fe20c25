package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{FixtureModel, ModelLoader, SentimentModel, SentimentScorer}
import graft.queries._

/** Driver contract — flagship entry, per-operator query inventory, and
  * the DuckDB oracle SQL for each SQL-expressible query.
  * Blueprint: SURVEY.md §2 (operator inventory) and §7 (build plan).
  *
  * Conventions for oracle parity (driver hashes values after sorting
  * columns by name):
  *  - every computed column aliased identically in Spark and SQL;
  *  - double-summing avoided: sums go through DECIMAL (exact, order-
  *    independent) and only then to DOUBLE;
  *  - timestamps compared as epoch BIGINT;
  *  - token arrays compared as space-joined strings.
  *
  * The query bodies live in per-family objects under `graft.queries`
  * (split round 6 for maintainability, byte-identical entries); shared
  * readers/expressions in [[QuerySupport]]; oracle SQL in
  * [[OracleQueries]]. QueryRegistrySpec proves the family maps are
  * disjoint and the union's key set equals the oracle map's exactly.
  */
object SparkEntry {

  /** Model artifacts (reference's frozen PipelineModel, read-only). */
  val ModelDir: String =
    sys.env.getOrElse("GRAFT_MODEL_DIR", "/root/reference/pre_trained_model")

  /** Committed fixture parquet: the flattened vocab/idf/coef tables
    * (graft.tools.DumpModelFixture) that [[model]] serves when the
    * artifact is absent and the relational m5 oracle joins against,
    * plus the media fixtures. Defaults to the checkout's own
    * `fixtures/`; resolved against the working directory to an
    * absolute path, because the DuckDB oracle SQL embeds it. */
  val FixtureDir: String =
    new java.io.File(sys.env.getOrElse("GRAFT_FIXTURE_DIR", "fixtures")).getAbsolutePath

  /** The one local-mode session every main and the test harness use:
    * `local[cores]` with shuffle partitions = cores, session time zone
    * UTC, TIMESTAMP(NANOS) parquet read as long (`events.parquet`'s
    * older generations), AQE on, UI off, log level WARN. `extra`
    * adds settings on top (the test harness's warehouse directory). */
  def localSession(cores: Int, extra: (String, String)*): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The sweep between queries: drops the SQL cache and unpersists
    * every persistent RDD, blocking. `clearCache` alone cannot reach
    * the RDD-level round leaves the iterative operators persist via
    * DatasetBridge (CC / PageRank). Query loops — Bench, Verify,
    * ExplainQuery, ScaleProbe, the specs — call it between queries;
    * a library caller instead calls the release hook each persisting
    * operator returns, after its action on the result. */
  def releasePersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** The frozen sentiment model: the artifact under [[ModelDir]]
    * wherever its `stages/` directory exists, otherwise the committed
    * fixture under [[FixtureDir]], which must pass
    * [[FixtureModel.gate]]. Read once per JVM; logs one line naming
    * the source it read. */
  def model(s: SparkSession): SentimentModel = {
    if (cachedModel == null) synchronized {
      if (cachedModel == null)
        cachedModel =
          if (new java.io.File(s"$ModelDir/stages").isDirectory) {
            System.err.println(s"[model] artifact $ModelDir")
            ModelLoader.load(s, ModelDir)
          } else {
            System.err.println(s"[model] no $ModelDir/stages; fingerprint-gated fixture $FixtureDir")
            FixtureModel.gate(FixtureModel.load(s, FixtureDir))
          }
    }
    cachedModel
  }

  // model + broadcast scorer cached per JVM (Verify/Bench are one-shot)
  @volatile private var cachedModel: SentimentModel = _
  @volatile private var cachedScorer: SentimentScorer = _
  def scorer(s: SparkSession): SentimentScorer = {
    if (cachedScorer == null) synchronized {
      if (cachedScorer == null)
        cachedScorer = SentimentModel.scorer(s, model(s))
    }
    cachedScorer
  }

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001):
    * scan documents → clean/tokenize → stop words → native 5-stage
    * sentiment scoring → aggregate sentiment mix per language. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = QuerySupport.t(spark, "/root/testdata/sf0.001", "documents")
    scorer(spark).scoreText(docs, "text")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("prediction")).as("n_negative"),
        avg(size(col("cleaned_data"))).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  // ---- query inventory ----------------------------------------------
  /** All family maps, in the registry order QueryRegistrySpec pins. */
  private[graft] val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq(
      "PipelineQueries"   -> PipelineQueries.defs,
      "RelationalQueries" -> RelationalQueries.defs,
      "SketchGraphQueries" -> SketchGraphQueries.defs,
      "TextQueries"       -> TextQueries.defs,
      "DedupQueries"      -> DedupQueries.defs,
      "SimilarityQueries" -> SimilarityQueries.defs,
      "TrainEvalQueries"  -> TrainEvalQueries.defs,
      "MediaQueries"      -> MediaQueries.defs)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_._2).reduce(_ ++ _)

  // ---- oracle SQL ----------------------------------------------------
  /** One DuckDB twin per query — the full map lives in
    * [[OracleQueries]] (moved for maintainability, byte-identical). */
  def oracleSql: Map[String, String] = OracleQueries.all
}
