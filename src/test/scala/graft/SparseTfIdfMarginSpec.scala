package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.Oracles.ScorerOracles
import graft.functions.TextOps

/** The codegen TF·IDF·LR margin/prediction expression
  * (plans.SparseTfIdfMargin) vs the driver-side scalar model — the
  * expression-level contract under MllibParitySpec's end-to-end
  * parity: bit-equal margins, stop-word folding equivalence, the UDF
  * path's null semantics, and interpreted-eval ≡ codegen. */
class SparseTfIdfMarginSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val scorer = SparkEntry.scorer(spark)
  private lazy val model = SparkEntry.model(spark)

  test("expression margin == scalar model margin bit-for-bit on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val words = Oracles.removeStopWords(model, TextOps.cleanTokens(col("text")))
    val rows = docs
      .select(words.as("w"), scorer.marginFromWords(words).as("m"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val got = r.getDouble(1)
      val want = model.margin(r.getSeq[String](0))
      assert(got == want, s"margin mismatch: $got vs $want") // exact doubles
    }
  }

  test("folded stop-word filter == InSet filter + unfiltered scoring") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = TextOps.cleanTokens(col("text"))
    val diff = docs.select(
        scorer.predictFromTokens(toks).as("folded"),
        scorer.predictFromWords(Oracles.removeStopWords(model, toks)).as("chained"))
      .filter(col("folded") =!= col("chained")).count()
    assert(diff == 0L)
  }

  test("null tokens array → null margin and null prediction") {
    val df = spark.sql(
      "SELECT CAST(NULL AS ARRAY<STRING>) AS t UNION ALL SELECT array('good')")
    val rows = df.select(
        scorer.marginFromWords(col("t")).as("m"),
        scorer.predictFromWords(col("t")).as("p"))
      .collect().sortBy(_.isNullAt(0))
    assert(!rows(0).isNullAt(0) && !rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("null ELEMENTS are skipped, not propagated") {
    val df = spark.sql("SELECT array('good', CAST(NULL AS STRING)) AS t")
    val withNull = df.select(scorer.marginFromWords(col("t"))).head().getDouble(0)
    val without = spark.sql("SELECT array('good') AS t")
      .select(scorer.marginFromWords(col("t"))).head().getDouble(0)
    assert(withNull == without)
  }

  test("interpreted eval == codegen bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = TextOps.cleanTokens(col("text"))
    def score() = docs
      .select(col("doc_id"), scorer.predictFromTokens(toks).as("p"),
        scorer.marginFromWords(Oracles.removeStopWords(model, toks)).as("m"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    val withCodegen = score()
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevWhole = spark.conf.getOption("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(score() == withCodegen)
    } finally {
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevWhole.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
        spark.conf.set("spark.sql.codegen.wholeStage", _))
    }
  }

  test("serving chain plan contains zero ScalaUDF expressions") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = scorer.scoreTextFull(docs, "text")
    val plan = scored.queryExecution.executedPlan
    val udfs = plan.flatMap(_.expressions.flatMap(_.collect {
      case u: ScalaUDF => u
    }))
    assert(udfs.isEmpty, s"found ScalaUDFs in serving plan: $udfs")
    // the withScores margin must be materialized ONCE (CollapseProject
    // declines to inline the non-cheap expression into its 6 uses);
    // a regression here sextuples the dot-product cost silently
    val margins = plan.flatMap(_.expressions.flatMap(_.collect {
      case m: graft.plans.SparseTfIdfMargin => m
    }))
    assert(margins.size == 1,
      s"expected exactly 1 margin evaluation in the plan, got ${margins.size}")
  }
}
