package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.plans.ZValue

/** Morton z-value expression and the z-ordered layout it keys. The HOF
  * spelling `aggregate(sequence(0, bits*D-1), 0L, (acc, p) ->
  * acc | ((dims[p % D] >> (p / D)) & 1) << p)` is the parity oracle
  * for the codegen loop. */
class ZValueSpec extends AnyFunSuite with SparkSessionFixture {

  private def hofZ(bits: Int, dims: String*) = {
    val d = dims.size
    val arr = s"array(${dims.mkString(", ")})"
    expr(s"aggregate(sequence(0, ${bits * d - 1}), 0L, (acc, p) -> " +
      s"acc | shiftleft(shiftright(element_at($arr, (p % $d) + 1), " +
      s"CAST(p div $d AS INT)) & 1L, p))")
  }

  test("z_value codegen == per-bit HOF spelling, 2 and 3 dims") {
    import spark.implicits._
    val df = (for (a <- 0L until 32L; b <- 0L until 32L)
      yield (a, b, (a * 7 + b) % 32)).toDF("a", "b", "c")
    val diff2 = df.select(
        ZValue.of(16, col("a"), col("b")).as("fast"),
        hofZ(16, "a", "b").as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff2 == 0L)
    val diff3 = df.select(
        ZValue.of(8, col("a"), col("b"), col("c")).as("fast"),
        hofZ(8, "a", "b", "c").as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff3 == 0L)
  }

  test("known interleavings and null propagation") {
    import spark.implicits._
    // (1,0) -> bit0 of dim0 at position 0 = 1; (0,1) -> bit0 of dim1 at
    // position 1 = 2; (3,3) low bits pairwise -> 0b1111 = 15
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L)).toDF("a", "b")
    val got = df.select(ZValue.of(4, col("a"), col("b"))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 15L))
    val withNull = Seq((Some(1L), None: Option[Long])).toDF("a", "b")
      .select(ZValue.of(4, col("a"), col("b"))).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("codegen actually fires (no interpreted fallback)") {
    // spark.range, not a local Seq: LocalTableScan would evaluate the
    // projection at plan time and prove nothing about codegen
    val base = spark.range(64)
      .select(col("id").as("a"), (col("id") * 3 % 64).as("b"))
    // z alone: the HOF oracle is CodegenFallback and would break the
    // stage if projected alongside
    val fast = base.select(ZValue.of(8, col("a"), col("b")).as("z"))
    // the z_value Project must sit INSIDE a WholeStageCodegenExec
    // subtree (a CodegenFallback expression would evict it)
    val inCodegen = fast.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("z_value") => w
    }
    assert(inCodegen.nonEmpty, fast.queryExecution.executedPlan.toString)
    val slow = base.select(hofZ(8, "a", "b").as("z"))
    assert(fast.collect().map(_.getLong(0)).toSeq ==
      slow.collect().map(_.getLong(0)).toSeq)
  }

  test("z-ordered files cover small rectangles in BOTH dims; lexicographic sort does not") {
    import spark.implicits._
    // uniform 256x256 grid: a lexicographic (a, b) sort gives each file
    // a thin a-range but the FULL b-range; z-order bounds both
    val grid = (for (a <- 0L until 256L; b <- 0L until 256L)
      yield (a, b)).toDF("a", "b")
    val dir = tempDir("zorder").toString
    // the z-order layout: range-cluster and sort on the interleaved key
    grid.withColumn("__z", ZValue.of(8, col("a"), col("b")))
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(s"$dir/z")
    grid.repartitionByRange(16, col("a"), col("b"))
      .sortWithinPartitions(col("a"), col("b"))
      .write.mode("overwrite").parquet(s"$dir/lex")
    def maxBSpread(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col("b")) - min(col("b"))).as("spread"))
        .agg(max(col("spread"))).head.getLong(0)
    val zSpread = maxBSpread(s"$dir/z")
    val lexSpread = maxBSpread(s"$dir/lex")
    // every lex file spans all of b (255); z files stay in quadrants
    assert(lexSpread == 255L, s"lex=$lexSpread")
    assert(zSpread <= 127L, s"z=$zSpread")
  }

  test("z_value is SQL-registered via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT z_value(4, CAST(3 AS BIGINT), CAST(3 AS BIGINT)) AS z")
      .head.getLong(0)
    assert(r == 15L)
  }
}
