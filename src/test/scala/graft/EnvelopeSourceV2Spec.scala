package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.EnvelopeFeed

/** DataSource V2 envelope connector: contract parity with the text
  * source, per-file partitions, and column pruning pushdown. */
class EnvelopeSourceV2Spec extends AnyFunSuite with SparkSessionFixture {

  test("reads envelope waves with the Kafka value-column contract") {
    import spark.implicits._
    val dir = tempDir("env_v2").toString
    EnvelopeFeed.publishWave(
      Seq("first text", "second, with comma").toDF("t"), "t", dir)
    EnvelopeFeed.publishWave(Seq("third wave").toDF("t"), "t", dir)

    val v2 = spark.read.format("graft-envelope").load(dir)
    assert(v2.columns.toSeq == Seq("value", "file"))
    val viaText = spark.read.text(dir)
      .select(col("value")).collect().map(_.getString(0)).sorted.toSeq
    val viaV2 = v2.select(col("value")).collect().map(_.getString(0)).sorted.toSeq
    assert(viaV2 == viaText)
    assert(viaV2.exists(_.contains("second with comma"))) // scrub applied upstream

    // one partition per file, exposed through the metadata column
    assert(v2.select(col("file")).distinct().count() >= 2)

    // downstream transform chain plugs in unchanged (value contract)
    val scored = graft.streaming.StreamPipeline
      .transform(v2.select(col("value")), SparkEntry.scorer(spark))
    assert(scored.count() == 3)
  }

  test("column pruning reaches the scan") {
    import spark.implicits._
    val dir = tempDir("env_v2p").toString
    EnvelopeFeed.publishWave(Seq("only text").toDF("t"), "t", dir)
    val pruned = spark.read.format("graft-envelope").load(dir)
      .select(col("value"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    // the scan's description carries its pruned field list
    assert(scan.contains("[value]"), scan)
    assert(!scan.contains("[value,file]"), scan)
    assert(pruned.head().getString(0).contains("only text"))
  }

  test("COUNT(*) pushdown answers from per-file line counts") {
    import spark.implicits._
    val dir = tempDir("env_v2c").toString
    EnvelopeFeed.publishWave(Seq("a", "b").toDF("t"), "t", dir)
    EnvelopeFeed.publishWave(Seq("c").toDF("t"), "t", dir)

    val df = spark.read.format("graft-envelope").load(dir)
    val counted = df.groupBy().count()
    val leaf = counted.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PushedAggregation"), leaf)
    assert(counted.head().getLong(0) == 3)
    assert(df.count() == 3)
    // a filtered count is NOT pushed (the filter runs above the scan)
    // but is still correct through the row scan
    assert(df.filter(col("value").contains("c")).count() == 1)
  }

  test("micro-batch stream: incremental batches and checkpoint restart") {
    import spark.implicits._
    val dir = tempDir("env_v2s").toString
    val cp = tempDir("env_v2s_cp").toString
    val out = tempDir("env_v2s_out").toString
    EnvelopeFeed.publishWave(Seq("wave one a", "wave one b").toDF("t"), "t", dir)

    def start() = spark.readStream.format("graft-envelope").load(dir)
      .select(col("value"))
      .writeStream.format("text")
      .option("path", out).option("checkpointLocation", cp).start()

    val q1 = start()
    q1.processAllAvailable()
    assert(spark.read.text(out).count() == 2)

    // a second wave arrives → exactly the new files form the batch
    EnvelopeFeed.publishWave(Seq("wave two").toDF("t"), "t", dir)
    q1.processAllAvailable()
    assert(spark.read.text(out).count() == 3)
    q1.stop()

    // restart from the checkpoint with a wave published while down:
    // exactly the missed wave is delivered, nothing re-delivered
    EnvelopeFeed.publishWave(Seq("wave three").toDF("t"), "t", dir)
    val q2 = start()
    q2.processAllAvailable()
    val lines = spark.read.text(out).collect().map(_.getString(0)).toSeq
    assert(lines.length == 4, lines.mkString("; "))
    assert(lines.count(_.contains("wave three")) == 1, lines.mkString("; "))
    q2.stop()
  }

  test("missing path fails at planning with a clear error") {
    val missing = "/tmp/env_v2_does_not_exist_" + System.nanoTime()
    val ex = intercept[Exception] {
      spark.read.format("graft-envelope").load(missing).count()
    }
    // the planning-time IllegalArgumentException may be wrapped by the
    // exec layer; the message must survive and name the path
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(m =>
      m.contains("does not exist") && m.contains(missing)), ex.toString)
  }
}
