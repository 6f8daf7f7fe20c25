package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.functions.TextOps
import graft.ml.SentimentModel
import graft.streaming.StreamPipeline

/** Order-independent fingerprint of a string multiset: the count and
  * exact sums of each string's CRC-32 and of the first 15 hex digits
  * of its SHA-256 (UTF-8). gen.py computes the same for what it
  * publishes. */
object Fingerprint {
  def of(df: DataFrame, c: String): Map[String, String] = {
    val dec = "decimal(38,0)"
    val zero = lit(0).cast(dec)
    val r = df.agg(count(lit(1)),
      coalesce(sum(crc32(col(c).cast("binary")).cast(dec)), zero),
      coalesce(sum(conv(substring(sha2(col(c), 256), 1, 15), 16, 10).cast(dec)), zero)).head()
    Map("n" -> r.getLong(0).toString, "crc32" -> r.getDecimal(1).toBigInteger.toString,
      "sha15" -> r.getDecimal(2).toBigInteger.toString)
  }
}

/** Exactly-once audit of a feed run's committed view — the JSON
  * sink's `_spark_metadata` log, or every `batch_id` partition of the
  * foreachBatch parquet table — against the generator's manifest:
  *  - committed rows == published well-formed docs, and the message
  *    multiset equals the generator's (fingerprint; an exact
  *    per-message diff runs only when the fingerprint differs);
  *  - on a seeded ~1/32 sample, `prediction` equals
  *    `SentimentModel.predict` over `TextOps.cleanTokensReference`
  *    minus stop words (the regex chain and the plain-Scala margin). */
object Audit {

  final case class Result(committed: Long, expected: Long, missing: Long,
                          extra: Long, sampled: Long, misScored: Long) {
    def failed: Long = missing + extra + misScored
    def render: Map[String, Any] = Map("committed" -> committed,
      "expected" -> expected, "missing" -> missing, "extra" -> extra,
      "sampled" -> sampled, "mis_scored" -> misScored)
  }

  val SampleModulus = 32

  private val JsonOut = StructType(Seq(
    StructField("message", StringType), StructField("prediction", DoubleType)))

  /** The committed view of a sink directory (`json` or `parquet`).
    * Files the log names but the disk lacks read as missing rows. */
  def committed(spark: SparkSession, format: String, dir: String): DataFrame = format match {
    case "json" => spark.read.schema(JsonOut).json(dir)
    case "parquet" => spark.read.parquet(dir).select("message", "prediction")
  }

  def run(spark: SparkSession, model: SentimentModel, format: String, dir: String,
          watch: String, manifest: Map[String, Any], seed: Long,
          sample: Boolean = true): Result = {
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val got = committed(spark, format, dir)
      val exp = manifest("expected").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
      val expN = exp("n").toLong
      val fp = Fingerprint.of(got, "message")
      val (missing, extra) = if (fp == exp) (0L, 0L) else exactDiff(spark, got, watch)
      val (sampled, bad) = if (sample) checkSample(spark, model, got, seed) else (0L, 0L)
      Result(fp("n").toLong, expN, missing, extra, sampled, bad)
    } finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
  }

  /** Per-message multiset difference against the published envelopes,
    * decoded by Spark's own JSON reader (not the pipeline's path). */
  private def exactDiff(spark: SparkSession, got: DataFrame, watch: String): (Long, Long) = {
    val published = spark.read.schema(StreamPipeline.EnvelopeSchema).json(watch)
      .na.drop().groupBy("message").agg(count(lit(1)).as("e"))
    val committed = got.groupBy("message").agg(count(lit(1)).as("g"))
    val r = published.join(committed, Seq("message"), "full_outer")
      .select(coalesce(col("e"), lit(0L)).as("e"), coalesce(col("g"), lit(0L)).as("g"))
      .agg(coalesce(sum(greatest(col("e") - col("g"), lit(0L))), lit(0L)),
        coalesce(sum(greatest(col("g") - col("e"), lit(0L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def checkSample(spark: SparkSession, model: SentimentModel, got: DataFrame,
                          seed: Long): (Long, Long) = {
    val rows = got
      .filter(pmod(xxhash64(col("message"), lit(seed)), lit(SampleModulus.toLong)) === 0)
      .select(col("prediction"), TextOps.cleanTokensReference(col("message")).as("toks"))
      .collect()
    val stop = model.stopWords.map(_.toLowerCase(java.util.Locale.UK)).toSet
    val bad = rows.count { r =>
      val words = r.getSeq[String](1).filterNot(w => stop(w.toLowerCase(java.util.Locale.UK)))
      r.isNullAt(0) || r.getDouble(0) != model.predict(words)
    }
    (rows.length.toLong, bad.toLong)
  }

  // ---- planted faults (the benchmark's own tests) --------------------

  private def dataFiles(format: String, dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(g => g.getName.startsWith("_") || g.getName.startsWith("."))
        .flatMap(walk)
      else Seq(f)
    walk(dir).filter(f => f.getName.startsWith("part-") && f.length() > 0)
      .sortBy(_.getPath)
  }

  /** Plants one fault in a committed view: `dup` commits a copy of a
    * data file, `drop` deletes one, `flip` inverts every prediction in
    * one. */
  def plant(spark: SparkSession, format: String, dir: String, fault: String): Unit = {
    val victim = dataFiles(format, new File(dir)).headOption
      .getOrElse(sys.error(s"no committed data file under $dir to plant $fault in"))
    fault match {
      case "drop" => require(victim.delete(), s"could not delete $victim")
      case "dup" =>
        val copy = new File(victim.getParentFile, "part-99999-dup-" + victim.getName.drop(5))
        Files.copy(victim.toPath, copy.toPath)
        if (format == "json") {
          // commit the copy: its entry, appended to the newest sink log file
          val logs = new File(dir, "_spark_metadata").listFiles()
            .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
            .sortBy(f => f.getName.takeWhile(_.isDigit).toLong)
          def lines(f: File) = Files.readAllLines(f.toPath, UTF_8).asScala
          val entry = logs.iterator.flatMap(f => lines(f)).find(_.contains(victim.getName))
            .getOrElse(sys.error(s"${victim.getName} is in no sink log under $dir"))
          Files.write(logs.last.toPath, (lines(logs.last) :+ entry.replace(victim.getName, copy.getName))
            .mkString("\n").getBytes(UTF_8))
        }
      case "flip" =>
        format match {
          case "json" =>
            val flipped = Files.readAllLines(victim.toPath, UTF_8).asScala.map(l =>
              if (l.contains("\"prediction\":0.0")) l.replace("\"prediction\":0.0", "\"prediction\":1.0")
              else l.replace("\"prediction\":1.0", "\"prediction\":0.0"))
            Files.write(victim.toPath, flipped.mkString("", "\n", "\n").getBytes(UTF_8))
          case "parquet" =>
            val tmp = new File(victim.getParentFile.getParentFile, "_flip")
            spark.read.parquet(victim.getPath)
              .withColumn("prediction", lit(1.0) - col("prediction"))
              .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
            val part = dataFiles(format, tmp).head
            Files.move(part.toPath, victim.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            Common.rmrf(tmp)
        }
        // the rewritten file no longer matches its Hadoop checksum sidecar
        new File(victim.getParentFile, s".${victim.getName}.crc").delete()
      case other => sys.error(s"unknown fault $other")
    }
  }
}
