package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.functions.TextOps
import graft.ml.{SentimentModel, SentimentScorer}
import graft.streaming.StreamPipeline

/** Reads a finished query's checkpoint: per batch, the files its
  * `offsets/` entry added to the seen-file set, when that entry was
  * written and when `commits/` recorded the batch. */
object Checkpoint {
  final case class Batch(id: Long, files: Seq[String], offsetMs: Long, commitMs: Option[Long],
                         offsetBytes: Long)

  private def numbered(dir: File): Seq[(Long, File)] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.nonEmpty && f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f).sortBy(_._1)

  def batches(ckpt: String): Seq[Batch] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val commits = numbered(new File(ckpt, "commits")).toMap
    var seen = Set.empty[String]
    numbered(new File(ckpt, "offsets")).map { case (id, f) =>
      // v1 / batch metadata / the source's offset (its seen-file list)
      val src = Common.read(f.getPath).split("\n")(2)
      val all = org.json4s.jackson.JsonMethods.parse(src).extract[Seq[String]]
      val added = all.filterNot(seen)
      seen ++= added
      Batch(id, added, f.lastModified(), commits.get(id).map(_.lastModified()),
        src.getBytes("UTF-8").length.toLong)
    }
  }
}

/** One published file, from the generator's log. */
final case class Pub(file: String, docs: Long, scheduledMs: Long, actualMs: Long)

object Pub {
  def readLog(path: String): Seq[Pub] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    Common.read(path).split("\n").filter(_.nonEmpty).map { l =>
      val j = org.json4s.jackson.JsonMethods.parse(l)
      Pub((j \ "file").extract[String], (j \ "docs").extract[Long],
        (j \ "scheduled_ms").extract[Long], (j \ "actual_ms").extract[Long])
    }.toSeq
  }
}

/** The two feed workloads. Both run `graft-envelope` →
  * `StreamPipeline.transform` into one of the pipeline's checkpointed
  * sinks; `feed-paced` into `toJsonFiles` under an open-loop
  * generator, `feed-backlog` into `toForeachBatchParquet` over a
  * pre-published backlog. */
object Feed {

  def source(spark: SparkSession, watch: String): DataFrame =
    spark.readStream.format("graft-envelope").load(watch)

  def startJson(spark: SparkSession, scorer: SentimentScorer, watch: String,
                out: String, ckpt: String): StreamingQuery =
    StreamPipeline.toJsonFiles(StreamPipeline.transform(source(spark, watch), scorer), out, ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()

  def startParquet(spark: SparkSession, scorer: SentimentScorer, watch: String,
                   out: String, ckpt: String): StreamingQuery =
    StreamPipeline.toForeachBatchParquet(
      StreamPipeline.transform(source(spark, watch), scorer), out, ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()

  /** `toForeachBatchParquet`'s query with the public per-batch writer
    * wrapped in a timer (traced runs only). */
  def startParquetTimed(spark: SparkSession, scorer: SentimentScorer, watch: String,
                        out: String, ckpt: String, writerNs: java.util.concurrent.atomic.AtomicLong)
      : StreamingQuery = {
    val w = StreamPipeline.mergeSchemaParquetWriter(out)
    val timed: (DataFrame, Long) => Unit = (df, id) => {
      val t = System.nanoTime()
      try w(df, id) finally writerNs.addAndGet(System.nanoTime() - t)
    }
    StreamPipeline.transform(source(spark, watch), scorer).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch(timed)
      .trigger(Trigger.ProcessingTime(0)).start()
  }

  // ---- per-row chain prefixes (batch mode, traced runs) -------------

  /** P1-P3 exactly as `StreamPipeline.transform` spells them. */
  def decode(raw: DataFrame): DataFrame =
    raw.select(col("value").cast("string").as("raw"))
      .withColumn("value", from_json(col("raw"), StreamPipeline.EnvelopeSchema))
      .select(col("value.message").as("message"))
      .na.drop()

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Progressive prefixes over the published files until warm: scan →
    * +decode → +cleanTokens → +score (full transform) → +sink write.
    * Each is run `reps` times; the fastest of the repetitions after
    * the first counts. `prepare` runs before each repetition, untimed. */
  def prefixes(spark: SparkSession, scorer: SentimentScorer, watch: String, sinkDir: String,
               reps: Int = 2): Map[String, Double] = {
    def raw = spark.read.format("graft-envelope").load(watch).select("value")
    def time(f: => Unit, prepare: => Unit = ()): Double = {
      val ts = (1 to reps).map { _ =>
        prepare
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
      }
      ts.drop(1).min
    }
    var n = 0
    val scan = time(noop(raw))
    val dec = time(noop(decode(raw)))
    val clean = time(noop(decode(raw).withColumn("cleaned_data", TextOps.cleanTokens(col("message")))))
    val full = time(noop(StreamPipeline.transform(raw, scorer)))
    val sink = time({
      StreamPipeline.mergeSchemaParquetWriter(sinkDir)(StreamPipeline.transform(raw, scorer), n.toLong)
      n += 1
    }, prepare = Common.rmrf(new File(sinkDir)))
    Map("scan" -> scan, "decode" -> dec, "clean" -> clean, "score" -> full, "sink" -> sink)
  }

  /** decode.dropped_ratio, tokens_per_doc and vocab_hit_ratio over the
    * published files (traced runs only). */
  def rowStats(spark: SparkSession, model: SentimentModel, watch: String): Map[String, Double] = {
    import spark.implicits._
    val raw = spark.read.format("graft-envelope").load(watch).select("value")
    val envelopes = raw.count()
    val toks = decode(raw).select(TextOps.cleanTokens(col("message")).as("t"))
    val bm = spark.sparkContext.broadcast(model)
    val (docs, tokens, nonStop, hits) = toks.as[Seq[String]].mapPartitions { it =>
      val m = bm.value
      val stop = m.stopWords.map(_.toLowerCase(java.util.Locale.UK)).toSet
      var d, t, ns, h = 0L
      it.foreach { ts =>
        d += 1; t += ts.length
        ts.foreach { w =>
          if (!stop(w.toLowerCase(java.util.Locale.UK))) {
            ns += 1
            if (m.vocab.containsKey(w)) h += 1
          }
        }
      }
      Iterator((d, t, ns, h))
    }.collect().foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), (w, x, y, z)) =>
      (a + w, b + x, c + y, d + z) }
    bm.destroy()
    Map("dropped_ratio" -> (envelopes - docs).toDouble / math.max(envelopes, 1),
      "tokens_per_doc" -> tokens.toDouble / math.max(docs, 1),
      "vocab_hit_ratio" -> hits.toDouble / math.max(nonStop, 1))
  }
}
