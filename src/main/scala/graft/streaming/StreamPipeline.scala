package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.TextOps
import graft.ml.SentimentScorer
import graft.plans.FromJsonString

/** The reference's streaming serving path re-expressed Spark-first
  * (SURVEY.md §2a/2i): schema'd JSON envelope decode → clean/tokenize
  * → null filter → 5-stage sentiment scoring → one of four sink
  * modalities, with micro-batch semantics and checkpointing.
  *
  * The Kafka scan (`consumer_local.py:32-40`) is abstracted behind
  * [[StreamPipeline.transform]]'s input: any streaming DataFrame with a
  * binary-or-string `value` column (Kafka's contract) plugs in — a
  * kafka connector jar would drop in with zero engine change; tests
  * and the in-repo demo use file/MemoryStream sources with the same
  * downstream contract.
  *
  * Every transform is a narrow, stateless column expression: the whole
  * pipeline is shuffle-free and needs no state store, so it scales
  * linearly with source partitions (Kafka partition = Spark task).
  */
object StreamPipeline {

  /** The producer's JSON envelope schema
    * (`producer.py:39-42` / `consumer_local.py:29`). */
  val EnvelopeSchema: StructType =
    StructType(Seq(StructField("message", StringType)))

  /** Envelope a raw text column into the producer's wire format
    * (`producer.py:40-42`: comma scrub + JSON encode). */
  def envelope(text: Column): Column =
    to_json(struct(TextOps.scrubCommas(text).as("message")))

  /** Decode + clean + score. Input: streaming or batch DataFrame with
    * a `value` column (binary or string). Output columns:
    * `message`, `cleaned_data`, `prediction`, `created_at`. The
    * envelope decode is `from_json`'s, parsed from a String
    * ([[graft.plans.FromJsonString]]).
    *
    * Implements the *intended* reference semantics (clean the decoded
    * `message` field); `consumer_local.py:49` as-written cleans the
    * raw envelope — see [[transformAsWritten]] and SURVEY.md §2g. */
  def transform(df: DataFrame, scorer: SentimentScorer): DataFrame = {
    val decoded = df
      .select(col("value").cast("string").as("raw"))          // P1
      .withColumn("value", FromJsonString.of(col("raw"), EnvelopeSchema)) // P2/F2
      .select(col("value.message").as("message"))
      .na.drop()                                              // P3
    scorer.scoreText(decoded, "message")                      // P4 + M1-M5
      .withColumn("created_at",
        date_format(current_timestamp(), "EEE MMM dd HH:mm:ss zzz yyyy"))
      .select(col("message"), col("cleaned_data"),
        col("prediction"), col("created_at"))
  }

  /** Strict as-written parity mode: the UDF input is the raw envelope
    * string, so a constant "message" token prefixes every doc
    * (`consumer_local.py:40,49`; SURVEY.md §2g discrepancy note). */
  def transformAsWritten(df: DataFrame, scorer: SentimentScorer): DataFrame = {
    val decoded = df
      .select(col("value").cast("string").as("message"))
      .na.drop()
    scorer.scoreText(decoded, "message")
      .select(col("message"), col("cleaned_data"), col("prediction"))
  }

  /** S4 console sink (`consumer.py:58-63`): update mode, no checkpoint. */
  def toConsole(scored: DataFrame): DataStreamWriter[Row] =
    scored.writeStream
      .format("console")
      .outputMode(OutputMode.Update())

  /** S5 JSON-file sink (`consumer_local.py:59-66`): append mode with
    * checkpoint — exactly-once via the `_spark_metadata` commit log. */
  def toJsonFiles(scored: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    scored.writeStream
      .format("json")
      .outputMode(OutputMode.Append())
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** S6/S7 foreachBatch sink (`consumer_mongo.py:10-13`,
    * `consumer_delta.py:11-13`): the scored stream into
    * [[mergeSchemaParquetWriter]] through [[toForeachBatch]]. */
  def toForeachBatchParquet(scored: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    toForeachBatch(scored, checkpoint)(mergeSchemaParquetWriter(path))

  /** The one foreachBatch stream builder: append mode, checkpointed,
    * each micro-batch handed to `writer`. Its writer here,
    * [[mergeSchemaParquetWriter]], overwrites the batch's own
    * partition, so at-least-once replays rewrite themselves. */
  def toForeachBatch(df: DataFrame, checkpoint: String)(
      writer: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(writer)

  /** The per-batch writer behind [[toForeachBatchParquet]], exposed so
    * the schema-union semantics are testable without stream plumbing
    * (a real evolution arrives across restarts that continue the
    * checkpoint's batch counter).
    *
    * Sink discipline (the S6/S7 writers'): parquet partitioned by
    * `batch_id`, written with dynamic partition OVERWRITE, so a
    * replayed batch rewrites its own partition instead of duplicating
    * rows (the reference's mongo/delta appends are not idempotent).
    * `batch_id` is stamped AFTER alignment — it is the sink's column,
    * never a user column.
    *
    * `mergeSchema` semantics (the reference's delta sink sets
    * `mergeSchema=true`, `consumer_delta.py:13`): before writing, the
    * batch is aligned to the union of the existing table schema and
    * its own — columns the table has but the batch lacks are added as
    * typed nulls, columns the batch adds simply appear in the new
    * files — so an evolving envelope never breaks the write and a
    * `mergeSchema` read sees the full union. The schema probe reads
    * parquet footers only; at scale, pin a table schema up front or
    * use a real transactional table format instead.
    *
    * The on-disk footer probe runs ONCE per writer (first batch after
    * start/restart); afterwards the accumulated union schema is
    * carried in the writer closure, so per-batch cost stays O(1)
    * instead of re-listing every previously written partition — a
    * long-running stream adds one partition per batch, and a per-batch
    * full-table probe would grow quadratically in aggregate. Correct
    * because this writer is the table's only producer between
    * restarts. The probe drops the sink's own `batch_id` partition
    * column (inferred as int from directory names), so only user
    * columns are aligned. */
  def mergeSchemaParquetWriter(path: String): (DataFrame, Long) => Unit = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    // accumulated union schema; None until first probe
    var known: Option[StructType] = None
    (batch: DataFrame, batchId: Long) => {
      if (known.isEmpty) {
        known = scala.util.Try(StructType(
          batch.sparkSession.read.option("mergeSchema", "true")
            .parquet(path).schema.filterNot(_.name == "batch_id"))).toOption
      }
      val aligned = known.fold(batch) { old =>
        val batchTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
        old.fields.foldLeft(batch) { (d, f) =>
          batchTypes.get(f.name) match {
            // column the table has but this batch lacks: typed null
            case None => d.withColumn(f.name, lit(null).cast(f.dataType))
            case Some(t) if t == f.dataType => d
            // column re-appearing under a different type: cast back to
            // the recorded type when lossless (int batch into a long
            // table), otherwise fail the batch NOW with a clear error —
            // writing as-is would poison every later mergeSchema read
            // of the table with a footer-level type conflict
            case Some(t) if Cast.canUpCast(t, f.dataType) =>
              d.withColumn(f.name, col(f.name).cast(f.dataType))
            case Some(t) => throw new IllegalStateException(
              s"mergeSchema conflict on column '${f.name}': table has " +
                s"${f.dataType.simpleString}, batch $batchId has " +
                s"${t.simpleString} (no lossless cast)")
          }
        }
      }
      known = Some(aligned.schema) // fold this batch's new columns in
      aligned.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    }
  }

  /** File-based source twin of the Kafka scan: tails JSON envelope
    * files from `dir`. Same downstream contract as S1 (a `value`
    * column), so [[transform]] is source-agnostic. */
  def fromJsonFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir) // yields a single `value: string` column
}
