package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.Row

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
  def envelope(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
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
    * each micro-batch handed to `writer`. Every writer here is an
    * [[idempotentBatchSink]], so at-least-once replays rewrite
    * themselves. */
  def toForeachBatch(df: DataFrame, checkpoint: String)(
      writer: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(writer)

  /** The one per-batch sink discipline (the S6/S7 writers'): parquet
    * partitioned by `batch_id`, written with dynamic partition
    * OVERWRITE, so a replayed batch rewrites its own partition instead
    * of duplicating rows (the reference's mongo/delta appends are not
    * idempotent).
    *
    * `dedupKey` is the replay guard: an at-least-once source can
    * repeat a row WITHIN one batch, and a per-document `op` would
    * otherwise see it k times (k² copies through a self-keyed join);
    * retries carry identical payloads, so any survivor is the right
    * one. `op` maps the guarded batch to its output rows plus a
    * release hook (cached operator state, e.g.
    * [[graft.operators.DedupOps.incrementalDedupReleasable]]'s), which
    * runs after the write even when it fails, so an unbounded stream
    * accumulates nothing across batches. `batch_id` is stamped AFTER
    * `op` — it is the sink's column, never the operator's. */
  def idempotentBatchSink(path: String, dedupKey: Option[String])(
      op: (DataFrame, Long) => (DataFrame, () => Unit)): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val (out, release) = op(dedupKey.fold(batch)(batch.dropDuplicates(_)), batchId)
      try {
        out.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(path)
      } finally release()
    }

  private val noRelease: () => Unit = () => ()

  /** The per-batch writer behind [[toForeachBatchParquet]], exposed so
    * the schema-union semantics are testable without stream plumbing
    * (a real evolution arrives across restarts that continue the
    * checkpoint's batch counter).
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
    idempotentBatchSink(path, dedupKey = None) { (batch, batchId) =>
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
      (aligned, noRelease)
    }
  }

  /** File-based source twin of the Kafka scan: tails JSON envelope
    * files from `dir`. Same downstream contract as S1 (a `value`
    * column), so [[transform]] is source-agnostic. */
  def fromJsonFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir) // yields a single `value: string` column

  // ---- stateful extensions (SURVEY.md §2i: the reference is fully
  // stateless; these are the watermark/window/dedup operators a
  // large-scale streaming pipeline adds on top) -----------------------

  /** Event-time tumbling-window counts with a watermark — the
    * streaming twin of batch query q5. State size is bounded by the
    * watermark horizon; keys partition the state store, so the
    * aggregation scales with executors, not stream length. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col(keyCol), col("n"))

  /** Event-time SESSION windows via the built-in `session_window`
    * (dynamic-gap merging windows) — the declarative sibling of the
    * `flatMapGroupsWithState` sessionizer below: state merges are
    * handled by the engine's session-window state store, sessions
    * finalize when the watermark passes their gap-extended end, and
    * the whole thing stays an ordinary watermarked aggregation
    * (update-compatible sinks, AQE-planned). Use the custom
    * sessionizer when per-session logic goes beyond aggregates. */
  def sessionWindowCounts(events: DataFrame, tsCol: String, keyCol: String,
                          gap: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col(keyCol), col("n"))

  /** First-seen admission with PROCESSING-TIME TTL state — the
    * `withWatermark(...).dropDuplicatesWithinWatermark(...)` twin for
    * feeds WITHOUT trustworthy event timestamps (a crawl front
    * without a watermarkable ts column):
    * `dropDuplicatesWithinWatermark` expires state by
    * event-time watermark; here a fingerprint is "recently seen"
    * for `ttl` of WALL-CLOCK time and the state store reclaims it
    * after. Built on Spark 4's `transformWithState`
    * StatefulProcessor API (one boolean `ValueState` per live
    * fingerprint, `TTLConfig`-expired — requires the RocksDB state
    * store provider, which ships in this image). First arrival of
    * each `fp` is admitted (within a micro-batch, the first row of
    * the key's iterator); repeats inside the TTL horizon drop.
    * State is bounded by the number of DISTINCT fingerprints seen
    * per TTL window — the same bound the watermark variant carries,
    * measured on a different clock.
    *
    * Deployment note (probed, spec'd): ProcessingTime TimeMode
    * schedules micro-batches CONTINUOUSLY to advance the TTL clock —
    * batch ids climb even with no input, and
    * `processAllAvailable()` never latches. Always set a trigger
    * interval (`Trigger.ProcessingTime(...)`) on queries over this
    * operator; the interval bounds both the no-input batch rate and
    * TTL-eviction granularity.
    *
    * Column contract: `idCol` must be long-castable and `textCol`
    * string-castable — the state encoder is typed (String, Long,
    * String), so a non-numeric id would cast to NULL and come out
    * NULL in the admitted rows rather than erroring. Envelope feeds
    * satisfy this (numeric ids); map a string id through a 60-bit
    * hash ([[graft.operators.DedupOps.md5Hash60]]) first if needed. */
  def ttlDedupStream(df: DataFrame, idCol: String, textCol: String,
                     fp: Column, ttl: java.time.Duration): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(fp.cast("string").as("_fp"),
        col(idCol).cast("long").as("_id"),
        col(textCol).cast("string").as("_text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new FirstSeenTtlProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
      .toDF(idCol, textCol)
  }

  /** EXACT media dedup as an INGEST GATE — the streaming twin of the
    * v3 batch query: admit a media row iff its sha256(payload) digest
    * is first-seen within `ttl`, composed from [[ttlDedupStream]]
    * keyed by the digest. The design constraint it preserves at
    * 100 TB is the same one v3's batch plan states: payload BYTES
    * never enter state or shuffle — the digest is computed in the
    * stateless projection (codegen sha2 over the scan), and the
    * RocksDB state per live key is the 64-char digest alone, so a
    * petabyte-scale media stream carries megabytes of state per
    * million distinct payloads. Emits (idCol, digest) for the
    * admitted rows; the dropped rows are exactly the later-arriving
    * members of each digest-identity class (arrival order, not
    * min-id — a stream cannot see the future; feed id-ordered input
    * to recover v3's min-id keeper choice, which
    * MediaDigestDedupStreamSpec pins against the batch partition).
    * Deployment note inherited from [[ttlDedupStream]]:
    * ProcessingTime TimeMode — always set a trigger interval. */
  def mediaDigestDedupStream(df: DataFrame, idCol: String,
                             payloadCol: String,
                             ttl: java.time.Duration): DataFrame =
    ttlDedupStream(
      df.select(col(idCol),
        sha2(col(payloadCol), 256).as("digest")),
      idCol, "digest", col("digest"), ttl)

  /** Per-key admission QUOTA with processing-time windows — the
    * crawl-fairness gate (cap any one source/domain at
    * `maxPerWindow` documents per `window` so a hot host cannot
    * monopolize the ingest budget), the second
    * `transformWithState` operator beside [[ttlDedupStream]]. State
    * per live key is one (windowStart, admittedCount) pair; the
    * window resets lazily on the first arrival past its end (no
    * timers — idle keys carry no work) and a 2×window TTL reclaims
    * keys that stop arriving entirely. Admission is deterministic
    * given per-key arrival order: the first `maxPerWindow` rows of
    * each window pass, the rest drop.
    *
    * Same deployment note as [[ttlDedupStream]]: ProcessingTime
    * TimeMode — set a trigger interval. Same column contract too:
    * `idCol` long-castable, `textCol`/`keyCol` string-castable (a
    * non-numeric id casts to NULL instead of erroring). */
  def sourceQuotaStream(df: DataFrame, keyCol: String, idCol: String,
                        textCol: String, maxPerWindow: Int,
                        window: java.time.Duration): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(keyCol).cast("string").as("_k"),
        col(idCol).cast("long").as("_id"),
        col(textCol).cast("string").as("_text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new QuotaProcessor(maxPerWindow, window),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
      .toDF(keyCol, idCol, textCol)
  }

  /** The [[sourceQuotaStream]] processor. */
  private class QuotaProcessor(maxPerWindow: Int, window: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, String), (String, Long, String)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("quota",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig(window.multipliedBy(2)))
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, String)] = {
      val now = timerValues.getCurrentProcessingTimeInMs()
      val (ws0, c0) = if (st.exists()) st.get() else (now, 0L)
      val (ws, c) =
        if (now - ws0 >= window.toMillis) (now, 0L) else (ws0, c0)
      val room = math.max(0L, maxPerWindow - c).toInt
      val admitted = rows.take(room).toSeq
      st.update((ws, c + admitted.size))
      admitted.iterator
    }
  }

  /** The [[ttlDedupStream]] processor: admits the first row of a
    * never-seen (or TTL-expired) fingerprint, drops the rest. */
  private class FirstSeenTtlProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, String), (Long, String)] {
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig(ttl))
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String)] = {
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1).map(r => (r._2, r._3)) }
    }
  }

  /** Per-key RUNNING QUANTILE snapshots — the streaming face of
    * q51's scale path ([[graft.plans.QuantileSketchAgg]]), the third
    * `transformWithState` operator beside [[ttlDedupStream]] and
    * [[sourceQuotaStream]]: each key holds ONE bounded
    * compactor-hierarchy sketch (O(k·log(n/k)) doubles, self-sizing
    * — never the values themselves), absorbs its batch's values into
    * it, and emits one snapshot row per key per micro-batch it
    * received data in: (key, n, bound, qs) with the sketch's own
    * worst-case rank window `bound` alongside the estimates, exactly
    * as the batch aggregate emits it. The RunningQuantile foreachBatch
    * helper folds ONE global sketch on the driver; this is its keyed,
    * executor-resident twin — per-source latency percentiles, per-host
    * document-length profiles — state store-backed, restart-safe.
    *
    * Invariants carried over from the batch sketch (spec-pinned):
    * batch-split invariance — the FINAL snapshot after the last batch
    * equals the single-batch snapshot, because state IS the sketch
    * and insertion order per key is arrival order either way; n is
    * exact; at n ≤ k nothing ever compacts so estimates are exact;
    * and every estimate's true rank lies within ±bound of ⌈φ·n⌉.
    *
    * TimeMode.None: no TTL, no timers — state lives for the stream's
    * lifetime and is bounded per key by the sketch size, so (unlike
    * the TTL twins) `processAllAvailable()` latches normally.
    * Column contract as [[ttlDedupStream]]: `valueCol` double-castable
    * (NULLs skipped, NaN rejected — order undefined), `keyCol`
    * string-castable. */
  def quantileSnapshotStream(df: DataFrame, keyCol: String,
                             valueCol: String, k: Int,
                             phis: Seq[Double]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(keyCol).cast("string").as("_k"),
        col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new QuantileSnapshotProcessor(k, phis),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF(keyCol, "n", "bound", "qs")
  }

  /** The [[quantileSnapshotStream]] processor: state is the
    * serialized sketch (the [[graft.plans.QuantileSketchBytes]]
    * wire format — a checkpoint is a mergeable sketch, portable to
    * the batch side). */
  private class QuantileSnapshotProcessor(k: Int, phis: Seq[Double])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Long, Seq[Double])] {
    import graft.plans.QuantileSketchAgg.Sketch
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("qsketch",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long, Seq[Double])] = {
      val sk = if (st.exists()) Sketch.deserialize(st.get(), k)
               else Sketch.empty(k)
      rows.foreach { r =>
        require(!r._2.isNaN,
          "quantile_snapshot_stream: NaN value (order undefined)")
        sk.insert(r._2)
      }
      st.update(sk.serialize())
      Iterator.single((key, sk.n, sk.queryBound, sk.quantiles(phis)))
    }
  }

  /** Per-key STREAMING PSI DRIFT monitor — the streaming face of the
    * t36/t37 drift queries and the fourth `transformWithState`
    * operator: each key holds ONE bounded state row (the previous
    * data-bearing micro-batch's `nBuckets`-cell census — `nBuckets`
    * longs, never documents), and every batch that brings the key
    * data emits `(key, n_prev, n_cur, psi_mu)` — the population
    * stability index between the previous and current batch's value
    * distributions, in the EXACT integer algebra of the batch
    * queries (add-one smoothing over the full grid, micro-nat logs
    * quantized by HALF_UP 6-dp rounding, cross-multiplied exact p−q
    * rational, floored non-negative division), so a streamed reading
    * is cross-checkable against the t36/t37 oracle arithmetic.
    * This is the production drift-alarm shape: per-source document
    * length (or score, or token count) profiles that page someone
    * when an upstream crawler change shifts the distribution.
    *
    * The first batch for a key seeds state and emits nothing (PSI
    * needs two distributions); a key silent in a batch keeps its
    * census until it next appears. PSI(identical censuses) = 0
    * exactly (every cross-multiplied term cancels). TimeMode.None:
    * state is `nBuckets` longs per key for the stream's lifetime.
    * `valueCol` must be long-castable and non-negative; values land
    * in `min(value / bucketWidth, nBuckets-1)`. */
  def psiDriftStream(df: DataFrame, keyCol: String, valueCol: String,
                     nBuckets: Int = 16, bucketWidth: Long = 64L): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // integer `div` (NOT Column `/`, which is double true-division then
    // truncate): exact for every bucketWidth, and bit-identical to the
    // t36/t37 batch bucketing it is cross-checked against — double
    // rounding can land a very large long one bucket off for
    // non-power-of-two widths (r11 advice)
    df.select(col(keyCol).cast("string").as("_k"),
        least(call_function("div",
            greatest(col(valueCol).cast("long"), lit(0L)), lit(bucketWidth)),
          lit(nBuckets - 1L)).cast("long").as("_b"))
      .filter(col("_b").isNotNull)
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new PsiDriftProcessor(nBuckets),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF(keyCol, "n_prev", "n_cur", "psi_mu")
  }

  /** The [[psiDriftStream]] processor: state is the previous census
    * as packed little-endian longs (portable, version-free). */
  private class PsiDriftProcessor(nB: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long, Long, Long)] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("psicensus",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    private def pack(a: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(a.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      a.foreach(bb.putLong); bb.array()
    }
    private def unpack(b: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.length / 8)(bb.getLong)
    }
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long, Long)] = {
      val cur = new Array[Long](nB)
      rows.foreach(r => cur(r._2.toInt) += 1)
      val out =
        if (st.exists()) {
          val prev = unpack(st.get())
          Iterator.single((key, prev.sum, cur.sum,
            StreamPipeline.psiMicroNats(prev, cur)))
        } else Iterator.empty
      st.update(pack(cur))
      out
    }
  }

  /** Incremental batch run: process everything currently available,
    * then stop — `Trigger.AvailableNow` + checkpoint turns any
    * streaming pipeline into a resumable batch job that touches only
    * files added since the last run. This is the nightly-corpus-ingest
    * pattern at 100 TB: reprocessing cost is proportional to NEW data,
    * not table size, with exactly-once file-source accounting from the
    * checkpoint offset log. Blocks until complete. */
  def runIncremental(source: DataFrame, scorer: SentimentScorer,
                     sink: DataFrame => DataStreamWriter[Row]): Unit = {
    val q = sink(transform(source, scorer))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Watermarked stream-stream join: each click joins purchases of
    * the same user within `[click - horizon, click]`. Both sides carry
    * watermarks and the join has a time-range predicate, so the state
    * store retains each side only for the horizon — bounded state,
    * keyed shuffle on the join key (scales with users, not stream
    * length).
    *
    * `joinType` defaults to `inner`. `left_outer` adds the
    * conversion-funnel "never purchased" rows: a click with no
    * purchase in its horizon emits null-extended ONCE — but only when
    * the watermark passes the horizon-extended click time, because
    * until then a matching purchase could still arrive. `full_outer`
    * additionally finalizes purchase-side orphans (purchases no click
    * preceded — attribution leaks) the same way; their `user` comes
    * from the purchase side (the output key is coalesced across
    * sides, an identity for inner/left). The time-range predicate
    * plus both-side watermarks is exactly what makes that
    * finalization (and the bounded state eviction) possible; an outer
    * stream-stream join without them is unplannable. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        userCol: String, tsCol: String,
                        horizon: String, watermark: String,
                        joinType: String = "inner"): DataFrame = {
    // the join itself runs on __cpj_-prefixed internals, so key/time
    // columns named "user"/"click_ts"/etc. never collide; only a
    // *payload* click column carrying one of the reserved output names
    // is rejected (fail fast at construction, not mid-stream)
    val reserved = Seq("user", "click_ts", "purchase_ts")
    val payload = clicks.columns.toSeq.diff(Seq(userCol, tsCol))
    val clash = payload.intersect(reserved)
    require(clash.isEmpty,
      s"clickPurchaseJoin reserves output columns ${reserved.mkString("/")}; " +
        s"rename click input column(s): ${clash.mkString(", ")}")
    val c = clicks
      .withColumn("__cpj_user", col(userCol))
      .withColumn("__cpj_click_ts", col(tsCol))
      .drop(userCol, tsCol)
      .withWatermark("__cpj_click_ts", watermark)
    val p = purchases
      .select(col(userCol).as("__cpj_p_user"),
        col(tsCol).as("__cpj_purchase_ts"))
      .withWatermark("__cpj_purchase_ts", watermark)
    c.join(p,
      col("__cpj_user") === col("__cpj_p_user") &&
        col("__cpj_purchase_ts") >= col("__cpj_click_ts") - expr(s"INTERVAL $horizon") &&
        col("__cpj_purchase_ts") <= col("__cpj_click_ts"),
      joinType)
      // replace in place (keeps column position): for full_outer the
      // purchase-only rows carry the key on the right side only
      .withColumn("__cpj_user",
        coalesce(col("__cpj_user"), col("__cpj_p_user")))
      .drop("__cpj_p_user")
      .withColumnRenamed("__cpj_user", "user")
      .withColumnRenamed("__cpj_click_ts", "click_ts")
      .withColumnRenamed("__cpj_purchase_ts", "purchase_ts")
  }

  /** Streaming sessionization with custom state via
    * `flatMapGroupsWithState`: per-user session accumulates events
    * until `gapMs` of event-time silence, then emits
    * (user, sessionStart, nEvents) and resets. State is one small
    * struct per active user, evicted by event-time timeout — the
    * custom-state twin of the built-in `session_window` aggregation
    * (batch query q18). Output rows appear once their session closes.
    *
    * Late events (out-of-order but inside the watermark) merge into
    * the open session — they can extend its start backward but never
    * drag `last` backward, so lateness cannot mis-split a session. */
  def sessionizeWithState(events: DataFrame, userCol: String, tsCol: String,
                          gapMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col(userCol).cast("long").as("user"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", s"$gapMs milliseconds")
      .as[(Long, java.sql.Timestamp)]

    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           state: GroupState[(Long, Long, Long)]) // (start, last, n)
        : Iterator[(Long, Long, Long)] = {
      if (state.hasTimedOut) {
        val (start, _, n) = state.get
        state.remove()
        Iterator.single((user, start, n))
      } else {
        val ts = rows.map(_._2.getTime).toSeq.sorted
        var out = List.empty[(Long, Long, Long)]
        var (start, last, n) =
          state.getOption.getOrElse((ts.head, ts.head, 0L))
        ts.foreach { t =>
          if (t > last && t - last >= gapMs) { // forward gap: close + reopen
            out = (user, start, n) :: out
            start = t; n = 0L
          }
          if (t < start) start = t // late event extends the open session
          last = math.max(last, t)
          n += 1
        }
        state.update((start, last, n))
        state.setTimeoutTimestamp(last + gapMs)
        out.reverseIterator
      }
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(
        OM.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF("user", "sess_start_ms", "n_events")
  }

  /** Streaming ordered funnel with custom state — batch q26's
    * streaming twin: per user, the state machine view →
    * click-after-view → purchase-after-click advances as events
    * arrive; a completed funnel emits (user, view_ms, click_ms,
    * purchase_ms) in the same micro-batch and the machine resets.
    * State is two longs per active user, evicted by event-time
    * timeout `horizonMs` past the user's last event, so abandoned
    * funnels cost nothing beyond the horizon.
    *
    * Ordering: within a batch, events process in event-time order
    * (strict `>` between stages, like q26); a late event inside the
    * watermark can only advance the machine, never retro-replace an
    * earlier stage — the stream-shaped approximation every production
    * funnel makes, where batch q26 computes the exact global minima. */
  def funnelWithState(events: DataFrame, userCol: String, typeCol: String,
                      tsCol: String, horizonMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col(userCol).cast("long").as("user"),
        col(typeCol).cast("string").as("et"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .as[(Long, String, java.sql.Timestamp)]

    def fn(user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
           state: GroupState[(Long, Long)]) // (viewMs, clickMs); -1 = unset
        : Iterator[(Long, Long, Long, Long)] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val evs = rows.map(r => (r._2, r._3.getTime)).toSeq
          .sortBy { case (et, t) => (t, et) }
        var (view, click) = state.getOption.getOrElse((-1L, -1L))
        var out = List.empty[(Long, Long, Long, Long)]
        evs.foreach { case (et, t) =>
          et match {
            case "view" if view < 0 => view = t
            case "click" if view >= 0 && click < 0 && t > view => click = t
            case "purchase" if click >= 0 && t > click =>
              out = (user, view, click, t) :: out
              view = -1L; click = -1L // completed: next funnel starts fresh
            case _ => ()
          }
        }
        state.update((view, click))
        // GC horizon past this user's newest event; must stay ahead of
        // the current watermark or Spark rejects the timestamp
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs() + 1,
            evs.map(_._2).max + horizonMs))
        out.reverseIterator
      }
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(
        OM.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF("user", "view_ms", "click_ms", "purchase_ms")
  }

  /** Streaming decontamination (the d8 batch operator's serving-path
    * twin): drop streamed documents that share any word n-gram with a
    * static held-out gram set — a STREAM-STATIC left anti join, the
    * join class the engine had not yet exercised (stream-stream and
    * stateful ops are elsewhere). Stateless: no watermark, no state
    * store; the static side is re-planned per micro-batch and
    * broadcast (a benchmark gram set is small by construction), and
    * the join condition is `array_contains(doc grams, static gram)`,
    * so a document survives iff NO static gram occurs in it — exactly
    * d8's flag set, row-local on the stream side. (An exploded
    * semi-join spelling would need a doc-level re-aggregation =
    * streaming state; the gram array stays inside the row instead.)
    * Gram hashes match d8 (md5 of space-joined windows), so a
    * batch-built benchmark gram table plugs in directly. */
  def decontaminateStream(docs: DataFrame, textCol: String,
                          testGramHashes: DataFrame, n: Int): DataFrame = {
    val toks = graft.functions.TextOps.cleanTokens(col(textCol))
    val ghs = when(size(toks) >= n,
        org.apache.spark.sql.functions.transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    val static = broadcast(
      testGramHashes.select(col(testGramHashes.columns.head).as("__gh")))
    docs.withColumn("__ghs", ghs)
      .join(static, array_contains(col("__ghs"), col("__gh")), "left_anti")
      .drop("__ghs")
  }

  /** Streaming twin of the t18 BPE-encode census: encode an unbounded
    * document stream with an ALREADY-TRAINED merge table (the m14 fit
    * runs batch-side; its nMerges (lsym, rsym) rows are the frozen
    * artifact, like the sentiment model's coefficients). Entirely
    * MAP-SIDE — [[graft.operators.CorpusOps.bpeApplyMerges]] is a
    * literal replace chain in codegen, so encoding is stateless,
    * watermark-free, and trivially split-invariant (the
    * [[decontaminateStream]] class of operator; the downstream census
    * agg is the caller's ordinary streaming groupBy). Emits one
    * (sym) row per encoded symbol occurrence; tokens containing the
    * U+001F wrapper are dropped, matching the fit's defensive
    * filter. */
  def bpeEncodeStream(docs: DataFrame, textCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    val toks = graft.functions.TextOps.cleanTokens(col(textCol))
    docs.select(explode(toks).as("w"))
      .filter(!col("w").contains("\u001f"))
      .select(explode(
        graft.operators.CorpusOps.bpeApplyMerges(col("w"), merges)).as("sym"))
  }

  /** Streaming twin of the t25 Gopher/MassiveText rule table
    * ([[graft.operators.CorpusOps.gopherQuality]]): the ingest-side
    * quality gate — every arriving document gets the full Rae et al.
    * 2021 rule verdict as a STATELESS per-row projection (the
    * [[decontaminateStream]]/[[bpeEncodeStream]] class: watermark-free,
    * no state store, trivially split-invariant).
    *
    * The batch operator derives the duplicate-line stats with a
    * (doc, line) keyed agg; per-row that becomes an in-row
    * sort-then-fold over the line array — O(L log L) column work in
    * the doc's line count (r17), the price of statelessness (a doc's
    * lines all live in its own row, so L is bounded by document size,
    * not stream length).
    * Every other stat column and the entire threshold tail are the
    * SAME column expressions the batch operator uses
    * (`gopherArrayStats` / `gopherRuleTail`), so the twin cannot
    * drift from the oracled batch semantics — GopherStreamSpec pins
    * row equality on multi-line corpora and under micro-batch
    * splits. */
  def gopherQualityStream(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    import graft.operators.CorpusOps
    val base = docs
      .select(col(idCol), CorpusOps.gopherWords(col(textCol)).as("ws"),
        CorpusOps.gopherLines(col(textCol)).as("ls"))
      .filter(size(col("ws")) >= 1)
    CorpusOps.gopherRuleTail(
      base.select(col(idCol), col("ws"), col("ls"),
          CorpusOps.inRowLineStatFold.as("__lsf"))
        .select(col(idCol) +: CorpusOps.gopherArrayStats ++:
          CorpusOps.inRowLineStatColsFrom(col("__lsf")): _*), idCol)
  }

  /** Streaming twin of the t38 vocabulary-coverage gate: per
    * event-time window and source, the share of arriving token mass
    * that falls outside a BATCH-FROZEN tokenizer vocabulary — the
    * live drift monitor a serving pipeline points at its ingest
    * topic (rising OOV = the corpus is walking away from the frozen
    * tokenizer). Same algebra as t38's token-mass side, same
    * integer micro-units; the vocab arrives as a stream-static
    * BROADCAST left join exactly like the batch plan, so only the
    * exploded token stream shuffles (for the windowed agg — keyed
    * by (window, source), watermark-bounded state, append mode
    * emits each window once, closed). The distinct-term rates cross
    * over as HLL++ ESTIMATES (`n_terms_est` / `n_oov_terms_est`):
    * exact DISTINCT is illegal in a streaming agg (unbounded
    * per-window term state), but `approx_count_distinct` is a
    * fixed-buffer imperative aggregate — per-(window, source) state
    * stays O(2^p) bytes however many distinct terms arrive, which is
    * exactly the trade a live monitor wants. At small cardinality the
    * sketch runs in sparse mode and the estimate is EXACT; beyond
    * that the documented error is rsd ≈ 2% (precision from
    * rsd 0.02). The batch t38 query remains the exact-count owner.
    * OovCoverageStreamSpec pins window-sliced equality with the
    * batch computation on the same rows, and the estimate against a
    * known-cardinality batch within the documented error. */
  def oovCoverageStream(docs: DataFrame, tsCol: String, textCol: String,
                        keyCol: String, vocab: DataFrame, termCol: String,
                        windowDur: String, watermark: String): DataFrame = {
    val v = broadcast(vocab.select(col(termCol).as("term"),
      lit(1).as("in_vocab")))
    docs.withWatermark(tsCol, watermark)
      .select(col(keyCol), col(tsCol),
        explode(TextOps.cleanTokens(col(textCol))).as("term"))
      .join(v, Seq("term"), "left")
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        approx_count_distinct(col("term"), rsd = 0.02)
          .as("n_terms_est"),
        // nulls are skipped by the aggregate, so the `when` restricts
        // the sketch to OOV terms without a second explode/join pass
        approx_count_distinct(
          when(col("in_vocab").isNull, col("term")), rsd = 0.02)
          .as("n_oov_terms_est"))
      .select(col("window.start").as("w_start"), col(keyCol),
        col("n_tokens"), col("n_oov"),
        expr("(1000000 * n_oov) div n_tokens").as("oov_mu"),
        col("n_terms_est"), col("n_oov_terms_est"))
  }

  /** Streaming twin of the d14 incremental-admission operator
    * ([[graft.operators.DedupOps.incrementalDedupReleasable]]), run
    * per micro-batch as `toForeachBatch(docs, checkpoint)(writer)`:
    * each batch of arriving documents is admitted against the static
    * already-deduplicated base corpus, and only admitted rows (no
    * verified near-dup in base) reach the sink parquet.
    *
    * Shape: `foreachBatch` — Structured Streaming's stream-batch
    * escape hatch, and what real ingestion runs. The admission
    * decision is NOT a stateless row-local predicate (a doc's fate
    * aggregates over its band collisions), so the stateless
    * stream-static join class [[decontaminateStream]] uses cannot
    * express it; per batch we run the full batch operator — band-keyed
    * batch-vs-base join + Jaccard verify on collisions only, never
    * base-vs-base. The release hook runs per batch, so an unbounded
    * stream accumulates no cached round leaves; at scale the base
    * side's signatures come from a persisted index (see the batch
    * operator's scaladoc) rather than being recomputed per batch. */
  def admitBatchWriter(base: DataFrame, idCol: String, textCol: String,
                       threshold: Double, path: String)
      : (DataFrame, Long) => Unit =
    idempotentBatchSink(path, Some(idCol)) { (b, _) =>
      val (flags, release) = graft.operators.DedupOps
        .incrementalDedupReleasable(base, b, idCol, textCol, threshold)
      (b.join(flags.filter(col("dup_of").isNull).select(col(idCol)),
        Seq(idCol)), release)
    }

  /** Streaming twin of the d27 exact-substring span operator
    * ([[graft.operators.DedupOps.exactSubstringSpansVsBase]]), run as
    * `toForeachBatch(docs, checkpoint)(writer)`: each micro-batch of
    * arriving documents is censused against the STATIC
    * already-ingested base corpus, and every maximal duplicated token
    * span (window-gram present anywhere in base, arbitrary offsets)
    * is written to the sink parquet.
    *
    * Shape: `foreachBatch`, like [[admitBatchWriter]] — a span's
    * extent aggregates over a doc's gram collisions (gaps-and-
    * islands), not a stateless row predicate, so the stream-static
    * join class cannot express it. Because the census side is the
    * static base alone, a doc's spans are invariant under micro-batch
    * splits (StreamPipelineSpec pins stream-vs-batch equality). At
    * scale the base gram set comes from a persisted gram index built
    * once, not recomputed per batch (see the operator scaladoc). */
  def exactSubstringBatchWriter(base: DataFrame, idCol: String,
                                textCol: String, window: Int, path: String)
      : (DataFrame, Long) => Unit =
    idempotentBatchSink(path, Some(idCol)) { (b, _) =>
      (graft.operators.DedupOps.exactSubstringSpansVsBase(b, base, idCol,
        TextOps.cleanTokens(col(textCol)), TextOps.cleanTokens(col(textCol)),
        window), noRelease)
    }

  /** Streaming twin of the d34/d32 span STRIP — the ACTION face of
    * [[exactSubstringBatchWriter]], run as
    * `toForeachBatch(docs, checkpoint)(writer)`: each micro-batch of
    * arriving documents strips every token span duplicated against
    * the STATIC base corpus (the base holds the canonical copy, so
    * keep-one never arises at ingestion) and writes the per-doc
    * integer strip accounting — (doc_id, n_tokens, n_spans,
    * n_tokens_stripped, n_tokens_kept), stripped mass as the UNION of
    * span extents.
    *
    * `gramSet` is the duplicated-gram set of record, any DataFrame
    * with a distinct binary `gh` column: the base projection
    * ([[graft.operators.DedupOps.baseGramSet]]) or, at scale, the
    * persisted bucketed index
    * ([[graft.operators.DedupOps.buildGramIndex]]), so the base corpus
    * is never re-exploded per batch. Per-doc results are invariant
    * under micro-batch splits (census side is the static base alone —
    * StreamPipelineSpec pins stream-vs-batch equality). */
  def exactSubstringStripBatchWriter(gramSet: DataFrame, idCol: String,
                                     textCol: String, window: Int,
                                     path: String)
      : (DataFrame, Long) => Unit =
    idempotentBatchSink(path, Some(idCol)) { (b, _) =>
      (graft.operators.DedupOps.exactSubstringStripVsIndex(b, gramSet, idCol,
        TextOps.cleanTokens(col(textCol)), window), noRelease)
    }

  /** Streaming twin of the d30 leakage-free split, run as
    * `toForeachBatch(docs, checkpoint)(writer)`: each arriving
    * document is assigned train/val/test CONSISTENTLY WITH ITS
    * NEAR-DUPS IN THE BASE CORPUS — a near-copy of a base document
    * inherits that document's split (via the d14 delta-vs-base
    * verified-dup flags), so an eval document's paraphrases can never
    * leak into a training batch; documents with no base near-dup get
    * the same hash-of-own-id ladder d30 gives base singletons.
    *
    * `baseSplits` is the batch d30 output over the base corpus
    * ((idCol, split) — the frozen assignment of record) and must
    * cover every base id: a base near-dup whose id is missing from
    * `baseSplits` would silently fall back to the own-id ladder,
    * which is exactly the leak this operator exists to prevent —
    * derive both inputs from the same base snapshot. foreachBatch
    * for the same reason as [[admitBatchWriter]]: the dup decision
    * aggregates over band collisions. Per-batch release, no state
    * growth. */
  def leakFreeSplitBatchWriter(base: DataFrame, baseSplits: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double, path: String)
      : (DataFrame, Long) => Unit =
    idempotentBatchSink(path, Some(idCol)) { (b, _) =>
      val splits = baseSplits.select(col(idCol).as("dup_of"),
        col("split").as("base_split"))
      val own = pmod(graft.operators.DedupOps.md5Hash32(
        concat(lit("split:"), col(idCol).cast("string"))), lit(10))
      val (flags, release) = graft.operators.DedupOps
        .incrementalDedupReleasable(base, b, idCol, textCol, threshold)
      (flags.join(splits, Seq("dup_of"), "left")
        .select(col(idCol), col("dup_of"),
          coalesce(col("base_split"),
            when(own === 0, "test").when(own === 1, "val")
              .otherwise("train")).as("split")), release)
    }

  /** Streaming sibling of the d15 duplicated-chunk census: the
    * arriving document stream is exploded into t15's overlapping
    * token windows ([[graft.functions.TextOps.ChunkSize]]/
    * [[graft.functions.TextOps.ChunkStride]] — the SAME shared
    * spelling, so the fingerprints agree by construction) and only
    * FIRST-OCCURRENCE chunks within the watermark horizon pass —
    * repeated boilerplate windows are suppressed at ingestion, before
    * they ever reach a training-data store. State is one fingerprint
    * key per surviving chunk inside the horizon (watermark-evicted).
    *
    * Repeat criterion differs from d15 deliberately: this stream
    * dedupes at OCCURRENCE level (a window repeated within one
    * document is also suppressed), while the d15 census reports
    * fingerprints shared by 2+ DISTINCT documents — an ingestion
    * filter wants every repeat gone; a governance census wants
    * cross-document contamination specifically. */
  def chunkDedupStream(df: DataFrame, textCol: String, tsCol: String,
                       watermark: String): DataFrame = {
    df.select(col(tsCol).cast("timestamp").as(tsCol),
        TextOps.cleanTokens(col(textCol)).as("__toks"))
      .withWatermark(tsCol, watermark)
      .filter(size(col("__toks")) >= 1)
      .select(col(tsCol), col("__toks"),
        explode(TextOps.chunkIndices("__toks")).as("__ci"))
      .select(col(tsCol),
        TextOps.chunkSlice("__toks", "__ci").as("chunk"))
      .withColumn("chunk_fp", TextOps.chunkFingerprint(col("chunk")))
      .dropDuplicatesWithinWatermark("chunk_fp")
  }

  /** Streaming twin of batch d17 (exact dedup keyed on the ENCODED
    * token-id sequence): arriving documents are dictionary-encoded
    * map-side against the batch-frozen `terms` vocabulary (the
    * [[graft.operators.CorpusOps.tokenizeToIds]] streaming contract —
    * a narrow broadcast-probe projection, no state of its own) and
    * only the FIRST document per id-sequence inside the watermark
    * horizon passes — the ingest-side admission filter the
    * tokenize-once pipeline gets nearly free, suppressing the case/
    * punctuation/whitespace variants raw-text equality misses.
    *
    * State is ONE key per distinct surviving id-sequence inside the
    * horizon (watermark-evicted), the
    * [[minhashDedupWithinWatermark]] bound. Documents whose tokens
    * all fall outside the vocabulary (or that have no tokens) encode
    * to the same key and collapse together — exactly batch d17's
    * empty/equal-array grouping — while NULL-text documents keep
    * their own key (batch groupBy keeps null and empty-array as two
    * distinct groups; `concat_ws` alone would have conflated them —
    * the 4-char sentinel cannot collide with 32-hex-char md5 keys).
    * Callers wanting OOV docs through unconditionally should
    * pre-filter on token count. */
  def idDedupWithinWatermark(df: DataFrame, textCol: String, tsCol: String,
                             terms: Seq[String], watermark: String): DataFrame = {
    val toks = graft.functions.TextOps.cleanTokens(col(textCol))
    graft.operators.CorpusOps.tokenizeToIds(df, toks, terms, "__ids")
      .withColumn("__idkey",
        when(col("__ids").isNull, lit("null"))
          .otherwise(md5(concat_ws(",",
            org.apache.spark.sql.functions.transform(
              col("__ids"), x => x.cast("string"))))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__idkey")
      .drop("__ids", "__idkey")
  }

  /** Streaming MinHash near-dup suppression with bounded state — the
    * streaming twin of batch d2: per-document signature is the same
    * narrow codegen pass (trigrams → md5 batch hash → one-loop K
    * minima), keyed as a single scalar so the state store holds one
    * 32-byte key per surviving document inside the watermark horizon.
    *
    * Signature-exact collision (all K minima equal) is the *high-
    * precision* end of MinHash: it catches reorderings/case variants
    * with identical trigram sets. Band-level recall (any-band match,
    * the batch d2b semantics) needs flatMapGroupsWithState keyed per
    * band; at stream scale that is b state entries per doc —
    * signature-exact is the right default. */
  def minhashDedupWithinWatermark(df: DataFrame, textCol: String, tsCol: String,
                                  watermark: String): DataFrame = {
    df.withColumn("__hs", graft.plans.HashedTrigrams32(col(textCol)))
      .withColumn("__sigkey",
        md5(concat_ws(",",
          org.apache.spark.sql.functions.transform(
            graft.plans.MinHashSignature(col("__hs")),
            x => x.cast("string")))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sigkey")
      .drop("__hs", "__sigkey")
  }

  /** Band-level streaming MinHash dedup — the recall twin of batch
    * d2b ([[minhashDedupWithinWatermark]] is the precision end: it
    * suppresses only signature-exact repeats). A document is a
    * near-dup if ANY of its [[graft.operators.DetParams.MinhashBands]]
    * LSH band keys was seen before within the watermark horizon.
    *
    * Shape: one `flatMapGroupsWithState` keyed per band key — state is
    * one (lastSeen) long per live band key, so b entries per surviving
    * document inside the horizon (the state-cost trade-off
    * [[minhashDedupWithinWatermark]]'s doc notes). Chaining a second
    * stateful operator after flatMapGroupsWithState is unsupported, so
    * the per-document collapse of the b per-band decisions runs
    * batch-locally: every band row of a document is processed in the
    * same micro-batch, so this stream emits per-(doc, band) decision
    * rows and [[collapseBandDecisions]] reduces them inside a
    * `foreachBatch` sink (a plain batch aggregation there).
    *
    * Semantics: first-wins by (event time, row tag); a later document
    * colliding with any previously seen band is suppressed — including
    * bands of documents that were themselves suppressed (transitive
    * suppression, the standard streaming-LSH behavior: the cluster's
    * first representative survives). Output columns:
    * `rid, ts, text, bkey, collided`. */
  def minhashBandDedupStream(df: DataFrame, textCol: String, tsCol: String,
                             watermarkMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = df.sparkSession
    import spark.implicits._
    // row tag: stable across the row's b band rows; streaming forbids
    // monotonically_increasing_id, so tag = md5(text, ts) and
    // collapseBandDecisions keeps exactly one of tag-identical rows
    val banded = df
      .select(col(tsCol).cast("timestamp").as("__ts"),
        col(textCol).cast("string").as("__text"))
      .withWatermark("__ts", s"$watermarkMs milliseconds")
      .withColumn("__rid",
        md5(concat_ws("\u0000", col("__text"), col("__ts").cast("string"))))
      .withColumn("__hs", graft.plans.HashedTrigrams32(col("__text")))
      .withColumn("__sig", graft.plans.MinHashSignature(col("__hs")))
      .withColumn("__bkey", explode(array(
        graft.operators.DedupOps.bandKeys(col("__sig")): _*)))
      .select(col("__bkey"), col("__rid"), col("__ts"), col("__text"))
      .as[(String, String, java.sql.Timestamp, String)]

    def fn(bkey: String,
           rows: Iterator[(String, String, java.sql.Timestamp, String)],
           state: GroupState[Long]) // last event-time this key was seen
        : Iterator[(String, java.sql.Timestamp, String, String, Boolean)] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val sorted = rows.toSeq.sortBy(r => (r._3.getTime, r._2))
        var seen = state.getOption.isDefined
        var last = state.getOption.getOrElse(0L)
        val out = sorted.map { case (_, rid, ts, text) =>
          val collided = seen
          seen = true
          last = math.max(last, ts.getTime)
          (rid, ts, text, bkey, collided)
        }
        state.update(last)
        state.setTimeoutTimestamp(math.max(last + watermarkMs,
          state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }

    banded.groupByKey(_._1)
      .flatMapGroupsWithState(
        OM.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF("rid", "ts", "text", "bkey", "collided")
  }

  /** Batch-side reduction of [[minhashBandDedupStream]] decision rows
    * (run inside a `foreachBatch` sink): a document survives iff its
    * FIRST occurrence collided in none of its bands. Per (rid, bkey)
    * the first occurrence's flag is the min (later tag-identical
    * repeats are always flagged), so survivors have
    * max over bands of min over repeats == false; tag-identical
    * repeats collapse to exactly one surviving row. */
  def collapseBandDecisions(decisions: DataFrame): DataFrame =
    decisions
      .groupBy(col("rid"), col("ts"), col("text"), col("bkey"))
      .agg(min(col("collided")).as("__first_collided"))
      .groupBy(col("rid"), col("ts"), col("text"))
      .agg(max(col("__first_collided")).as("__suppressed"))
      .filter(!col("__suppressed"))
      .select(col("ts"), col("text"))

  /** Integer micro-nat PSI between two equal-length bucket censuses —
    * the EXACT algebra of the t36/t37 batch queries (and their DuckDB
    * oracles), in one scalar function shared by [[psiDriftStream]]
    * and its spec: add-one smoothing over the full grid, per-bucket
    * log-ratios quantized to micro-nats by HALF_UP 6-dp rounding of
    * the double's shortest decimal representation (what Spark's
    * `round` and DuckDB's `round` both do), the p−q difference kept
    * as an exact cross-multiplied integer rational, one floored
    * non-negative division. PSI(c, c) == 0 exactly; result is always
    * ≥ 0 ((p−q) and ln(p/q) share sign — the max(0) only pins 6-dp
    * rounding noise on near-identical censuses). */
  private[graft] def psiMicroNats(prev: Array[Long], cur: Array[Long]): Long = {
    require(prev.length == cur.length, "census arity mismatch")
    val nB = prev.length
    val nFrom = prev.sum
    val nTo = cur.sum
    def microNat(num: Long, den: Long): Long =
      java.math.BigDecimal.valueOf(math.log(num.toDouble / den.toDouble))
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    var num = BigInt(0)
    var b = 0
    while (b < nB) {
      val cp = prev(b) + 1
      val cq = cur(b) + 1
      val lp = microNat(cp, nFrom + nB)
      val lq = microNat(cq, nTo + nB)
      num += (BigInt(cp) * (nTo + nB) - BigInt(cq) * (nFrom + nB)) * (lp - lq)
      b += 1
    }
    (num.max(BigInt(0)) / (BigInt(nFrom + nB) * BigInt(nTo + nB))).toLong
  }
}
