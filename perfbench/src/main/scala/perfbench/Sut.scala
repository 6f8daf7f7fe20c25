package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.ml.{SentimentModel, SentimentScorer}

/** The system-under-test process: one workload, one JVM. Writes its
  * figures to `--result` (JSON) and, when traced, its spans to
  * `--spans`. Set-up is session up, fixture scorer gated, built and
  * broadcast, then stream started (feed) or query registry loaded
  * (ops). The JVM's first set-up is timed from JVM start
  * (`setup.cold_s`); `setup_s` is the median of full set-ups repeated
  * in the warm JVM after the measured work. */
object Sut {

  final class Out {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val jvm0 = Common.jvmStartMs()
    val cores = a.int("cores")
    val work = a("work")
    val workload = a("workload")
    val traced = a.get("trace").contains("1")
    val spans = new Spans
    val o = new Out
    val spark = Common.session(cores, work)
    o.info("setup_session_s") = (Common.nowMs() - jvm0) / 1000.0
    workload match {
      case "feed" =>
        val (model, scorer) = scorerFor(spark, a)
        // the backlog phase first: its drains warm the per-row chain up
        // before the paced window is measured
        if (!a.get("phase").contains("first")) backlog(spark, model, scorer, a, jvm0, traced, spans, o)
        System.gc() // the paced window starts from a collected heap
        paced(spark, model, scorer, a, traced, spans, o)
        o.e2e("peak_rss_mb") = Common.peakRssMb()
        o.layers("failed_ratio") = o.failed.toDouble / math.max(o.attempted, 1)
      case "ops-batch" => ops(spark, a, jvm0, traced, spans, o)
      case "backlog-1core" => o.layers("drain_docs_per_s_1core") = singleCoreDrain(spark, a)
      case w => sys.error(s"unknown workload $w")
    }
    o.info("gc_s") = Common.gcSeconds()
    o.info("heap_max_mb") = Common.heapMaxMb()
    o.info("cores") = cores
    spark.stop()
    // setup_s: the median of full set-ups in this JVM after the
    // measured work (the cold one, from JVM start, is setup.cold_s)
    if (o.layers.contains("setup.cold_s")) {
      val again = (1 to a.int("resetups")).map(i => resetup(a, workload, s"$work/resetup-$i", traced, o))
      o.info("setup_samples_s") = again
      o.e2e("setup_s") = Stats.median(again)
    }
    Common.write(a("result"), Json.render(Map(
      "e2e" -> o.e2e, "layers" -> o.layers, "info" -> o.info,
      "attempted" -> o.attempted, "failed" -> o.failed)))
    if (traced) Common.write(a("spans"), Json.render(spans.all))
  }

  /** One full set-up in this (warm) JVM: session up, fixture scorer
    * gated, built and broadcast, then stream started over an empty
    * directory (feed) or query registry loaded (ops). Seconds. In a
    * traced run the listeners are registered too, and their
    * registration time is the set-up's tracing overhead. */
  private def resetup(a: Args, workload: String, dir: String, traced: Boolean, o: Out): Double = {
    val t0 = System.nanoTime()
    val spark = Common.session(a.int("cores"), dir)
    val (_, scorer) = scorerFor(spark, a)
    if (workload == "ops-batch") SparkEntry.queries.size
    else {
      new File(s"$dir/watch").mkdirs()
      Feed.startJson(spark, scorer, s"$dir/watch", s"$dir/out", s"$dir/ckpt").stop()
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (traced) {
      val t1 = System.nanoTime()
      if (workload == "ops-batch") spark.sparkContext.addSparkListener(new OpsTracer)
      else spark.streams.addListener(new BatchTracer(new Spans))
      o.layers("trace_overhead.setup_s") = (System.nanoTime() - t1) / 1e9
    }
    spark.stop()
    s
  }

  private def scorerFor(spark: SparkSession, a: Args): (SentimentModel, SentimentScorer) = {
    val m = FixtureModel.gate(FixtureModel.load(spark, a("fixtures")))
    (m, SentimentModel.scorer(spark, m))
  }

  private def manifest(path: String): Map[String, Any] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(Common.read(path)).extract[Map[String, Any]]
  }

  /** Audits one committed view of `feed`; plants `--plant` first when
    * `plantHere`. */
  private def audit(spark: SparkSession, model: SentimentModel, a: Args, o: Out, feed: String,
                    format: String, out: String, sample: Boolean, plantHere: Boolean): Audit.Result = {
    if (plantHere) a.get("plant").foreach(f => Audit.plant(spark, format, out, f))
    val r = Audit.run(spark, model, format, out, s"${a("watch")}/$feed",
      manifest(s"${a("gen")}/$feed.manifest.json"), a.long("seed"), sample)
    o.attempted += r.expected
    o.failed += r.failed
    r
  }

  private def pct(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)

  private def durationLayers(o: Out, tracer: BatchTracer, addBatchPrefix: Option[String]): Unit = {
    val bs = tracer.batches
    def d(k: String) = bs.map(_._3.getOrElse(k, 0L).toDouble)
    o.layers("EnvelopeSourceV2.latestOffset_ms.p50") = pct(d("latestOffset"), 0.5)
    o.layers("EnvelopeSourceV2.latestOffset_ms.p99") = pct(d("latestOffset"), 0.99)
    o.layers("microbatch.batches") = bs.length.toDouble
    o.layers("microbatch.docs_per_batch.p50") = pct(bs.map(_._2.toDouble), 0.5)
    for (k <- Seq("queryPlanning", "walCommit", "commitOffsets", "triggerExecution");
         (q, f) <- Seq(("p50", 0.5), ("p99", 0.99)))
      o.layers(s"microbatch.${k}_ms.$q") = pct(d(k), f)
    addBatchPrefix.foreach { p =>
      o.layers(s"$p.addBatch_ms.p50") = pct(d("addBatch"), 0.5)
      o.layers(s"$p.addBatch_ms.p99") = pct(d("addBatch"), 0.99)
    }
  }

  // ---- feed, paced phase (second) ------------------------------------

  /** Open loop into `toJsonFiles`: the generator publishes one file
    * per tick once this query is up. Latency per file is scheduled
    * publish → commit of the batch that delivered it, read back from
    * the checkpoint's offsets/ and commits/ logs after the run. */
  private def paced(spark: SparkSession, model: SentimentModel, scorer: SentimentScorer, a: Args,
                    traced: Boolean, spans: Spans, o: Out): Unit = {
    val watch = s"${a("watch")}/paced"
    val (out, ckpt) = (s"${a("paced-dir")}/out", s"${a("paced-dir")}/ckpt")
    val q0 = Common.nowMs()
    val q = Feed.startJson(spark, scorer, watch, out, ckpt)
    if (!new File(a("go")).exists()) Common.write(a("go"), q0.toString)
    if (a.get("phase").contains("first")) { // restart test: killed from outside
      while (true) Thread.sleep(1000)
    }
    val tracer = new BatchTracer(spans)
    var traceFromMs = Long.MaxValue
    var rssBeforeTrace = 0.0
    if (traced) {
      // untraced first half of the window, traced second half
      Thread.sleep(a.long("trace-after-ms"))
      rssBeforeTrace = Common.peakRssMb()
      traceFromMs = Common.nowMs()
      spark.streams.addListener(tracer)
    }
    Common.awaitFile(s"${a("gen")}/done", a.long("gen-timeout-ms"))
    q.processAllAvailable()
    q.stop()
    if (traced) spark.streams.removeListener(tracer)

    val pubs = Pub.readLog(s"${a("gen")}/paced.log.jsonl")
    val bs = Checkpoint.batches(ckpt)
    val deliveredBy = bs.flatMap(b => b.files.map(_ -> b)).toMap
    val windowFrom = pubs.map(_.scheduledMs).min + a.long("warmup-ms")
    final case class Sample(p: Pub, b: Checkpoint.Batch, latencyMs: Double)
    val samples = pubs.filter(_.scheduledMs >= windowFrom).flatMap { p =>
      deliveredBy.get(p.file).flatMap(b => b.commitMs.map(c => Sample(p, b, (c - p.scheduledMs).toDouble)))
    }
    /** latency quantiles and engine-busy seconds (per batch, offsets/
      * write → commits/ write) */
    def figures(ss: Seq[Sample]): Map[String, Double] = {
      val lat = ss.map(_.latencyMs)
      val busy = ss.map(_.b).distinctBy(_.id).map(b => (b.commitMs.get - b.offsetMs) / 1000.0).sum
      Map("p50" -> pct(lat, 0.5), "p99" -> pct(lat, 0.99), "busy_s" -> busy)
    }
    val untraced = samples.filter(_.p.scheduledMs < traceFromMs)
    val uf = figures(untraced)
    o.e2e("latency_p50_ms") = uf("p50")
    o.e2e("latency_p99_ms") = uf("p99")
    o.info("paced_busy_s") = uf("busy_s")
    o.info("latency_samples") = untraced.length
    o.info("latency_ms") = untraced.map(_.latencyMs)
    o.info("paced_batch_ms") = bs.flatMap(b => b.commitMs.map(_ - b.offsetMs))
    o.info("paced_batches") = bs.length
    val late = pubs.map(p => (p.actualMs - p.scheduledMs).toDouble)
    o.info("gen_late_ms_p99") = pct(late, 0.99)
    val lastPublish = pubs.map(_.actualMs).max
    val backlogEnd = pubs.count(p => deliveredBy.get(p.file).flatMap(_.commitMs).forall(_ > lastPublish))
    o.info("feed_backlog_files_end") = backlogEnd

    val r = audit(spark, model, a, o, "paced", "json", out, sample = true,
      plantHere = a.get("plant-in").contains("paced"))
    o.info("audit_paced") = r.render

    if (traced) {
      val tf = figures(samples.filter(_.p.scheduledMs >= traceFromMs))
      durationLayers(o, tracer, Some("StreamPipeline.toJsonFiles"))
      o.layers("EnvelopeSourceV2.offset_bytes.last") = bs.last.offsetBytes.toDouble
      o.layers("microbatch.checkpoint_bytes") = Common.du(new File(ckpt))._1.toDouble
      val meta = Common.du(new File(out, "_spark_metadata"))
      val total = Common.du(new File(out))
      o.layers("StreamPipeline.toJsonFiles.bytes") = (total._1 - meta._1).toDouble
      o.layers("StreamPipeline.toJsonFiles.files") = (total._2 - meta._2).toDouble
      o.layers("StreamPipeline.toJsonFiles.metadata_log_bytes") = meta._1.toDouble
      o.layers("latency.samples") = untraced.length.toDouble
      o.layers("gen.late_ms.p99") = pct(late, 0.99)
      o.layers("gen.docs") = pubs.map(_.docs).sum.toDouble
      o.layers("gen.files") = pubs.length.toDouble
      o.layers("feed.backlog_files_end") = backlogEnd.toDouble
      o.layers("trace_overhead.latency_p50_ms") = tf("p50") - uf("p50")
      o.layers("trace_overhead.latency_p99_ms") = tf("p99") - uf("p99")
      o.layers("trace_overhead.peak_rss_mb") =
        o.layers.getOrElse("trace_overhead.peak_rss_mb", 0.0) + Common.peakRssMb() - rssBeforeTrace
      o.info("trace_window") = Map("untraced_samples" -> untraced.length,
        "traced_samples" -> samples.count(_.p.scheduledMs >= traceFromMs))
    }
  }

  private def setupDone(o: Out, jvm0: Long): Unit =
    o.layers("setup.cold_s") = (Common.nowMs() - jvm0) / 1000.0

  // ---- feed, backlog phase (first) -----------------------------------

  /** Catch-up into `toForeachBatchParquet` over the pre-published
    * backlog: `--warmup-drains` unmeasured drains (the first query's
    * start ends set-up), then `--drains` measured ones; each drain is a
    * fresh query over the whole backlog. */
  private def backlog(spark: SparkSession, model: SentimentModel, scorer: SentimentScorer, a: Args,
                      jvm0: Long, traced: Boolean, spans: Spans, o: Out): Unit = {
    val work = a("work")
    val watch = s"${a("watch")}/backlog"
    final case class Drain(docs: Long, seconds: Double, batches: Int, latencies: Seq[Double])
    type Start = (String, String, String) => StreamingQuery
    val plain: Start = (w, out, ckpt) => Feed.startParquet(spark, scorer, w, out, ckpt)
    def drain(i: Int, w: String, start: Start): (Drain, String, String) = {
      val out = s"$work/backlog-out-$i"
      val ckpt = s"$work/backlog-ckpt-$i"
      val q0 = Common.nowMs()
      val q = start(w, out, ckpt)
      if (!o.layers.contains("setup.cold_s")) setupDone(o, jvm0)
      q.processAllAvailable()
      q.stop()
      val bs = Checkpoint.batches(ckpt)
      (Drain(0, (bs.flatMap(_.commitMs).max - q0) / 1000.0, bs.length,
        bs.flatMap(b => b.files.map(_ => (b.commitMs.get - q0).toDouble))), out, ckpt)
    }
    def audited(i: Int): Drain = {
      val (d, out, _) = drain(i, watch, plain)
      val r = audit(spark, model, a, o, "backlog", "parquet", out, sample = i == 1,
        plantHere = i == 1 && a.get("plant-in").contains("backlog"))
      o.info(s"audit_backlog_$i") = r.render
      Common.rmrf(new File(out))
      d.copy(docs = r.committed)
    }
    // unmeasured warm-up drains of the whole backlog; the JIT is still
    // speeding the chain up through the second
    val warm = (0 until a.int("warmup-drains")).map(i => drain(-i, watch, plain)._1)
    val measured = (1 to a.int("drains")).map(audited)
    // pooled over the drains: a pause inside one drain is averaged out
    o.e2e("drain_docs_per_s") = measured.map(_.docs).sum / measured.map(_.seconds).sum
    o.e2e("ops_total_s") = measured.map(_.seconds).sum / measured.length
    o.info("drains") = measured.map(d => Map("docs" -> d.docs, "s" -> d.seconds, "batches" -> d.batches))
    o.info("warmup_drains_s") = warm.map(_.seconds)

    if (traced) {
      val pubs = Pub.readLog(s"${a("gen")}/backlog.log.jsonl")
      val rssBefore = Common.peakRssMb()
      val tracer = new BatchTracer(spans)
      spark.streams.addListener(tracer)
      val writerNs = new AtomicLong
      val i = measured.length + 1
      val (d, out, ckpt) = drain(i, watch, (w, out, ckpt) =>
        Feed.startParquetTimed(spark, scorer, w, out, ckpt, writerNs))
      spark.streams.removeListener(tracer)
      val docs = Audit.committed(spark, "parquet", out).count()
      o.layers("EnvelopeSourceV2.latestOffset_ms.backlog.p50") =
        pct(tracer.batches.map(_._3.getOrElse("latestOffset", 0L).toDouble), 0.5)
      o.layers("microbatch.batches.backlog") = tracer.batches.length.toDouble
      val sinkDu = Common.du(new File(out))
      o.layers("StreamPipeline.mergeSchemaParquetWriter.s") = writerNs.get / 1e9
      o.layers("StreamPipeline.mergeSchemaParquetWriter.bytes") = sinkDu._1.toDouble
      o.layers("StreamPipeline.mergeSchemaParquetWriter.files") = sinkDu._2.toDouble
      o.layers("trace_overhead.drain_docs_per_s") = docs / d.seconds - o.e2e("drain_docs_per_s")
      o.layers("trace_overhead.ops_total_s") = d.seconds - o.e2e("ops_total_s")
      o.layers("trace_overhead.peak_rss_mb") =
        o.layers.getOrElse("trace_overhead.peak_rss_mb", 0.0) + Common.peakRssMb() - rssBefore
      spans.add(Map("span" -> "drain", "drain" -> i, "docs" -> docs, "s" -> d.seconds,
        "writer_s" -> writerNs.get / 1e9, "checkpoint" -> ckpt))

      val p = Feed.prefixes(spark, scorer, watch, s"$work/prefix-sink")
      spans.add(Map("span" -> "prefixes", "children" -> p.toSeq.map { case (k, v) =>
        Map("span" -> k, "s" -> v) }))
      o.layers("EnvelopeSourceV2.scan_s") = p("scan")
      o.layers("decode.self_s") = p("decode") - p("scan")
      o.layers("TextOps.cleanTokens.self_s") = p("clean") - p("decode")
      o.layers("SentimentScorer.self_s") = p("score") - p("clean")
      o.layers("prefix.sink_write.self_s") = p("sink") - p("score")
      val rs = Feed.rowStats(spark, model, watch)
      o.layers("decode.dropped_ratio") = rs("dropped_ratio")
      o.layers("TextOps.cleanTokens.tokens_per_doc") = rs("tokens_per_doc")
      o.layers("SentimentScorer.vocab_hit_ratio") = rs("vocab_hit_ratio")
      o.layers("gen.backlog_docs") = pubs.map(_.docs).sum.toDouble
    }
  }

  /** Drains a share of the backlog at `local[1]`, twice (the first
    * warms up); the second's docs/s. Traced feed runs, own JVM. */
  def singleCoreDrain(spark: SparkSession, a: Args): Double = {
    val (_, scorer) = scorerFor(spark, a)
    val work = a("work")
    def once(i: Int): Double = {
      val q0 = Common.nowMs()
      val q = Feed.startParquet(spark, scorer, a("one-core-watch"), s"$work/one-$i", s"$work/one-ckpt-$i")
      q.processAllAvailable(); q.stop()
      val last = Checkpoint.batches(s"$work/one-ckpt-$i").flatMap(_.commitMs).max
      spark.read.parquet(s"$work/one-$i").count() / ((last - q0) / 1000.0)
    }
    once(0)
    once(1)
  }

  // ---- ops-batch -----------------------------------------------------

  /** The `--queries` in the given order. The timed pass runs first, in
    * this fresh JVM, each query into the noop sink. An untimed pass
    * then writes each result as parquet for the DuckDB oracle compare
    * run after this process exits. In traced runs a `SparkListener`
    * watches the timed pass, and an untraced and a traced warm pass
    * follow; their difference is the tracing overhead. */
  private def ops(spark: SparkSession, a: Args, jvm0: Long, traced: Boolean,
                  spans: Spans, o: Out): Unit = {
    val data = a("data")
    val queries = a("queries").split(",").toSeq
    scorerFor(spark, a)
    val registry = SparkEntry.queries
    require(queries.forall(registry.contains), "ops query missing from SparkEntry.queries")
    setupDone(o, jvm0)
    val sc = spark.sparkContext
    val verify = a("verify")
    val failed = mutable.Set.empty[String] // a query fails if any pass of it fails
    def pass(name: String, dump: Boolean, tracer: Option[OpsTracer]): Map[String, Double] = {
      tracer.foreach(sc.addSparkListener)
      val times = queries.map { q =>
        sc.setLocalProperty("perfbench.query", q)
        val start = Common.nowMs()
        val t0 = System.nanoTime()
        try {
          val df = registry(q)(spark, data)
          if (dump) df.write.mode("overwrite").parquet(s"$verify/$q")
          else Feed.noop(df)
        } catch { case e: Exception =>
          failed += q
          System.err.println(s"[perfbench] $q failed: $e")
        }
        val s = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty("perfbench.query", null)
        tracer.foreach { t =>
          org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
          spans.add(t.span(q, start, Common.nowMs()) + ("pass" -> name))
        }
        // release per-query persists, as graft.Verify does, and collect
        // between timed queries, as graft.Bench does
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        if (!dump) System.gc()
        q -> s
      }.toMap
      tracer.foreach(sc.removeSparkListener)
      times
    }
    val tracer = if (traced) Some(new OpsTracer) else None
    val timed = pass("timed", dump = false, tracer)
    o.e2e("peak_rss_mb") = Common.peakRssMb()
    val total = timed.values.sum
    val docs = spark.read.parquet(s"$data/documents.parquet").count()
    o.e2e("ops_total_s") = total
    o.e2e("latency_p50_ms") = Stats.median(timed.values.toSeq) * 1000
    o.e2e("latency_p99_ms") = Stats.quantile(timed.values.toSeq, 0.99) * 1000
    o.e2e("drain_docs_per_s") = docs * queries.length / total
    o.info("per_query_s") = timed
    o.info("dump_pass_s") = pass("dump", dump = true, None)
    Common.write(s"$verify/oracle_sql.json",
      Json.render(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    tracer.foreach { t =>
      queries.foreach { q =>
        val acc = t.acc(q)
        o.layers(s"ops.$q.s") = timed(q)
        o.layers(s"ops.$q.jobs") = acc.jobs.length.toDouble
        o.layers(s"ops.$q.shuffle_write_bytes") = acc.shuffleWrite.toDouble
        o.layers(s"ops.$q.spill_bytes") = acc.spill.toDouble
        o.layers(s"ops.$q.task_ms.max_over_median") = t.skew(q)
      }
      val warm = pass("warm", dump = false, None)
      val rssBefore = Common.peakRssMb()
      val tp = pass("warm-traced", dump = false, Some(new OpsTracer))
      val (wt, tt) = (warm.values.sum, tp.values.sum)
      o.layers("trace_overhead.ops_total_s") = tt - wt
      o.layers("trace_overhead.latency_p50_ms") = (Stats.median(tp.values.toSeq) - Stats.median(warm.values.toSeq)) * 1000
      o.layers("trace_overhead.latency_p99_ms") =
        (Stats.quantile(tp.values.toSeq, 0.99) - Stats.quantile(warm.values.toSeq, 0.99)) * 1000
      o.layers("trace_overhead.drain_docs_per_s") = docs * queries.length * (1 / tt - 1 / wt)
      o.layers("trace_overhead.peak_rss_mb") = Common.peakRssMb() - rssBefore
      o.info("warm_pass_s") = warm
    }
    o.attempted += queries.length
    o.failed += failed.size
  }
}
