package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** In-memory spans, written out once at the end of a traced run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  def add(s: Map[String, Any]): Unit = synchronized { buf += s }
  def all: Seq[Map[String, Any]] = synchronized { buf.toList }
}

/** One span per micro-batch, keyed by batchId, with a child span per
  * `StreamingQueryProgress.durationMs` component. */
final class BatchTracer(spans: Spans) extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    progress.add((p.batchId, p.numInputRows, d))
    spans.add(Map("span" -> "microbatch", "batchId" -> p.batchId,
      "timestamp" -> p.timestamp, "rows" -> p.numInputRows,
      "children" -> d.toSeq.sortBy(_._1).map { case (k, v) =>
        Map("span" -> k, "ms" -> v) }))
  }
  def batches: Seq[(Long, Long, Map[String, Long])] =
    progress.asScala.toSeq.filter(_._2 > 0).sortBy(_._1)
}

/** Per-query job and stage task metrics for the ops workload. The
  * running query's name travels as the `perfbench.query` local
  * property, so every job it submits is attributed to it. */
final class OpsTracer extends SparkListener {
  final class Acc {
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, Int)] // id, start, end, stages
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]] // stage -> durations
  }
  private val byQuery = new ConcurrentHashMap[String, Acc]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val jobQuery = new ConcurrentHashMap[Int, (String, Long, Int)]()

  def acc(q: String): Acc = byQuery.computeIfAbsent(q, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.query")))
    q.foreach { name =>
      e.stageIds.foreach(s => stageQuery.put(s, name))
      jobQuery.put(e.jobId, (name, e.time, e.stageIds.length))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobQuery.remove(e.jobId)).foreach { case (q, t0, n) =>
      val a = acc(q)
      a.synchronized { a.jobs += ((e.jobId, t0, e.time, n)) }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageQuery.get(e.stageId)).foreach { q =>
      val a = acc(q)
      val m = e.taskMetrics
      a.synchronized {
        if (m != null) {
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }

  /** Worst per-stage max/median task time over stages with >= 2 tasks
    * (1.0 when no stage has two tasks). */
  def skew(q: String): Double = {
    val a = acc(q)
    a.synchronized {
      val ratios = a.taskMs.values.filter(_.length >= 2).map { ts =>
        ts.max.toDouble / math.max(Stats.median(ts.map(_.toDouble).toSeq), 1.0)
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }

  def span(q: String, start: Long, end: Long): Map[String, Any] = {
    val a = acc(q)
    a.synchronized {
      Map("span" -> s"ops.$q", "start_ms" -> start, "end_ms" -> end,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
        "children" -> a.jobs.sortBy(_._1).map { case (id, t0, t1, n) =>
          Map("span" -> "job", "jobId" -> id, "start_ms" -> t0, "end_ms" -> t1, "stages" -> n)
        }.toSeq,
        "stages" -> a.taskMs.toSeq.sortBy(_._1).map { case (s, ts) =>
          Map("stageId" -> s, "tasks" -> ts.length, "task_ms_max" -> ts.max,
            "task_ms_median" -> Stats.median(ts.map(_.toDouble).toSeq))
        })
    }
  }
}
