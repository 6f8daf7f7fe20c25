package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `--key value` argument pairs. */
final class Args(args: Array[String]) {
  private val m: Map[String, String] = args.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => sys.error(s"bad argument pair: ${other.mkString(" ")}")
  }.toMap
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
}

object Common {

  /** The one session shape every benchmark process uses: local mode
    * over `cores` threads, shuffle partitions = cores, and all Spark
    * scratch space under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep every offsets/commits entry of a run: latency is read back
      // from these logs after the query stops
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs(): Long = System.currentTimeMillis()

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Peak resident set of this process (`VmHWM`), MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def heapMaxMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  def write(path: String, s: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, s.getBytes(UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Bytes and regular-file count under `dir`, recursively. */
  def du(dir: File): (Long, Int) =
    if (!dir.exists()) (0L, 0)
    else if (dir.isFile) (dir.length(), 1)
    else Option(dir.listFiles()).getOrElse(Array.empty[File]).map(du)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Blocks until `path` exists, or fails after `timeoutMs`. */
  def awaitFile(path: String, timeoutMs: Long): Unit = {
    val deadline = nowMs() + timeoutMs
    while (!new File(path).exists()) {
      if (nowMs() > deadline) sys.error(s"timed out waiting for $path")
      Thread.sleep(5)
    }
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result files the harness writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }
}
