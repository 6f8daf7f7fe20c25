package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // same opt-in subset knob as Bench — lets a single query's dump be
    // re-run in isolation while iterating on its oracle
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_(n)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // repartition(1), NOT coalesce(1): coalesce would collapse the
        // whole upstream plan to one thread; repartition keeps the
        // compute parallel and only funnels the (small) result.
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-query persists (e.g. d4's trigram table) so cache
      // blocks don't accumulate across the 100+ query loop
      SparkEntry.releasePersisted(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
