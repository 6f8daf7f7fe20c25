package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Print the formatted physical plan of named SparkEntry queries
  * (plan hygiene audits: pushdown, exchange reuse, codegen spans).
  * Usage: runMain graft.tools.ExplainQuery q1_agg[,q2...] [mode]
  * Mode `final` EXECUTES the query and prints the post-AQE plan —
  * the only place runtime ReusedExchange/ReusedShuffle are visible.
  * Iterative operators (d7) print the plan of their *composed* result
  * — per-round plans are logged by the operators themselves. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq("q1_agg"))
    val rawMode = args.lift(1).getOrElse("formatted")
    val mode = ExplainMode.fromString(if (rawMode == "final") "simple" else rawMode)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.SparkEntry.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      if (rawMode == "final") {
        // collect() drives THIS QueryExecution (a noop write would
        // plan a separate one and leave this plan un-finalized)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else println(df.queryExecution.explainString(mode))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
