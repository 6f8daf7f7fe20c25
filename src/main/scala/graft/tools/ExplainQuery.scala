package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Print the formatted physical plan of named SparkEntry queries
  * (plan hygiene audits: pushdown, exchange reuse, codegen spans).
  * Usage: runMain graft.tools.ExplainQuery q1_agg[,q2...] [mode]
  * Every name is checked before the session starts: an unknown one
  * prints the valid names and exits 2.
  * Mode `final` EXECUTES the query and prints the post-AQE plan —
  * the only place runtime ReusedExchange/ReusedShuffle are visible.
  * Iterative operators (d7) print the plan of their *composed* result
  * — per-round plans are logged by the operators themselves.
  * Exchange ids are renumbered per query, the checkout path prints as
  * `<checkout>`, and per-JVM identities (lambda class names, `Obj@hash`)
  * and RDD call-site line numbers are masked, so two runs, or two
  * checkouts, diff byte for byte. */
object ExplainQuery {

  /** `plan` with Spark's JVM-global `[plan_id=N]` renumbered 1, 2, …
    * in order of first appearance, every `checkout` prefix replaced by
    * the fixed token `<checkout>`, lambda classes and identity hashes
    * masked, and `File.scala:N` call sites cut to `File.scala`. */
  private def normalized(plan: String, checkout: String): String = {
    val ids = scala.collection.mutable.Map.empty[String, Int]
    val stable = plan.replace(checkout, "<checkout>")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("\\b([A-Za-z_$][\\w$]*)@[0-9a-f]+\\b", "$1@<id>")
      .replaceAll("(\\w\\.scala):\\d+", "$1")
    "\\[plan_id=(\\d+)\\]".r.replaceAllIn(stable,
      m => s"[plan_id=${ids.getOrElseUpdate(m.group(1), ids.size + 1)}]")
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq("q1_agg"))
    val queries = graft.SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.mkString(", ") + "\nvalid names: " + queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val rawMode = args.lift(1).getOrElse("formatted")
    val mode = ExplainMode.fromString(if (rawMode == "final") "simple" else rawMode)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.SparkEntry.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val checkout = new java.io.File(".").getCanonicalPath
    names.foreach { n =>
      println(s"===== $n =====")
      val df = queries(n)(spark, sfDir)
      if (rawMode == "final") {
        // collect() drives THIS QueryExecution (a noop write would
        // plan a separate one and leave this plan un-finalized)
        df.collect()
        println(normalized(df.queryExecution.executedPlan.toString, checkout))
      } else println(normalized(df.queryExecution.explainString(mode), checkout))
      graft.SparkEntry.releasePersisted(spark)
    }
    spark.stop()
  }
}
