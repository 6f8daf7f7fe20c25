package graft.tools

import org.apache.spark.sql.DataFrame

/** Shared writer of the Dump*Fixture tools. */
object FixtureFiles {

  /** Write `df` as ONE plain .parquet file at `target`, flattening
    * Spark's part-file directory (DuckDB's read_parquet takes a file
    * path, not a directory). */
  def writeSingle(df: DataFrame, target: String): Unit = {
    val tmp = target + ".tmpdir"
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val dst = new java.io.File(target)
    if (dst.exists()) dst.delete()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }
}
