package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Batch write-side hygiene for corpus-scale outputs. At 100 TB the
  * write layout IS the read performance of every downstream job:
  *  - partition directories on the columns downstream filters prune on
  *    (partition pruning turns a full scan into a directory lookup);
  *  - sort within partitions on the columns downstream joins/groups
  *    key on (parquet min/max row-group stats then skip pages);
  *  - bound file sizes so a skewed partition writes many parallel
  *    files instead of one task-killing giant.
  */
object WriteOps {

  /** Write parquet partitioned by `partitionCols`, rows sorted within
    * each output task by `sortCols`, at most `maxRecordsPerFile` rows
    * per file. `repartition(partitionCols)` first, so each partition
    * directory is produced by one task group (no N-files-per-task
    * explosion when many input tasks each hold a sliver of every
    * partition).
    *
    * `tasksPerPartition > 1` adds a salt to the repartition keys so a
    * hot partition value is written by that many parallel tasks instead
    * of serializing through a single writer (`repartition(partitionCols)`
    * alone hashes each partition value to exactly one task;
    * `maxRecordsPerFile` only splits files *sequentially* within it). */
  def partitionedSorted(df: DataFrame, path: String,
                        partitionCols: Seq[String], sortCols: Seq[String],
                        maxRecordsPerFile: Long,
                        tasksPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val keyed =
      if (tasksPerPartition <= 1) df.repartition(partitionCols.map(col): _*)
      else df.repartition(
        (partitionCols.map(col) :+
          pmod(hash(sortCols.map(col): _*), lit(tasksPerPartition))): _*)
    keyed
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Write parquet range-clustered and sorted on `sortCols` into
    * `numFiles` files — the unpartitioned sibling of
    * [[partitionedSorted]] for tables read whole but filtered/joined
    * on a key prefix: one range exchange (sampled bounds, balanced
    * output tasks) plus an in-task sort gives globally disjoint,
    * sorted key ranges per file, so parquet min/max row-group stats
    * prune point and range reads on the sort key. This is the layout
    * the tokenize-once pipeline stores its encoded id arrays in
    * (t24's stage step). */
  def sortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
                    numFiles: Int): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
}
