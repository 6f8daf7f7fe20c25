package graft.sources

import java.util

import scala.collection.JavaConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the envelope wire format — the real
  * connector machinery behind the engine's "a Kafka connector drops in
  * with zero engine change" seam: `spark.read.format("graft-envelope")`
  * yields the same `value`-column contract as Kafka's scan
  * (`consumer_local.py:32-40`), plus a `file` metadata column (the
  * file-feed analog of Kafka's topic/partition/offset metadata).
  *
  * Connector shape mirrors a production source:
  *  - one `InputPartition` per envelope file → parallelism scales with
  *    the feed (Kafka partition = Spark task, here file = task);
  *  - column pruning pushes into the reader
  *    (`SupportsPushDownRequiredColumns`): `select(value)` never
  *    materializes the metadata column and vice versa;
  *  - a global COUNT(*) answers from per-file line counts
  *    (`SupportsPushDownAggregates`);
  *  - readers stream lines, never buffering a file in memory;
  *  - `readStream.format("graft-envelope")` runs the same scan as a
  *    micro-batch stream (`MicroBatchStream`): offsets are explicit
  *    seen-file sets, each trigger plans exactly the new files, and
  *    checkpoint restart resumes from the committed offset — the
  *    Kafka-offset analog, keyed by file identity.
  */
class EnvelopeSourceV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-envelope"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnvelopeSourceV2.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-envelope requires a path"))
    new EnvelopeTable(path)
  }
}

object EnvelopeSourceV2 {
  /** `value` = the raw envelope line (Kafka contract); `file` = source
    * file (metadata-column analog of topic/partition/offset). */
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("file", StringType, nullable = false)))
}

private[sources] class EnvelopeTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-envelope(`$path`)"
  override def schema(): StructType = EnvelopeSourceV2.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EnvelopeScanBuilder(path)
}

private[sources] class EnvelopeScanBuilder(path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates {

  private var required: StructType = EnvelopeSourceV2.Schema
  private var countPushed = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Global COUNT(*) answers from per-file line counts without ever
    * materializing a row. Partial pushdown: each partition returns
    * its count and Spark's final aggregate sums them — so multi-file
    * parallelism is kept. (Spark only offers an aggregate for
    * pushdown when no filter sits above the scan, so this never
    * bypasses a predicate.) */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val onlyCountStar = aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions()(0).isInstanceOf[CountStar]
    if (onlyCountStar) countPushed = true
    countPushed
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    false // partial: per-partition counts, summed by Spark's final agg

  override def build(): Scan =
    if (countPushed) new EnvelopeCountScan(path) else
      new EnvelopeScan(path, required)
}

/** COUNT(*)-pushed scan: one long per file (its line count). */
private[sources] class EnvelopeCountScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-envelope $path PushedAggregation: [COUNT(*)]"

  override def planInputPartitions(): Array[InputPartition] =
    new EnvelopeScan(path, EnvelopeSourceV2.Schema).planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val file = partition.asInstanceOf[EnvelopeInputPartition].file
      new PartitionReader[InternalRow] {
        private var done = false
        override def next(): Boolean = !done
        override def get(): InternalRow = {
          done = true
          var n = 0L
          val reader = java.nio.file.Files.newBufferedReader(
            java.nio.file.Paths.get(file))
          try { while (reader.readLine() != null) n += 1 }
          finally reader.close()
          InternalRow(n)
        }
        override def close(): Unit = ()
      }
    }
}

private[sources] class EnvelopeScan(path: String, required: StructType)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-envelope $path ${required.fieldNames.mkString("[", ",", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = new java.io.File(path)
    // fail at PLANNING time with a clear message: a missing path would
    // otherwise surface as NoSuchFileException inside a task, and
    // listFiles() returns null (not empty) on IO/permission errors.
    if (!dir.exists())
      throw new IllegalArgumentException(
        s"graft-envelope path does not exist: $path")
    val files =
      if (dir.isDirectory) {
        val listed = dir.listFiles()
        if (listed == null)
          throw new java.io.IOException(
            s"graft-envelope cannot list directory (IO/permission error): $path")
        listed.filter(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      } else Array(dir)
    files.sortBy(_.getName)
      .map(f => EnvelopeInputPartition(f.getAbsolutePath): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EnvelopeReaderFactory(required.fieldNames)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EnvelopeMicroBatchStream(path, required.fieldNames)
}

/** Streaming offset: the set of files already delivered. Explicit and
  * name-based because producer part files are uuid-named (NOT
  * lexicographically monotonic), so a "count of sorted names" offset
  * would silently skip late-sorting files. Spark's own
  * FileStreamSource keeps the same seen-set in a compacted metadata
  * log; at feed scale the plain JSON list is exact and debuggable —
  * a production build would add the compaction, not change the model. */
private[sources] case class EnvelopeOffset(files: Seq[String]) extends Offset {
  override def json(): String = EnvelopeOffset.write(files.sorted)
}

private[sources] object EnvelopeOffset {
  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
  def write(files: Seq[String]): String =
    org.json4s.jackson.Serialization.write(files)
  def read(json: String): EnvelopeOffset =
    EnvelopeOffset(org.json4s.jackson.JsonMethods.parse(json)
      .extract[Seq[String]])
}

/** Micro-batch stream over an envelope directory: each trigger
  * delivers exactly the files that appeared since the last committed
  * offset (Kafka-partition-offset analog, but keyed by file identity).
  * Files must be immutable once visible — the producer's
  * write-then-rename part files are. Column pruning flows through
  * from the scan builder; a not-yet-existing directory reads as empty
  * (a feed may start publishing after the query starts). */
private[sources] class EnvelopeMicroBatchStream(path: String,
                                                fields: Array[String])
  extends MicroBatchStream {

  private def listNow(): Seq[String] = {
    val dir = new java.io.File(path)
    if (!dir.exists()) Seq.empty
    else if (dir.isDirectory) {
      val listed = dir.listFiles()
      if (listed == null) Seq.empty
      else listed
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(_.getAbsolutePath).sorted.toSeq
    } else Seq(dir.getAbsolutePath)
  }

  override def initialOffset(): Offset = EnvelopeOffset(Seq.empty)
  override def latestOffset(): Offset = EnvelopeOffset(listNow())
  override def deserializeOffset(json: String): Offset = EnvelopeOffset.read(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[EnvelopeOffset].files.toSet
    end.asInstanceOf[EnvelopeOffset].files
      .filterNot(seen).sorted
      .map(f => EnvelopeInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EnvelopeReaderFactory(fields)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class EnvelopeInputPartition(file: String) extends InputPartition

private[sources] class EnvelopeReaderFactory(fields: Array[String])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[EnvelopeInputPartition].file
    new PartitionReader[InternalRow] {
      private val reader = java.nio.file.Files.newBufferedReader(
        java.nio.file.Paths.get(file))
      private val fileUtf8 = UTF8String.fromString(file)
      private var line: String = _

      override def next(): Boolean = {
        line = reader.readLine()
        line != null
      }

      override def get(): InternalRow = {
        val values = fields.map {
          case "value" => UTF8String.fromString(line)
          case "file"  => fileUtf8
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }

      override def close(): Unit = reader.close()
    }
  }
}
