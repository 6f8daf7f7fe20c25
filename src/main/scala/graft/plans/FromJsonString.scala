package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(child, schema)` with default options (PERMISSIVE), each
  * record parsed from a `java.lang.String` instead of from a fresh
  * `InputStreamReader`.
  *
  * Spark's `from_json` hands Jackson every row as an
  * `InputStreamReader` over the row's UTF-8 bytes, and every reader
  * allocates its own 8 KiB decode buffer. On the streaming envelope
  * decode (~130-byte documents) that was 20.8 KB allocated per
  * document, of 28.4 KB for the whole decode → score → parquet chain,
  * and the young collections it forced set the chain's GC rate. This
  * expression decodes the row with `UTF8String.toString` (UTF-8,
  * malformed bytes replaced by U+FFFD, as the reader does) and parses
  * the String with Spark's own `JacksonParser` via
  * `CreateJacksonParser.string`, the parser behind
  * `spark.read.json(Dataset[String])`: 4.6 KB per document. Both
  * spellings feed Jackson characters, so values, nulls, malformed
  * records and non-string values under a string field come out
  * identical; FromJsonStringSpec pins that against `from_json`. */
case class FromJsonString(child: Expression, schema: StructType) extends UnaryExpression {

  override def dataType: DataType = ColumnBridge.asNullable(schema)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"from_json_string expects string, got $t")
  }

  // built per deserialized copy, i.e. per task, like from_json's
  @transient private lazy val parser: FailureSafeParser[String] = {
    val conf = SQLConf.get
    val options = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val rowSchema = dataType.asInstanceOf[StructType]
    val raw = new JacksonParser(rowSchema, options, allowArrayAsStructs = false)
    new FailureSafeParser[String](
      json => raw.parse(json, CreateJacksonParser.string, UTF8String.fromString),
      PermissiveMode, rowSchema, options.columnNameOfCorruptRecord)
  }

  /** The record's row; null when it holds no JSON value at all. */
  def parse(json: UTF8String): InternalRow = {
    val rows = parser.parse(json.toString)
    if (rows.hasNext) rows.next() else null
  }

  override protected def nullSafeEval(json: Any): Any = parse(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fromJsonString", this)
    nullSafeCodeGen(ctx, ev, json =>
      s"""${ev.value} = $self.parse($json);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): FromJsonString =
    copy(child = newChild)

  override def prettyName: String = "from_json_string"
}

object FromJsonString {
  def of(json: Column, schema: StructType): Column =
    ColumnBridge.column(FromJsonString(ColumnBridge.expression(json), schema))
}
