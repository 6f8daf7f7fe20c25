package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.plans.FromJsonString
import graft.streaming.StreamPipeline

/** graft.plans.FromJsonString must return exactly `from_json`'s row
  * for the same schema: same values, same nulls, same rendering of
  * non-string values under a string field, same treatment of
  * malformed records and malformed UTF-8. Pins: hand-picked edge
  * cases, raw bytes cast to string and a seeded fuzz over a JSON-ish
  * alphabet, each interpreted and compiled; StreamPipelineSpec covers
  * the decode inside StreamPipeline.transform. */
class FromJsonStringSpec extends AnyFunSuite with SparkSessionFixture {

  private val Envelope = StreamPipeline.EnvelopeSchema
  private val TwoFields = StructType(Seq(
    StructField("message", StringType), StructField("lang", StringType)))

  /** (input, from_json, from_json_string) with both results rendered
    * by to_json; a null struct renders as null. */
  private def both(df: DataFrame, schema: StructType): Seq[(String, String, String)] = {
    import spark.implicits._
    df.select(col("raw"),
        to_json(from_json(col("raw"), schema)).as("ref"),
        to_json(FromJsonString.of(col("raw"), schema)).as("got"))
      .as[(String, String, String)]
      .collect().toSeq
  }

  /** On the driver-side local relation (interpreted) and behind an
    * exchange (compiled, one parser per task). */
  private def assertSame(df: DataFrame, schema: StructType = Envelope): Unit = {
    val rows = both(df, schema) ++ both(df.repartition(3), schema)
    assert(rows.nonEmpty)
    rows.foreach { case (raw, ref, got) =>
      assert(got == ref, s"divergence on ${Option(raw).map(_.take(80))}: ref=$ref got=$got")
    }
  }

  private def strings(xs: Seq[String]): DataFrame = {
    import spark.implicits._
    xs.toDF("raw")
  }

  private val edgeCases = Seq(
    """{"message":"hello world"}""",
    """{"message":null}""",
    """{}""",
    "",
    "   ",
    "null",
    """{"message":""}""",
    """{"message":"café 😀 \"q\" \\ \/ \n\t"}""",
    "{\"message\":\"naïve café 😀\"}",
    """{"message": 5}""",
    """{"message": -1.50e3}""",
    """{"message": true}""",
    """{"message": {"a": 1,  "b": [1, 2]}}""",
    """{"message": [ "x" , {"y" :null} ]}""",
    """{"message":"a","message":"b"}""",
    """{"Message":"case differs"}""",
    """{"lang":"en","message":"extra field first"}""",
    """{"message":"trailing"} garbage""",
    """{"message":"trailing"}{"message":"second"}""",
    """[{"message":"in an array"}]""",
    """[]""",
    """"just a string"""",
    """42""",
    """{"message":"unterminated""",
    """{"message":}""",
    """{message:"unquoted key"}""",
    """{'message':'single quotes'}""",
    """{"message":"bad escape \q"}""",
    "{\"message\":\"raw\tcontrol\u0001chars\"}",
    "﻿{\"message\":\"byte order mark\"}",
    """  {"message":"leading space"}  """,
    """{"message":NaN}""",
    """{"message":"x"} // comment""",
    """{"message":"""" + ("long " * 8000) + """"}""",
    null)

  test("edge cases: the same row as from_json") {
    assertSame(strings(edgeCases))
  }

  test("edge cases under a two-field schema: the same row as from_json") {
    assertSame(strings(edgeCases ++ Seq(
      """{"lang":"en"}""",
      """{"message":"m","lang":7}""",
      """{"message":"m","lang":"en","other":[1]}""")), TwoFields)
  }

  test("malformed UTF-8 bytes cast to string: the same row as from_json") {
    import spark.implicits._
    def env(body: Array[Byte]): Array[Byte] =
      """{"message":"""".getBytes("UTF-8") ++ body ++ """"}""".getBytes("UTF-8")
    val bodies: Seq[Array[Byte]] = Seq(
      Array(0xC3, 0x28), Array(0xE2, 0x82), Array(0xF0, 0x9F, 0x98),
      Array(0xFF, 0xFE), Array(0xED, 0xA0, 0x80), Array(0xC0, 0xAF),
      Array(0x61, 0x80, 0x62), Array(0xF4, 0x90, 0x80, 0x80)
    ).map(_.map(_.toByte))
    val raw = bodies.map(env) ++ Seq(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ env(Array.emptyByteArray))
    assertSame(raw.toDF("bytes").select(col("bytes").cast("string").as("raw")))
  }

  test("seeded fuzz over a JSON-ish alphabet: the same row as from_json") {
    val alphabet = "{}[]\":,\\ nul0-1.e5truefasé😀\t\n".toCharArray
    val rnd = new Random(42)
    val prefixes = Seq("", "{", """{"message":""", """{"message":"""", """{"message":[""")
    val texts = (1 to 3000).map { _ =>
      val body = Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString
      prefixes(rnd.nextInt(prefixes.length)) + body
    }
    assertSame(strings(texts))
  }

  test("the envelope decode runs as from_json_string in whole-stage codegen") {
    import spark.implicits._
    // the exchange keeps the projection off the driver-side local
    // relation, so it is compiled into a codegen stage
    val decoded = Seq("""{"message":"a b"}""", """{}""", "oops").toDF("value")
      .repartition(2)
      .select(FromJsonString.of(col("value"), Envelope).getField("message").as("m"))
    assert(decoded.as[String].collect().toSeq.sortBy(Option(_)) == Seq(null, null, "a b"))
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val stages = nodes(decoded.queryExecution.executedPlan).collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.collectFirst {
      case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[FromJsonString])) => p
    }.nonEmpty))
  }
}
