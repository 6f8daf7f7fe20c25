package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for the single shared language-prediction column
  * (t3 / m12 / m13 all consume `langPredCol`; its DuckDB twin lives
  * in the m12/m13 CTE). The r4 red row (`m13_prf`) came from t3 and
  * the confusion CTE briefly holding DIVERGENT copies of this
  * predicate — these cases pin the exact tie semantics so any future
  * edit that touches only one spelling fails loudly here:
  *
  *   - zero marker hits         → "und"
  *   - en/de, en/es score ties  → "en"   (en checked first)
  *   - es/fr score tie          → "es"   (es before fr)
  *   - near-miss markers stay distinct ("une" ∈ fr vs "una" ∈ es;
  *     "und" is a DE marker, not the "undetermined" label)
  */
class LangPredSpec extends AnyFunSuite with SparkSessionFixture {

  private def mkDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("langdocs").toString
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // actual langs chosen so every class has a known tp/fp/fn mix
  private val docs = Seq(
    (1L, "the der", "en"),          // en/de tie      → en (tp)
    (2L, "blorp xyzzy", "en"),      // no markers     → und (fn for en)
    (3L, "der die nicht", "de"),    // clear de       → de (tp)
    (4L, "el los", "es"),           // clear es       → es (tp)
    (5L, "le les pour", "fr"),      // clear fr       → fr (tp)
    (6L, "es est", "fr"),           // es/fr tie      → es (fp es, fn fr)
    (7L, "une", "es"),              // une ∈ fr ONLY  → fr (fp fr, fn es)
    (8L, "und", "de"),              // und is a DE marker, not "undetermined"
    (9L, "the the el los", "es"))   // en/es 2-2 tie  → en (fp en, fn es)

  test("t3 tie semantics: en>de>es>fr argmax order, zero-hit → und") {
    val dir = mkDocs(docs)
    val got = SparkEntry.queries("t3_lang_id")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(1L -> "en", 2L -> "und", 3L -> "de", 4L -> "es",
      5L -> "fr", 6L -> "es", 7L -> "fr", 8L -> "de", 9L -> "en")
    assert(got == want)
  }

  test("m12 marginals equal t3 prediction counts (single predicate)") {
    val dir = mkDocs(docs)
    val t3 = SparkEntry.queries("t3_lang_id")(spark, dir)
      .collect().groupBy(_.getString(1)).map { case (p, rs) => p -> rs.length.toLong }
    val m12 = SparkEntry.queries("m12_confusion")(spark, dir)
      .collect().groupBy(_.getString(1))
      .map { case (p, rs) => p -> rs.map(_.getLong(2)).sum }
    assert(m12 == t3, "confusion-matrix pred marginals drifted from t3 — " +
      "the shared langPredCol has forked")
  }

  test("m13 per-class PRF micro-units on the pinned tie matrix") {
    val dir = mkDocs(docs)
    val got = SparkEntry.queries("m13_prf")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // hand-computed from the doc table above (integer div, 1e6 units):
    //            tp n_act n_pred precision recall   f1
    val want = Map(
      "en" -> ((1L, 2L, 2L,  500000L,  500000L,  500000L)),
      "de" -> ((2L, 2L, 2L, 1000000L, 1000000L, 1000000L)),
      "es" -> ((1L, 3L, 2L,  500000L,  333333L,  400000L)),
      "fr" -> ((1L, 2L, 2L,  500000L,  500000L,  500000L)))
    assert(got == want)
  }
}
