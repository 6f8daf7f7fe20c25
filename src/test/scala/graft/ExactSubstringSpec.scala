package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** [[DedupOps.exactSubstringSpans]] — the ExactSubstr (Lee et al.
  * 2022) spine. Pins on a hand-built corpus with known span algebra:
  *  - a shared run at DIFFERENT offsets in two documents is found in
  *    both, with the correct 0-based extents (the suffix-array
  *    property the fixed-chunk d9/d15 operators cannot see);
  *  - maximality: consecutive duplicated windows merge into ONE span
  *    covering the full shared run, not one row per window;
  *  - self-repetition inside a single document is duplication;
  *  - two separate shared runs in one document yield two islands;
  *  - docs shorter than the window, and corpora with no duplication,
  *    yield nothing;
  *  - span_tokens ≥ window always, and spans never overlap per doc. */
class ExactSubstringSpec extends AnyFunSuite with SparkSessionFixture {

  private val W = 5

  private def spans(rows: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val (out, _) = DedupOps.exactSubstringSpans(
      rows.toDF("doc_id", "text"), "doc_id",
      split(col("text"), " "), window = W)
    out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("shared run at different offsets, full maximal extent, both docs") {
    // doc 1: 3 unique + 8 shared + 4 unique; doc 2: 6 unique + 8 shared
    val shared = words("s", 8)
    val d1 = words("a", 3) + " " + shared + " " + words("b", 4)
    val d2 = words("c", 6) + " " + shared
    val got = spans(Seq(1L -> d1, 2L -> d2))
    // doc 1: duplicated windows start at 3..6 → one span [3, 10], 8 toks
    // doc 2: starts 6..9 → [6, 13], 8 toks
    assert(got === Set((1L, 3L, 10L, 8L), (2L, 6L, 13L, 8L)))
  }

  test("self-repetition within one document counts as duplication") {
    // the same 6-token run twice in one doc, nothing shared elsewhere
    val run = words("r", 6)
    val d = run + " " + words("x", 4) + " " + run
    val got = spans(Seq(7L -> d, 8L -> words("z", 30)))
    assert(got === Set((7L, 0L, 5L, 6L), (7L, 10L, 15L, 6L)))
  }

  test("two separate shared runs in one doc make two islands") {
    val r1 = words("p", 6)
    val r2 = words("q", 7)
    val d1 = r1 + " " + words("m", 5) + " " + r2
    val d2 = r1 + " " + words("n", 9) + " " + r2
    val got = spans(Seq(1L -> d1, 2L -> d2))
    assert(got === Set(
      (1L, 0L, 5L, 6L), (1L, 11L, 17L, 7L),
      (2L, 0L, 5L, 6L), (2L, 15L, 21L, 7L)))
  }

  test("short docs and dup-free corpora yield nothing") {
    assert(spans(Seq(1L -> words("a", 4), 2L -> words("a", 4))) === Set.empty)
    assert(spans(Seq(1L -> words("a", 20), 2L -> words("b", 20))) === Set.empty)
  }

  test("exact-window-length duplication is the minimal span") {
    // exactly W shared tokens — one duplicated window each
    val shared = words("s", W)
    val got = spans(Seq(
      1L -> (words("a", 7) + " " + shared),
      2L -> (shared + " " + words("b", 7))))
    assert(got === Set((1L, 7L, 11L, 5L), (2L, 0L, 4L, 5L)))
  }

  private def spansVsBase(delta: Seq[(Long, String)],
                          base: Seq[(Long, String)])
      : Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val toks = (c: String) => split(col(c), " ")
    DedupOps.exactSubstringSpansVsBase(
        delta.toDF("doc_id", "text"), base.toDF("doc_id", "text"),
        "doc_id", toks("text"), toks("text"), window = W)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  test("vs-base spans: base grams censused, delta-only repeats ignored") {
    val shared = words("s", 8)
    val selfRep = words("r", 6)
    // delta doc 1 shares a run with BASE at different offsets; delta
    // docs 2+3 share a run with EACH OTHER but not with base — the
    // vs-base operator must NOT report the delta-internal duplication
    // (that is the full-batch d27's job, not the admission census)
    val d1 = words("a", 3) + " " + shared + " " + words("b", 4)
    val d2 = selfRep + " " + words("x", 9)
    val d3 = words("y", 9) + " " + selfRep
    val b1 = words("c", 6) + " " + shared
    val got = spansVsBase(
      Seq(1L -> d1, 2L -> d2, 3L -> d3), Seq(100L -> b1))
    assert(got === Set((1L, 3L, 10L, 8L)))
  }

  test("vs-base census of an arriving doc equals full-batch d27's " +
       "view of it after ingestion") {
    // an arriving doc with no self-repetition: its vs-base spans must
    // equal what the full-batch operator reports for it once the doc
    // is part of the corpus (its every duplication is base-resident)
    val shared = words("s", 8)
    val base = Seq(
      1L -> (words("a", 3) + " " + shared),
      2L -> (shared + " " + words("b", 5)),
      3L -> words("z", 25))
    val arriving = 4L -> (words("m", 4) + " " + shared + " " + words("n", 2))
    val vsBase = spansVsBase(Seq(arriving), base)
    val full = spans(base :+ arriving).filter(_._1 == 4L)
    assert(vsBase === full)
    assert(vsBase === Set((4L, 4L, 11L, 8L)))
  }

  private def strip(rows: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val (out, _) = DedupOps.exactSubstringStrip(
      rows.toDF("doc_id", "text"), "doc_id",
      split(col("text"), " "), window = W)
    out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
  }

  test("strip keeps exactly the first corpus occurrence of a shared run") {
    val shared = words("s", 8)
    val d1 = words("a", 3) + " " + shared + " " + words("b", 4)
    val d2 = words("c", 6) + " " + shared
    val got = strip(Seq(1L -> d1, 2L -> d2))
    // doc 1's span leads at (1,3) < (2,6): doc 1 keeps, doc 2 strips
    assert(got(1L) === ((15L, 1L, 0L, 0L, 15L)))
    assert(got(2L) === ((14L, 1L, 1L, 8L, 6L)))
  }

  test("strip keeps the first self-repetition and removes the rest") {
    val run = words("r", 6)
    val d = run + " " + words("x", 4) + " " + run
    val got = strip(Seq(7L -> d, 8L -> words("z", 30)))
    // two spans; the (7,0) occurrence is the keeper, (7,10) strips
    assert(got(7L) === ((16L, 2L, 1L, 6L, 10L)))
    assert(got(8L) === ((30L, 0L, 0L, 0L, 30L)))
  }

  test("strip accounting is conserved on real testdata") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val (strip, _) = DedupOps.exactSubstringStrip(
      docs, "doc_id", QuerySupport.cleanTokens, window = 10)
    val got = strip.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, spans, stripped, tokStripped, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))
      assert(stripped <= spans)
      assert(kept === n - tokStripped)
      assert(tokStripped >= 0 && kept >= 0)
      if (spans == 0) assert(tokStripped === 0 && kept === n)
    }
  }

  test("window sweep: per-window stats agree with per-window span runs") {
    import spark.implicits._
    // shared 8-token run: duplicated at W=5 and W=8, gone at W=9
    val shared = words("s", 8)
    val docs = Seq(
      1L -> (words("a", 3) + " " + shared + " " + words("b", 4)),
      2L -> (words("c", 6) + " " + shared),
      3L -> words("z", 30))
    val (sweep, _) = DedupOps.exactSubstringWindowSweep(
      docs.toDF("doc_id", "text"), "doc_id",
      split(col("text"), " "), Seq(5, 8, 9))
    val got = sweep.collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // W=5: spans (1,[3,10],8toks) + (2,[6,13],8toks): 4 starts each
    assert(got(5) === ((8L, 2L, 2L, 16L)))
    // W=8: exactly one duplicated window per doc
    assert(got(8) === ((2L, 2L, 2L, 16L)))
    // W=9: no 9-gram repeats anywhere -> NO row (not a zero row)
    assert(!got.contains(9))
    // and each window row must agree with an independent single-window
    // span run folded the same way
    for (w <- Seq(5, 8)) {
      val (spans, _) = DedupOps.exactSubstringSpans(
        docs.toDF("doc_id", "text"), "doc_id",
        split(col("text"), " "), w)
      val sp = spans.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      val starts = sp.map { case (_, s, e, _) => e - w + 1 - s + 1 }.sum
      assert(got(w) === ((starts, sp.length.toLong,
        sp.map(_._1).distinct.length.toLong, sp.map(_._4).sum)))
    }
  }

  test("randomized parity vs a brute-force local reference") {
    // 40 docs over a 6-token alphabet (dense accidental duplication,
    // lengths straddling the window) — the engine must match a
    // straight-line local recomputation of ExactSubstr semantics
    val rnd = new scala.util.Random(20260815)
    val docs = (0 until 40).map { i =>
      val n = 3 + rnd.nextInt(30)
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
    }
    // local reference: census every W-gram, duplicated iff occ >= 2,
    // islands of consecutive duplicated starts merge
    val occ = scala.collection.mutable.Map.empty[String, Int]
    val starts = docs.map { case (id, text) =>
      val toks = text.split(" ")
      val gs = (0 to toks.length - W).map(p => toks.slice(p, p + W).mkString(" "))
      gs.foreach(g => occ(g) = occ.getOrElse(g, 0) + 1)
      id -> gs
    }
    val want = starts.flatMap { case (id, gs) =>
      val dupPos = gs.zipWithIndex.collect { case (g, p) if occ(g) >= 2 => p }
      // islands
      val islands = dupPos.foldLeft(List.empty[List[Int]]) {
        case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
          (p :: acc.head) :: acc.tail
        case (acc, p) => List(p) :: acc
      }
      islands.map { isl =>
        val s = isl.min; val e = isl.max
        (id, s.toLong, (e + W - 1).toLong, (e - s + W).toLong)
      }
    }.toSet
    assert(want.nonEmpty, "random corpus produced no duplication")
    assert(spans(docs) === want)

    // the strip accounting must match the same local reference
    // extended with keep-one: a span survives iff its (doc, start)
    // is the lexicographic minimum over all corpus occurrences of
    // its leading gram
    val firstOcc = scala.collection.mutable.Map.empty[String, (Long, Int)]
    starts.foreach { case (id, gs) =>
      gs.zipWithIndex.foreach { case (g, p) =>
        val cand = (id, p)
        if (!firstOcc.contains(g) ||
            Ordering[(Long, Int)].lt(cand, firstOcc(g))) firstOcc(g) = cand
      }
    }
    val gramsOf = starts.toMap
    // stripped token mass is the UNION of stripped extents (islands
    // with a start gap < W overlap in token extent; summing
    // span_tokens double-counts — the r14-advice flaw this reference
    // used to share with the engine)
    var sawOverlap = false
    val wantStrip = docs.map { case (id, text) =>
      val n = text.split(" ").length.toLong
      val mySpans = want.filter(_._1 == id).toSeq
      val stripped = mySpans.filterNot { case (_, s, _, _) =>
        firstOcc(gramsOf(id)(s.toInt)) == ((id, s.toInt))
      }
      val unionMass = stripped
        .flatMap { case (_, s, e, _) => s to e }.toSet.size.toLong
      if (unionMass != stripped.map(_._4).sum) sawOverlap = true
      id -> ((n, mySpans.size.toLong, stripped.size.toLong,
        unionMass, n - unionMass))
    }.toMap
    assert(wantStrip.values.exists(_._3 > 0), "no span ever stripped")
    assert(wantStrip.values.exists(v => v._2 > 0 && v._3 < v._2),
      "no span ever kept")
    assert(sawOverlap,
      "random corpus never produced overlapping stripped extents — " +
        "the union-vs-sum distinction went unexercised")
    assert(strip(docs) === wantStrip)
  }

  test("overlapping stripped extents count once (union, not sum)") {
    // the r14-advice counter-example: doc B's duplicated starts {0,2}
    // (gap 2 < W=5) yield extents [0,4] and [2,6] — 7 distinct tokens,
    // not 10. Doc A (lower id) holds both runs' first occurrences, so
    // B strips both spans; sum-of-span_tokens would report 10 stripped
    // and 0 kept where 3 tokens actually survive.
    val a = "a b c d e X c d e f g" // 11 toks: runs at 0 ("a b c d e")
                                    // and 6 ("c d e f g")
    val b = "a b c d e f g h i j"   // 10 toks: same runs at 0 and 2
    val got = strip(Seq(1L -> a, 2L -> b))
    // doc A keeps both spans (first occurrences): nothing stripped
    assert(got(1L) === ((11L, 2L, 0L, 0L, 11L)))
    // doc B: 2 spans, both stripped, union mass 7, kept 3
    assert(got(2L) === ((10L, 2L, 2L, 7L, 3L)))
  }

  test("vs-base strip: all spans strip, overlapping extents count once") {
    import spark.implicits._
    // the d32 counter-example under admission semantics: base holds
    // both runs, arriving doc B's extents [0,4]/[2,6] overlap — union
    // mass 7 of 10 tokens, 3 kept, NO keep-one (base is canonical)
    val base = Seq(100L -> "a b c d e X c d e f g")
    val arriving = Seq(
      2L -> "a b c d e f g h i j",  // both runs, overlapping extents
      3L -> words("z", 12))         // nothing shared: keeps everything
    val got = graft.operators.DedupOps.exactSubstringStripVsBase(
        arriving.toDF("doc_id", "text"), base.toDF("doc_id", "text"),
        "doc_id", split(col("text"), " "), split(col("text"), " "), W)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(2L) === ((10L, 2L, 7L, 3L)))
    assert(got(3L) === ((12L, 0L, 0L, 12L)))
  }

  test("per-doc spans never overlap and always span >= window") {
    // the committed-corpus style check on sf0.001 testdata
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val (spans, _) = DedupOps.exactSubstringSpans(
      docs, "doc_id", QuerySupport.cleanTokens, window = 10)
    val got = spans.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    got.foreach { case (_, s, e, n) =>
      assert(n >= 10); assert(e - s + 1 === n)
    }
    got.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2, s"overlap: $a $b")
        case _ =>
      }
    }
  }
}
