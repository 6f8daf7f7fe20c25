package graft

import graft.operators.DetParams._

/** DuckDB spellings of the engine's hash/similarity primitives,
  * generated from the same [[graft.operators.DetParams]] constants the
  * Spark plans use — one source of truth, two dialects. Driver runs
  * these as the correctness oracle (SURVEY.md §5.4). */
object OracleSql {

  def hash32(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,8)) AS BIGINT)"

  def hash60(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  /** Distinct character trigrams of lower(text) (matches
    * the specs' `Oracles.charTrigrams`: DuckDB range excludes the end, so
    * range(1, len-1) == Spark sequence(1, len-2)). */
  val trigrams: String =
    "CASE WHEN len(lower(text)) >= 3 THEN " +
      "list_distinct(list_transform(range(1, len(lower(text))-1), " +
      "i -> substr(lower(text), CAST(i AS INT), 3))) " +
      "ELSE []::VARCHAR[] END"

  /** MinHash signature slot i over a hashed-shingle list column `hs`. */
  def sigElem(i: Int): String =
    s"list_min(list_transform(hs, h -> (h*${minhashA(i)} + ${minhashB(i)}) % $MinhashP))"

  /** Band key b over a sig (1-indexed list column `sig`). */
  def bandKey(b: Int): String = bandKeyCfg(b, MinhashRows)

  /** [[bandKey]] generalized to `rows` slots per band (the d16
    * banding sweep — same spelling, any (bands x rows) split). */
  def bandKeyCfg(b: Int, rows: Int): String = {
    val slots = (0 until rows).map(r => s"sig[${b * rows + r + 1}]")
    s"md5(concat_ws('_', $b, ${slots.mkString(", ")}))"
  }

  /** Signature CTE prefix: documents → hashed trigrams → minhash
    * sig (the ONE spelling of the signature chain — d2/d2b consume
    * it through [[minhashKeysCte]], d16 directly). */
  def minhashSigCte(materialized: Boolean = false): String = {
    val sig = (0 until MinhashK).map(sigElem).mkString("[", ", ", "]")
    val m = if (materialized) " MATERIALIZED" else ""
    s"""WITH tg AS (SELECT doc_id, $trigrams AS tgs FROM documents),
       |hsrc AS (SELECT doc_id, list_transform(tgs, s -> ${hash32("s")}) AS hs FROM tg),
       |sigt AS$m (SELECT doc_id, $sig AS sig FROM hsrc)""".stripMargin
  }

  /** Shared CTE prefix: [[minhashSigCte]] plus the default-config
    * band-key columns b0..b{bands-1}. */
  val minhashKeysCte: String = {
    val keys = (0 until MinhashBands).map(b => s"${bandKey(b)} AS b$b").mkString(", ")
    s"""${minhashSigCte()},
       |keys AS (SELECT doc_id, $keys FROM sigt)""".stripMargin
  }

  /** UNION ALL branch list flattening [[minhashKeysCte]]'s wide
    * band-key columns to (doc_id, band, bkey) rows — the `banded` CTE
    * body every pair-generating dedup oracle shares (d2b, d4, d6, d7,
    * d10-d14). */
  val bandedBranches: String =
    (0 until MinhashBands)
      .map(b => s"SELECT doc_id, $b AS band, b$b AS bkey FROM keys")
      .mkString(" UNION ALL ")

  /** Token-hash CTE for the SimHash family (d3/d3b): per-doc 60-bit
    * token hashes, tf-weighted (the token list keeps duplicates).
    * `toksSql` is the tokenizer spelling (OracleQueries owns it). */
  def simhashHsrcCte(toksSql: String): String =
    s"""hsrc AS (SELECT doc_id,
       |  list_transform($toksSql, t -> ${hash60("t")}) AS hs FROM documents)""".stripMargin

  /** Double-precision dot product of two list columns (left fold). */
  def dot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  def cos6(a: String, b: String): String = s"round(${cos(a, b)}, 6)"

  private def planeLit(p: Array[Double]): String =
    p.map(lit3).mkString("[", ", ", "]")

  /** AUTO-geometry sign-LSH (round 15): the data-adaptive bits rule,
    * as a scalar SQL expression over a row-count expression — the
    * EXACT integer rule [[graft.operators.DetParams.autoBitsPerBand]]
    * applies (smallest b in [PlaneBitsPerBand, AutoMaxBitsPerBand]
    * with 2^b·AutoBandOcc ≥ n; max when none suffices), so Spark and
    * DuckDB derive bit-identical geometry from the same count with no
    * float/log2 edge cases. */
  def autoBitsSql(countExpr: String): String =
    autoBitsSql(countExpr, AutoBandOcc)

  /** Occupancy-parameterized form — mirrors
    * [[graft.operators.DetParams.autoBitsPerBand(n:Long,occ:Int)*]];
    * the headline s8/d5 faces pass [[DetParams.RecallBandOcc]]. */
  def autoBitsSql(countExpr: String, occ: Int): String =
    s"coalesce((SELECT min(range) FROM range($PlaneBitsPerBand, " +
      s"${AutoMaxBitsPerBand + 1}) WHERE (1::BIGINT << range) * " +
      s"$occ >= ($countExpr)), $AutoMaxBitsPerBand)"

  /** MAX-WIDTH auto band key b: all [[AutoMaxBitsPerBand]] bits from
    * band b's plane run in `hyperplanesAuto` — the effective key is a
    * substr-prefix of this (band tag '$b:' = 2 chars, so
    * `substr(k, 1, 2 + eb)`), mirroring the Spark side taking the
    * FIRST eb planes of the run. */
  // the substr(k, 1, 2 + eb) truncation below assumes a
  // SINGLE-CHARACTER band tag ('4:' would become the 3-char '10:'
  // and silently misalign Spark/oracle keys). The guard lives in
  // DetParams next to PlaneBandsCount itself — so a config bump
  // fails naming the knob being changed, not as an opaque lazy-init
  // error in whatever first touches OracleSql — and AutoLshSpec
  // pins the same bound (r16 advice).

  def sketchBandKeyAutoFull(embCol: String, b: Int): String = {
    val bits = (0 until AutoMaxBitsPerBand).map { j =>
      val plane = planeLit(hyperplanesAuto(b * AutoMaxBitsPerBand + j))
      s"CASE WHEN ${dot(embCol, plane)} > 0 THEN '1' ELSE '0' END"
    }
    s"('$b:' || ${bits.mkString(" || ")})"
  }

  def sketchBandKeyAutoList(embCol: String): String =
    (0 until PlaneBandsCount).map(sketchBandKeyAutoFull(embCol, _))
      .mkString("[", ", ", "]")

  /** Token-window chunking twins (t15/t16/d15), generated from the
    * same [[graft.functions.TextOps.ChunkSize]]/`ChunkStride`
    * constants the Spark spelling uses. `toksSql` is the tokenizer
    * expression; yields CTEs `tk` (doc_id, toks) and `c` (doc_id,
    * toks, <ciName>). */
  def chunkCte(toksSql: String, ciName: String): String = {
    val stride = graft.functions.TextOps.ChunkStride
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |c AS (SELECT doc_id, toks,
       |    unnest(range(0, (len(toks) - 1) // $stride + 1)) AS $ciName
       |  FROM tk WHERE len(toks) >= 1)""".stripMargin
  }

  /** 1-based inclusive window slice == Spark slice(toks, start, len)
    * with end clamping on both engines. */
  def chunkSliceSql(ciName: String): String = {
    val (size, stride) = (graft.functions.TextOps.ChunkSize,
      graft.functions.TextOps.ChunkStride)
    s"list_slice(toks, $ciName * $stride + 1, $ciName * $stride + $size)"
  }

  /** md5-of-joined-window fingerprint (t4's spelling). */
  def chunkFpSql(ciName: String): String =
    s"md5(array_to_string(${chunkSliceSql(ciName)}, ' '))"

  /** 60-bit SimHash over a token-hash list column `hs` (tf-weighted:
    * the token list keeps duplicates). */
  val simhashFromHs: String = {
    val terms = (0 until 60).map { b =>
      s"CASE WHEN list_sum(list_transform(hs, h -> ((h >> $b) & 1)*2 - 1)) > 0 THEN ${1L << b} ELSE 0 END"
    }
    s"CAST(${terms.mkString("(", " + ", ")")} AS BIGINT)"
  }
}
