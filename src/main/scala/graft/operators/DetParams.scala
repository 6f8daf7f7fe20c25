package graft.operators

/** Deterministic parameter generation for hash-family operators
  * (MinHash permutations, SimHash bit hashing, random hyperplanes).
  *
  * All "randomness" in the engine is derived from splitmix64 over a
  * fixed seed so that (a) runs are reproducible across sessions and
  * cluster sizes, and (b) the DuckDB oracle SQL can embed the exact
  * same constants as literals — one source of truth, two dialects.
  */
object DetParams {

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def stream(seed: Long): Iterator[Long] =
    Iterator.iterate(splitmix64(seed))(splitmix64)

  /** Prime just above 2^32; MinHash permutation modulus. With
    * a < 2^30 and base hash h < 2^32, a*h + b < 2^62 — no 64-bit
    * overflow in either Spark or DuckDB. */
  val MinhashP: Long = 4294967311L

  /** Number of MinHash hash functions (signature length). */
  val MinhashK: Int = 12

  /** LSH banding: 2 bands x 6 rows — tuned so the word-soup testdata
    * (mean trigram Jaccard ~0.4) yields a bounded candidate set while
    * J>0.9 near-dups are caught with p~0.8. At other similarity
    * profiles, retune bands/rows (threshold ~ (1/b)^(1/r)). */
  val MinhashBands: Int = 2
  val MinhashRows: Int = 6

  /** MinHash permutation params h_i(x) = (a_i * x + b_i) mod P. */
  val (minhashA, minhashB): (Array[Long], Array[Long]) = {
    val it = stream(0x5eed0001L)
    val a = Array.fill(MinhashK)((it.next().abs % ((1L << 30) - 1)) | 1L)
    val b = Array.fill(MinhashK)(it.next().abs % (1L << 30))
    (a, b)
  }

  /** Sign-LSH geometry over 64-dim embeddings: [[PlaneBandsCount]]
    * bands whose width is DATA-ADAPTIVE (round 15 — the 100 TB path
    * for the banded embedding joins). With a fixed 4-bit width a
    * random pair collides in a given band with p = 2⁻⁴, so banded
    * self/cross joins generate ≈ n²/2⁴ candidate rows per band —
    * QUADRATIC in corpus size (measured at the 10× sf1 sweep: d5
    * 52×, s8 135× their sf0.1 walls). Instead, bits-per-band grow
    * with the corpus so expected band-bucket occupancy stays
    * ≤ [[AutoBandOcc]]: candidates stay O(n · occ) — linear — at the
    * standard LSH recall trade (longer bands admit fewer
    * sub-identical pairs; exact duplicates collide at EVERY width
    * because equal vectors share all signs).
    *
    * The rule is pure INTEGER arithmetic so Spark and the DuckDB
    * oracle derive bit-identical geometry from the same count with
    * no float/log2 edge cases: the smallest b in
    * [[PlaneBitsPerBand]]..[[AutoMaxBitsPerBand]] with
    * 2^b · AutoBandOcc ≥ n (max width when none suffices). 16-bit
    * bands carry n ≈ 4.2M per join side; a 100 TB deployment raises
    * [[AutoMaxBitsPerBand]] (the plane budget is the only bound) or
    * moves to the IVF/PQ family, which bounds capacity by
    * construction. */
  val EmbedDim: Int = 64
  val PlaneBandsCount: Int = 4
  // the DuckDB oracle's auto-band keys prefix each key with a
  // SINGLE-character band tag and truncate with substr(k, 1, 2 + eb)
  // (graft.OracleSql.sketchBandKeyAutoFull); an 11th band would make
  // the tag 2 chars and silently misalign Spark/oracle keys. Checked
  // HERE, at the knob, so raising PlaneBandsCount fails with this
  // message instead of an opaque OracleSql init error (AutoLshSpec
  // pins the same bound).
  require(PlaneBandsCount <= 10,
    s"PlaneBandsCount = $PlaneBandsCount: oracle auto band keys " +
      "assume a 1-char band tag (<= 10 bands); widen the tag in " +
      "OracleSql.sketchBandKeyAutoFull before raising this")
  /** Narrowest band width the auto rule picks. */
  val PlaneBitsPerBand: Int = 4
  val AutoMaxBitsPerBand: Int = 16
  val AutoBandOcc: Int = 64

  /** RECALL-BIASED occupancy for the headline ANN faces (round 16):
    * 4× [[AutoBandOcc]] trades 2 bits of band width for 4× expected
    * bucket occupancy — more moderate-cosine candidates per probe at
    * the same LINEAR-in-n candidate bound (occ is a constant; only
    * the constant differs). s8/d5 ship this face; s19/d35 keep the
    * tight default, so both ends of the occupancy knob stay
    * oracle-pinned. */
  val RecallBandOcc: Int = 256

  /** Bits per band for a corpus of `n` vectors — see above. */
  def autoBitsPerBand(n: Long): Int = autoBitsPerBand(n, AutoBandOcc)

  /** Occupancy-parameterized rule: smallest b in
    * [[PlaneBitsPerBand]]..[[AutoMaxBitsPerBand]] with 2^b·occ ≥ n
    * (max width when none suffices) — pure integer arithmetic,
    * mirrored by [[graft.OracleSql.autoBitsSql]]. */
  def autoBitsPerBand(n: Long, occ: Int): Int =
    (PlaneBitsPerBand to AutoMaxBitsPerBand)
      .find(b => (1L << b) * occ >= n)
      .getOrElse(AutoMaxBitsPerBand)

  /** Hyperplanes for the auto-geometry bands: plane j of band b is
    * `hyperplanesAuto(b * AutoMaxBitsPerBand + j)` — each band owns a
    * max-width run and a narrower key is a string PREFIX of the wider
    * one (the DuckDB oracle computes the max-width key and truncates;
    * AutoLshSpec pins the prefix property). Values in [-1, 1] with 3
    * decimals (exact in double, so the SQL literal "0.123" parses to
    * the identical double in Java and C++). */
  val hyperplanesAuto: Array[Array[Double]] = {
    val it = stream(0x5eed0003L)
    Array.fill(PlaneBandsCount * AutoMaxBitsPerBand, EmbedDim)(
      ((it.next().abs % 2001L) - 1000L) / 1000.0)
  }

  /** Render a double that was constructed as k/1000 exactly. */
  def lit3(d: Double): String = f"$d%.3f"
}
