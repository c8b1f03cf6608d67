package graft.functions

/** Cross-engine-portable expression builders.
  *
  * The t2 gate compares Spark output to DuckDB by exact value hash, so any
  * hash- or float-reduction-based operator must produce *bit-identical*
  * results in both engines. Two primitives make that possible:
  *
  *  - a portable 60-bit integer hash: both engines agree on md5 hex, and a
  *    15-hex-digit prefix cast to BIGINT is the same number in both;
  *  - order-independent float reductions: per-element IEEE double products
  *    (identical everywhere) rounded onto a DECIMAL(27,10) grid and summed
  *    exactly — associative, so partition order stops mattering (see
  *    [[Exact]] for the rationale and headroom math).
  *
  * Every builder returns a SQL string for one engine; callers interpolate
  * the same Scala constants into both, so the two sides can't drift.
  *
  * Quantized cosine: the Spark side is the native `qcosine(qa, qb, na,
  * nb)` expression, the DuckDB side [[qcosDuck]] (its argument order),
  * built on [[cosDuck]] — the one spelling of "integer numerator over
  * the product of two square roots", which the Pearson-correlation
  * oracles also use. The vector-cell twins live next to the Spark
  * frames in `queries.Similarity`: `celled` / `duckCells4Cte` (the
  * 4-plane cell) and `adaptiveDepthSpark` / `adaptiveDepthDuck` (the
  * adaptive depth clamp).
  *
  * Every text query tokenizes with [[toksSpark]] / [[toksDuck]] and
  * builds word n-grams (shingles, bigrams) with [[ngramsSpark]] /
  * [[ngramsDuck]]. The token-array fingerprints come in the same pairs:
  *
  *  - set fingerprint ([[setFpSpark]] / [[setFpDuck]]): md5 of the sorted
  *    distinct tokens joined by single spaces — the exact-dedup key of
  *    q40 and everything keyed on it;
  *  - chunk fingerprint ([[chunkFpSpark]] / [[chunkFpDuck]]): one md5 per
  *    consecutive `k`-token chunk (the last chunk may be short), optionally
  *    with the chunk's token count `ln` — the keep-first/span key of q49
  *    and its descendants.
  *
  * Set similarity comes as one pair too: [[jaccardSpark]] /
  * [[jaccardDuck]] turn an intersection count and two set sizes into the
  * Jaccard double, and [[interDuck]] is the DuckDB intersection count
  * (twin of the native `sorted_intersect_count`).
  */
object Portable {

  /** 60-bit positive hash of a string expression — Spark side. */
  def h64Spark(e: String): String =
    s"cast(conv(substring(md5($e),1,15),16,10) as bigint)"

  /** 60-bit positive hash of a string expression — DuckDB side. */
  def h64Duck(e: String): String =
    s"CAST('0x' || substring(md5($e),1,15) AS BIGINT)"

  /** Mersenne prime modulus for universal-hash families: fits products of
    * two 31-bit residues in a 64-bit signed int with no overflow in either
    * engine.
    */
  val P: Long = 2147483647L

  // ---- quantized vector math ----------------------------------------------
  //
  // Embedding reductions use integer quantization instead of decimal sums:
  // each float maps to round(double(x) * 1000) as a 64-bit int (the
  // float→double cast is exact; round-half-away-from-zero matches in both
  // engines), and dots/norms become *integer* sums — exact, associative,
  // order-independent, and cheap (long adds, not BigDecimal). Cosine is
  // scale-invariant, so the 1000x factor cancels:
  //   cos = dot_q / (sqrt(nsq_qa) * sqrt(nsq_qb)).
  // Overflow headroom: |q| <= ~1e3-scale entries, dims O(1e2) → dots
  // <= ~1e9, far below 2^63.

  /** Quantized int vector from a float-array column — Spark side. */
  def qvecSpark(arr: String): String =
    s"transform($arr, x -> cast(round(cast(x as double) * 1000, 0) as bigint))"

  /** Quantized int vector — DuckDB side (1-indexed, fixed dims). */
  def qvecDuck(arr: String, dims: Int): String =
    s"""[CAST(round(CAST($arr[i] AS DOUBLE) * 1000, 0) AS BIGINT)
      for i in range(1, ${dims + 1})]"""

  /** Exact squared norm of a quantized vector — Spark side. */
  def qnsqSpark(q: String): String =
    s"aggregate($q, 0L, (a, v) -> a + v * v)"

  /** Exact dot of two quantized vectors — Spark side. */
  def qdotSpark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (p, q) -> p * q), 0L, (a, v) -> a + v)"

  /** Exact squared norm — DuckDB side. */
  def qnsqDuck(q: String, dims: Int): String =
    s"CAST(list_sum([$q[i] * $q[i] for i in range(1, ${dims + 1})]) AS BIGINT)"

  /** Exact dot — DuckDB side. */
  def qdotDuck(a: String, b: String, dims: Int): String =
    s"CAST(list_sum([$a[i] * $b[i] for i in range(1, ${dims + 1})]) AS BIGINT)"

  /** Cosine from an exact integer numerator and two exact squared norms
    * — DuckDB side: one IEEE divide of the double numerator by the
    * product of the two square roots, the order the native `qcosine`
    * (Spark side) evaluates in, so both engines give the same double.
    * Also the Pearson-correlation form (numerator n·Sxy − Sx·Sy).
    */
  def cosDuck(num: String, a: String, b: String): String =
    s"CAST($num AS DOUBLE) / (sqrt(CAST($a AS DOUBLE)) * sqrt(CAST($b AS DOUBLE)))"

  /** Exact-grid cosine of two quantized vectors — DuckDB twin of the
    * native `qcosine(qa, qb, na, nb)`, in its argument order.
    */
  def qcosDuck(qa: String, qb: String, na: String, nb: String,
      dims: Int): String =
    cosDuck(qdotDuck(qa, qb, dims), na, nb)

  // ---- tokens and word n-grams --------------------------------------------

  /** Token array of a text expression — Spark side: lowercase, split on
    * single spaces, empty tokens kept (callers that drop them filter).
    */
  def toksSpark(e: String): String = s"split(lower($e), ' ')"

  /** Token array of a text expression — DuckDB side. */
  def toksDuck(e: String): String = s"string_split(lower($e), ' ')"

  /** Word `n`-grams of token array `t` — Spark side: entry i = 0 ..
    * size(t) - n is `wrap` of tokens [i, i + n) joined by single spaces.
    * Requires size(t) >= n: for a shorter array `sequence(0, size(t) - n)`
    * counts down instead of coming out empty, so callers filter first.
    */
  def ngramsSpark(t: String, n: Int,
      wrap: String => String = identity): String = {
    val gram = (0 until n).map(j => if (j == 0) s"$t[i]" else s"$t[i+$j]")
    s"transform(sequence(0, size($t) - $n), " +
      s"i -> ${wrap(gram.mkString("concat_ws(' ', ", ", ", ")"))})"
  }

  /** Word `n`-grams — DuckDB side (1-indexed): the same entries in the
    * same order as [[ngramsSpark]].
    */
  def ngramsDuck(t: String, n: Int,
      wrap: String => String = identity): String = {
    val gram = (0 until n).map(j => if (j == 0) s"$t[i]" else s"$t[i+$j]")
    s"[${wrap(gram.mkString(" || ' ' || "))} " +
      s"for i in range(1, len($t) - $n + 2)]"
  }

  // ---- token-array fingerprints -------------------------------------------

  /** Set fingerprint of a token array — Spark side. */
  def setFpSpark(toks: String): String =
    s"md5(array_join(array_sort(array_distinct($toks)), ' '))"

  /** Set fingerprint of a token array — DuckDB side. */
  def setFpDuck(toks: String): String =
    s"md5(array_to_string(list_sort(list_distinct($toks)), ' '))"

  /** Chunk fingerprints of token array `t` at width `k` — Spark side: an
    * array with one entry per chunk i = 0 .. ceil(size(t) / k) - 1, each
    * the md5 of tokens [i*k, i*k + k) joined by single spaces. `k` is a
    * SQL expression (a lambda variable works); an integer-literal width
    * stays a literal (`10.0` in the chunk count, `10L` in `ln`) instead
    * of going through casts. With `ln`, each entry is instead
    * `struct(lead..., fp, ln)` where `ln = least(k, size(t) - i*k)` is
    * the chunk's token count.
    */
  def chunkFpSpark(t: String, k: String, ln: Boolean = false,
      lead: Seq[String] = Nil): String = {
    val isLit = k.forall(_.isDigit)
    val kDouble = if (isLit) s"$k.0" else s"cast($k as double)"
    val kLong = if (isLit) s"${k}L" else s"cast($k as bigint)"
    val fp = s"md5(array_join(slice($t, i * $k + 1, $k), ' '))"
    val body =
      if (!ln) fp
      else (lead :+ s"$fp AS fp" :+ s"least($kLong, size($t) - i * $k) AS ln")
        .mkString("struct(", ", ", ")")
    s"transform(sequence(0, cast(ceil(size($t) / $kDouble) as int) - 1), " +
      s"i -> $body)"
  }

  /** Chunk fingerprints — DuckDB side: the same chunks as
    * [[chunkFpSpark]], always as a list of `{pos, fp, ln}` structs (`pos`
    * = i); the oracle picks the fields it needs.
    */
  def chunkFpDuck(t: String, k: String): String =
    s"""[{'pos': i,
        'fp': md5(array_to_string($t[(i*$k+1):(i*$k+$k)], ' ')),
        'ln': least($k, len($t) - i*$k)}
      for i in range(0, CAST(ceil(len($t) / ($k * 1.0)) AS INT))]"""

  // ---- set similarity -----------------------------------------------------

  /** Jaccard from an intersection count `i` and the set sizes `la`, `lb`:
    * `i / (la + lb - i)`, the count cast to double first — Spark side.
    */
  def jaccardSpark(i: String, la: String, lb: String): String =
    s"cast($i as double) / ($la + $lb - $i)"

  /** DuckDB twin of [[jaccardSpark]]. */
  def jaccardDuck(i: String, la: String, lb: String): String =
    s"CAST($i AS DOUBLE) / ($la + $lb - $i)"

  /** Jaccard of two duplicate-free lists — DuckDB side. */
  def jaccardDuck(a: String, b: String): String =
    jaccardDuck(interDuck(a, b), s"len($a)", s"len($b)")

  /** |a ∩ b| of two duplicate-free lists — DuckDB twin of the native
    * `sorted_intersect_count`.
    */
  def interDuck(a: String, b: String): String =
    s"len(list_intersect($a, $b))"
}
