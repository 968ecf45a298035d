package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text/hash building blocks shared by the dedup, fingerprint, and
  * text-analysis operators.
  *
  * Two hash families on purpose:
  *  - `xxhash64(...)` — Spark's codegen'd 64-bit hash; the production path
  *    (fast, whole-stage-codegen friendly). Used where no cross-engine
  *    oracle needs to reproduce the value.
  *  - md5-derived 60-bit integers — slower but reproducible in any engine
  *    with an md5 function (the DuckDB oracle parses the same hex
  *    substring). Used by oracle-checked queries.
  */
object TextFunctions {

  /** Whitespace tokenizer (single-space convention of the fixtures). */
  def tokens(text: Column): Column = split(text, " ")

  /** 60-bit integer hash from the md5 hex tail — cross-engine reproducible:
    * DuckDB equivalent `CAST('0x' || substr(md5(x), 18, 15) AS BIGINT)`.
    * 15 hex chars = 60 bits, always non-negative, fits in a long.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 18, 15), 16, 10).cast(LongType)

  /** SQL fragment (DuckDB) matching [[md5Hash60]] — keep in sync. */
  def md5Hash60Sql(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 18, 15) AS BIGINT)"

  /** Rolling polynomial fingerprint over a token array:
    * fold(acc = 0; acc = (acc * 31 + md5Hash60(token)) % 1000003).
    * Order-sensitive by construction (a permuted document fingerprints
    * differently), overflow-free (acc < 2^20, hash < 2^60 → sum < 2^62).
    * Runs inside Catalyst's higher-order `aggregate` — no UDF, no shuffle.
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, t => md5Hash60(t)),
      lit(0L),
      (acc, h) => (acc * lit(31L) + h) % lit(1000003L))

  /** SQL fragment (DuckDB) matching [[rollingFingerprint]]. */
  def rollingFingerprintSql(toksExpr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform($toksExpr, t -> ${md5Hash60Sql("t")})),
       |  (acc, h) -> (acc * 31 + h) % 1000003)""".stripMargin

  /** Overlapping chunk windows over a token array: chunk k covers tokens
    * `[k·stride + 1, k·stride + size]` (1-based); the last chunk starts at
    * the last stride boundary that still adds new tokens, so every token
    * lands in ≥ 1 chunk, the final chunk may be short, and none is empty.
    * Returns `array<array<string>>` — `posexplode` it to get
    * (chunk_id, chunk). Same performance contract as [[shingles]]: pass a
    * materialized token column, not an inline `split`.
    */
  def chunkWindows(toks: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= size, got size=$chunkSize stride=$stride")
    val kmax = ((greatest(size(toks) - chunkSize, lit(0)) + lit(stride - 1))
      / lit(stride)).cast("int") // non-negative ints: / then truncate = floor div
    val chunks = transform(sequence(lit(0), kmax),
      k => slice(toks, k * stride + 1, lit(chunkSize)))
    // an empty token array would otherwise yield [[]] — one phantom empty
    // chunk — breaking the "none is empty" contract
    when(size(toks) === 0, array().cast("array<array<string>>"))
      .otherwise(chunks)
  }

  /** Distinct word-level n-gram shingles of a token array (1-based
    * `element_at`). Documents shorter than n shingle to an empty array.
    *
    * PERFORMANCE CONTRACT: pass a *materialized column* (an attribute from
    * a previous projection), not an inline `split(...)` expression — the
    * token array is referenced inside the per-element lambda, so an inline
    * expression would be re-evaluated for every shingle (measured 50×
    * slowdown on the dedup path: the full text re-split 3× per shingle).
    */
  def shingles(toks: Column, n: Int): Column = {
    val joined = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))
    // guard BEFORE building the sequence: sequence(1, 0) descends in Spark
    // (yielding [1, 0] and out-of-range element_at), it is not empty like
    // DuckDB's generate_series(1, 0)
    when(size(toks) >= n, array_distinct(joined))
      .otherwise(array().cast("array<string>"))
  }

  /** SQL fragment (DuckDB) matching [[shingles]] — `toksCol` must be a bare
    * column/CTE identifier holding the token list (it is referenced n+1
    * times). Keep in sync with [[shingles]].
    */
  def shinglesSql(toksCol: String, n: Int): String = {
    val parts = (0 until n)
      .map(k => if (k == 0) s"$toksCol[i]" else s"$toksCol[i+$k]")
      .mkString(" || ' ' || ")
    s"list_distinct(list_transform(generate_series(1, greatest(len($toksCol) - ${n - 1}, 0)), i -> $parts))"
  }
}
