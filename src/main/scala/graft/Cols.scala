package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-expression helpers.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs) so the expressions stay inside whole-stage codegen and remain
  * usable at 100 TB scale. Each helper has an exact DuckDB equivalent used
  * by the correctness oracles (SparkEntry.oracleSql) — the pair is noted in
  * the doc comment and pinned by HashesSpec.
  */
object Cols {

  /** Exact floor division for integral columns (Spark's `div` truncates
    * toward zero; this floors like DuckDB's `//`). The dividend is first
    * reduced by a non-negative `pmod`, making it an exact multiple of `d`,
    * so the integer `div` is exact floor — no double-precision round trip
    * (a naive `floor(a / d)` loses bits for nanosecond-scale longs > 2^53).
    */
  def floorDiv(c: Column, d: Long): Column = floorDiv(c, lit(d))

  /** Column-divisor variant (e.g. dividing by a per-group count). */
  def floorDiv(c: Column, d: Column): Column =
    // `div` (IntegralDivide) keeps the math in 64-bit integers; a
    // double-precision `/` would be lossy for nanosecond-scale epochs
    // (1.7e18 > 2^53). The pmod pre-subtraction makes it exact floor.
    call_function("div", c - pmod(c, d), d)

  /** The exact wide integer type: moments and products of longs widen to
    * it before they can pass 2⁶³ (DuckDB: `HUGEINT` in the oracles). */
  val Dec38 = "decimal(38,0)"

  /** `c` widened to [[Dec38]]; `dec38(lit(v))` for a widened literal. */
  def dec38(c: Column): Column = c.cast(Dec38)

  /** Exact LOWER median as an aggregate: element ⌈n/2⌉ of the sorted
    * collected values — no midpoint averaging, no floats, so the result
    * is always one of the inputs and hashes identically cross-engine
    * (DuckDB mirror: `(list(x ORDER BY x))[(count(*) + 1) // 2]`). Null
    * on an empty group (element_at at index 0 would otherwise throw —
    * Spark array indices are 1-based), matching the DuckDB list
    * out-of-range convention.
    */
  def lowerMedian(c: Column): Column = {
    val arr = sort_array(collect_list(c))
    when(size(arr) > 0, element_at(arr, ((size(arr) + 1) / 2).cast("int")))
  }

  /** Floor a millisecond epoch to its tumbling-window start.
    * DuckDB: `t - t % W` is identical for non-negative t; we use pmod so
    * negative epochs also floor. Oracle uses `t - ((t % W) + W) % W`.
    */
  def tumbleStart(tsMs: Column, widthMs: Long): Column =
    tsMs - pmod(tsMs, lit(widthMs))

  /** Deterministic 60-bit hash of a string, identical across engines:
    * Spark  native [[graft.functions.Hash60]] (≡ `conv(substr(md5(s), 1,
    *        15), 16, 10)::long`, minus three string allocations per call)
    * DuckDB `('0x' || substr(md5(s), 1, 15))::BIGINT`
    * 15 hex chars = 60 bits, always fits a signed 64-bit long.
    *
    * Built directly from the Catalyst expression, NOT via
    * `call_function("graft_hash60", …)` — the registry route would make
    * every operator built on this helper fail analysis on a session that
    * wasn't created/tuned by [[GraftSession]] (the SQL-name registration
    * is for the `spark.sql` surface; library code must be self-contained).
    */
  def hash60(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.Hash60(GraftColumnBridge.expression(c.cast("string"))))
  }

  /** Seeded variant for MinHash permutations / hyperplane families. */
  def hash60(seed: Int, c: Column): Column =
    hash60(concat_ws(":", lit(seed.toString), c))

  /** Counting merge walk over two SORTED distinct string arrays — the
    * allocation-free `size(array_intersect(a, b))` for candidate-pair
    * verification ([[graft.functions.SortedIntersectCount]]).
    */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.SortedIntersectCount(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** Canonical text normalization shared by all text operators:
    * lowercase, collapse whitespace runs to single spaces, trim.
    * DuckDB: `trim(regexp_replace(lower(s), '\s+', ' ', 'g'))`.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace tokens of normalized text. DuckDB: `string_split(n, ' ')`. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** Distinct word n-gram shingles of the normalized text, as an array.
    * DuckDB mirrors with generate_series + list indexing.
    *
    * Prefer [[shinglesOfTokens]] over a materialized tokens column when the
    * expression lands in an aggregate stage: referencing the full
    * `tokens(text)` subtree inside the transform lambda re-evaluates the
    * regex/split per index if the stage falls out of whole-stage codegen
    * (interpreted eval has no subexpression elimination).
    */
  def shingles(c: Column, n: Int): Column = shinglesOfTokens(tokens(c), n)

  /** Shingles from an (ideally already-projected) tokens array column. */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    array_distinct(ngramsOfTokens(toks, n))

  /** The characters of a string as an array — `split(c, '')` is
    * codepoint-correct (surrogate pairs stay single elements, matching
    * `substring`'s character counting) and yields `[""]` only for the
    * empty string, which every caller pre-filters away with a length
    * guard.
    *
    * This exists because the obvious per-character spelling
    * `transform(sequence(1, length(s)), i -> substring(s, i, 1))` is
    * QUADRATIC per row: UTF8String counts codepoints from byte 0 on
    * every `substring(s, i, …)` call, so extracting all chars (or all
    * char k-grams) of an L-char document walks O(L²) bytes. One split
    * is O(L) and the array indexes in O(1). Measured 26 s → sub-second
    * on a 2 000-doc × 2 000-char corpus, single core.
    */
  def charsOf(c: Column): Column = split(c, "")

  /** Char k-grams of a MATERIALIZED char-array column: gram i =
    * chars[i..i+k-1] concatenated — by construction equal to
    * `substring(s, i, k)` for every valid i, minus the quadratic
    * re-scan (see [[charsOf]]). Callers MUST bind `chars` to a real
    * projected column first (the [[shinglesOfTokens]] discipline):
    * passing `split(...)` directly re-evaluates the split per lambda
    * index under interpreted eval and reintroduces the O(L²).
    * Callers also guarantee size(chars) ≥ k: a shorter array does NOT
    * fail cleanly — `sequence(1, 0)` infers step -1 and yields [1, 0],
    * so the lambda would read element_at index 0 (an error under ANSI,
    * nulls otherwise) instead of producing an empty gram list.
    */
  def charGramsOfChars(chars: Column, k: Int): Column =
    transform(
      sequence(lit(1), size(chars) - lit(k - 1)),
      i => concat((0 until k).map(j => element_at(chars, i + lit(j))): _*))

  /** [[charGramsOfChars]] with the engine hash fused into the lambda —
    * the winnowing hot path (one fewer per-row gram array). Same
    * caller contract.
    */
  def charGramHashesOfChars(chars: Column, k: Int): Column =
    transform(
      sequence(lit(1), size(chars) - lit(k - 1)),
      i => hash60(concat((0 until k).map(j => element_at(chars, i + lit(j))): _*)))

  /** ALL word n-grams in order, duplicates preserved — the repetition-
    * analysis flavor ([[shinglesOfTokens]] is the distinct set-semantics
    * one). DuckDB: `[toks[i] || ' ' || ... for i in generate_series(1,
    * len(toks) - n + 1)]`.
    */
  def ngramsOfTokens(toks: Column, n: Int): Column = {
    // sequence(1, size-n+1) is empty when size < n (sequence errors on
    // descending ranges unless given a step, so guard with when()).
    val idx = when(size(toks) >= n, sequence(lit(1), size(toks) - lit(n - 1)))
      .otherwise(array().cast("array<int>"))
    transform(idx, i => concat_ws(" ", slice(toks, i, lit(n))))
  }
}
