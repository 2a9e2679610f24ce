package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function facade for library users (the Scala-side mirror of
  * the SQL functions registered by [[graft.GraftExtensions]]).
  */
object GraftFunctions {

  /** Cosine similarity over two vector columns (array<float> or
    * array<double>) via the native codegen'd Catalyst expression.
    * Requires a session built with GraftExtensions (GraftSession.build
    * does this). */
  def cosine_sim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Pure-builtin fallback with identical semantics (usable on sessions
    * without the extension; not codegen-fused). Length-mismatched
    * vectors truncate to the common prefix — matching the native
    * expression, where zip_with alone would null-poison the fold and
    * return NULL for ragged inputs (r9 review fix). */
  def cosine_sim_builtin(a: Column, b: Column): Column = {
    val n = least(size(a), size(b))
    val ap = slice(a, lit(1), n)
    val bp = slice(b, lit(1), n)
    def dot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val d = dot(ap, bp)
    val na = sqrt(dot(ap, ap))
    val nb = sqrt(dot(bp, bp))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  /** Portable 32-bit content hash (md5-derived; identical in DuckDB as
    * `('0x'||substr(md5(s),1,8))::BIGINT`). */
  def portable_hash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Canonical document fingerprint: lowercase, collapsed whitespace,
    * md5. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Hamming distance of two integral columns (codegen'd popcount).
    * Requires GraftExtensions. */
  def hamming_dist(a: Column, b: Column): Column =
    call_function("hamming_dist", a, b)

  /** SimHash aggregate over a pre-hashed feature column (bigint, e.g.
    * xxhash64 of each token); 16-bit, one mergeable buffer. Requires
    * GraftExtensions. */
  def simhash_agg(c: Column): Column = call_function("simhash_agg", c)

  /** 64-bit SimHash aggregate over a pre-hashed feature column.
    * Requires GraftExtensions. */
  def simhash64_agg(c: Column): Column = call_function("simhash64_agg", c)

  /** Misra-Gries heavy-hitters aggregate over a string or bigint
    * column: array<struct<item, est_count>> sorted (est desc, item
    * asc), at most `capacity` counters of mergeable state per partial
    * buffer (never a token-key shuffle). Bounds: est <= true and
    * est >= true - n/(capacity+1) under any merge tree. Requires
    * GraftExtensions. */
  def freq_topk_agg(c: Column, capacity: Int = 64): Column =
    call_function("freq_topk_agg", c, lit(capacity))

  /** Content-defined rolling window hashes of a text column: one
    * packed 62-bit hash per ANCHORED `win`-codepoint window (density
    * 1/16, Rabin–Karp rolled — O(1) per position). The CDC dedup
    * primitive behind `Dedup.anchoredWindows`. Requires
    * GraftExtensions. */
  def cdc_window_hashes(text: Column, win: Int = 50): Column =
    call_function("cdc_window_hashes", text, lit(win))

  /** [[cdc_window_hashes]] with positions:
    * array<struct<pos int, h bigint>>, pos 1-based in codepoints —
    * the span-merge face (`Dedup.dupSpans`). Requires
    * GraftExtensions. */
  def cdc_window_hits(text: Column, win: Int = 50): Column =
    call_function("cdc_window_hits", text, lit(win))

  /** Bloom filter aggregate over a long column -> binary sketch
    * (Spark's sketch pair, registered by GraftExtensions). */
  def bloom_agg(c: Column, estimatedNumItems: Long = 1000000L): Column =
    call_function("bloom_agg", c, lit(estimatedNumItems))

  /** Membership probe against a bloom_agg sketch (codegen'd; false
    * positives at the sketch's fpp, never false negatives). */
  def bloom_might_contain(bloom: Column, value: Column): Column =
    call_function("bloom_might_contain", bloom, value)
}
