package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the training-data pipeline
  * operators (dedup, language-ID, quality scoring, fingerprinting).
  *
  * Everything here is built from Catalyst higher-order functions and
  * built-ins — no UDFs — so the expressions stay inside Catalyst
  * (prunable, pushable, and serializable into any plan shape), and the
  * same logic is expressible 1:1 in the DuckDB oracle SQL.
  *
  * Two hash families are provided for MinHash:
  *  - `md5` based (portable: identical in DuckDB, used by the
  *    oracle-checked queries);
  *  - `xxhash64` based (the 100 TB scale path: 8-byte hashes, no hex
  *    string materialization, ~10× cheaper than md5).
  */
object TextFunctions {

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** The engine's one stopword list — t02's quality score and c08's
    * weighted sampling must score from the SAME formula, so both
    * compose from here.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")

  /** Count of `toks` members inside a fixed word set. */
  def wordSetCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))

  /** The quality score (t02's formula, the c08 admission weight), from
    * precomputed integer signals: 0.3·stopword-ratio +
    * 0.4·min(1, chars/500) + 0.3·(1 − punct-ratio). Every term is a
    * ratio of exact integers, so both engines produce identical
    * doubles. Callers must guarantee nTokens ≥ 1 and nChars ≥ 1.
    */
  def qualityScore(
      nChars: Column, nTokens: Column, nStop: Column,
      nPunct: Column): Column =
    (nStop.cast("double") / nTokens) * 0.3 +
      least(lit(1.0), nChars.cast("double") / 500.0) * 0.4 +
      (lit(1.0) - nPunct.cast("double") / nChars) * 0.3

  /** The four integer quality SIGNALS (t02's profile columns, c08's
    * admission inputs) from a text column and its token array:
    * n_chars, n_tokens, n_stop, n_punct. Factored here so both
    * queries project literally the same expressions — and stay in
    * lockstep with the DuckDB side via [[sqlQualitySignals]].
    */
  def qualitySignals(text: Column, toks: Column): Seq[Column] = Seq(
    length(text).as("n_chars"),
    size(toks).as("n_tokens"),
    wordSetCount(toks, stopwords).as("n_stop"),
    size(filter(split(lower(text), ""),
      c => !c.rlike("[a-z0-9 ]") && length(c) > 0)).as("n_punct"))

  /** Distinct tokens in sorted order (a canonical token set). */
  def tokenSet(text: Column): Column =
    array_sort(array_distinct(tokens(text)))

  /** Word 3-shingles; documents with <3 tokens collapse to one shingle
    * of the whole token stream.
    */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ",
          element_at(toks, i),
          element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array(concat_ws(" ", toks)))

  /** 64-bit SimHash over a token array column named by `toksCol`.
    *
    * Classic scheme: per bit position, sum +1/-1 over token hashes,
    * then take the sign bit. Dispatches to the native [[Simhash64Xx]]
    * expression (the session must carry graft's table,
    * [[graft.GraftSession]]); the HOF form below is the executable spec DedupSpec pins it against.
    */
  def simhash64(toksCol: String): Column =
    Simhash.simhash64(org.apache.spark.sql.functions.col(toksCol))

  /** The original higher-order-function form of [[simhash64]]. */
  def simhash64Hof(toksCol: String): Column = expr(
    s"""aggregate(
          aggregate($toksCol,
            array_repeat(cast(0 as bigint), 64),
            (acc, t) -> zip_with(acc,
              transform(sequence(0, 63),
                i -> if((shiftright(xxhash64(t), i) & 1) = 1,
                        cast(1 as bigint), cast(-1 as bigint))),
              (a, b) -> a + b)),
          named_struct('i', 0, 'h', cast(0 as bigint)),
          (s, c) -> named_struct(
            'i', s.i + 1,
            'h', s.h + if(c >= 0, shiftleft(cast(1 as bigint), s.i),
                          cast(0 as bigint))),
          s -> s.h)""")

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** 60-bit SimHash from md5-derived token hashes — the
    * oracle-portable variant: token hash = first 15 md5 hex digits as
    * a 60-bit integer, reproducible in DuckDB via
    * `CAST('0x'||substr(md5(t),1,15) AS BIGINT)`.
    *
    * Dispatches to the native [[Simhash60Md5]] expression (one md5 +
    * counter loop per token inside codegen; the HOF form below is
    * interpreted at ~60 boxed ops per token and was the dominant cost
    * of d04/d11/st07). The session must carry graft's table
    * ([[graft.GraftSession]]); equivalence with the HOF is pinned by
    * DedupSpec.
    */
  def simhash60Md5(toksCol: String): Column =
    Simhash.simhash60(org.apache.spark.sql.functions.col(toksCol))

  /** The original higher-order-function form of [[simhash60Md5]] —
    * retained as the executable spec the native expression is tested
    * against (and as the 1:1 mirror of the DuckDB oracle SQL).
    */
  def simhash60Md5Hof(toksCol: String): Column = expr(
    s"""aggregate(
          aggregate(
            transform($toksCol,
              t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)),
            array_repeat(cast(0 as bigint), 60),
            (acc, h) -> zip_with(acc,
              transform(sequence(0, 59),
                i -> if((shiftright(h, i) & 1) = 1,
                        cast(1 as bigint), cast(-1 as bigint))),
              (a, c) -> a + c)),
          named_struct('i', 0, 'h', cast(0 as bigint)),
          (s, c) -> named_struct(
            'i', s.i + 1,
            'h', s.h + if(c >= 0, shiftleft(cast(1 as bigint), s.i),
                          cast(0 as bigint))),
          s -> s.h)""")

  // ------------------------------------------------------------------
  // Shared DuckDB oracle SQL fragments (kept next to the Spark
  // implementations above so the two stay in lockstep).
  // ------------------------------------------------------------------

  /** DuckDB: tokens CTE body over `documents` (null text excluded —
    * mirrors Dedup.shingleRows).
    */
  val sqlToks: String =
    """SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS tl
       FROM documents
       WHERE text IS NOT NULL"""

  /** DuckDB: the four quality signals as SELECT-list columns (the
    * mirror of [[qualitySignals]]; the stopword IN-list is rendered
    * from [[stopwords]], the single source of truth). `\\s` because
    * the s-interpolator processes escapes even in triple quotes.
    */
  val sqlQualitySignals: String = {
    val sw = stopwords.map(w => s"'$w'").mkString(",")
    s"""CAST(LENGTH(text) AS INT) AS n_chars,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> len(x) > 0)) AS INT) AS n_tokens,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x IN ($sw))) AS INT) AS n_stop,
            CAST(len(list_filter(string_split(lower(text), ''),
              x -> NOT regexp_matches(x, '[a-z0-9 ]') AND len(x) > 0))
              AS INT) AS n_punct"""
  }

  /** DuckDB: the quality formula over those signal columns (the
    * mirror of [[qualityScore]]).
    */
  val sqlQuality: String =
    """(CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
            + LEAST(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.4
            + (1.0 - CAST(n_punct AS DOUBLE) / n_chars) * 0.3"""

  /** DuckDB: 3-shingles from the `tl` token list. */
  val sqlShingles: String =
    """SELECT doc_id,
         CASE WHEN len(tl) >= 3
           THEN list_transform(range(1, len(tl) - 1),
                               i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
           ELSE [array_to_string(tl, ' ')] END AS sl
       FROM toks"""

  /** DuckDB: per-shingle Carter-Wegman base hashes [a, b] from two md5
    * hex prefixes (mirrors Dedup.minhashBands' `based` step).
    */
  val sqlBaseHashes: String =
    """SELECT doc_id,
         list_transform(sl, t -> [
           CAST('0x' || substr(md5('a ' || t), 1, 7) AS BIGINT),
           CAST('0x' || substr(md5('b ' || t), 1, 7) AS BIGINT)]) AS hs
       FROM sh"""

  /** DuckDB: 8×4 LSH bands from the `hs` base-hash pairs, as a list of
    * {i, h} structs: minhash_i = min (a + i*b) % 268435399.
    */
  val sqlBands: String =
    """SELECT doc_id,
         list_transform(range(0, 8), band -> {
           'i': band,
           'h': md5(array_to_string(
                  list_transform(range(0, 4), r ->
                    CAST(list_aggregate(
                      list_transform(hs, p ->
                        (p[1] + (band*4 + r) * p[2]) % 268435399),
                      'min') AS VARCHAR)),
                  '|'))}) AS bands
       FROM hb"""
}
