package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines,
  * composed from codegen'd built-ins (`org.apache.spark.sql.functions`)
  * so they stay inside whole-stage codegen and scale linearly with
  * partitions. The reference engine has no text operators (it delegates
  * everything to its embedded SQL engine); these extend the surface per
  * the build brief.
  */
object TextFunctions {

  /** Let-binding for expensive derived columns used inside lambda
    * expressions: evaluates `c` ONCE per row and passes the result as
    * a lambda variable. Catalyst's projection collapse inlines alias
    * references into higher-order-function bodies, so a derived array
    * referenced inside `transform(..., i -> f(arr, i))` is otherwise
    * RECOMPUTED per element — measured 244s → 0.7s on the winnowing
    * pipeline at 20k docs (quadratic blowup, not constant overhead;
    * SCALE.md "Round-3 additions"). */
  def bound(c: Column)(body: Column => Column): Column =
    element_at(transform(array(c), body), 1)

  /** Lowercased, whitespace-collapsed text. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** Distinct word n-gram shingles; short texts (< n tokens) yield one
    * whole-text shingle so they remain joinable. Native single-pass
    * expression ([[graft.functions.WordShingles]]) — the pure-builtins
    * composition re-evaluates the tokenize pipeline per shingle. */
  def wordShingles(c: Column, n: Int): Column =
    graft.functions.HashFunctions.word_shingles(c, n)

  /** xxhash64 of each token (input to simhash / minhash). */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16. ~2× the cost of xxhash64 (md5 + string slice) —
    * NOT the production path; it exists so hash-dependent operators
    * (simhash) can run with a hash that any SQL engine reproduces
    * (`CAST('0x' || substr(md5(t),1,15) AS BIGINT)` in DuckDB), making
    * their full pipeline oracle-checkable. 60 bits keep the value
    * positive in a signed int64 on every engine. */
  def portableTokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** NON-distinct word n-grams in order (corpus frequency profiling —
    * unlike [[wordShingles]], repeats are kept so counts are true
    * occurrence counts). Texts shorter than n tokens yield none. */
  def ngramList(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(toks, i + j + 1)): _*)))

  /** MinHash signature: `k` affine permutations over one base xxhash64,
    * all k minima tracked in a single pass over the shingle set (native
    * [[graft.functions.MinHashSig]] expression — a pure-builtins
    * composition re-evaluates the shingle pipeline per permutation).
    * Computed map-side; cost O(k·|shingles|) per row, no shuffle. */
  def minhashSignature(shingles: Column, k: Int, seed: Long): Column =
    graft.functions.HashFunctions.minhash_sig(shingles, k, seed)

  /** Heuristic language ID: CJK character ratio decides `zh`;
    * otherwise the language whose stopword profile hits the most
    * tokens (ties broken alphabetically); `und` when nothing hits.
    * Native single-pass expression ([[graft.functions.LangId]]) — the
    * Column composition re-tokenized the text once per profile. */
  def langId(text: Column): Column =
    graft.functions.HashFunctions.lang_id(text)

  /** All quality counts in one tokenization pass (struct of bigints:
    * n_tokens, n_distinct, sum_token_len, s_de/s_en/s_es/s_fr
    * stopword-profile hits, cjk chars). Ratios are composed outside so
    * rounding matches the DuckDB oracles exactly. */
  def textStats(text: Column): Column =
    graft.functions.HashFunctions.text_stats(text)

  /** Fraction of tokens that are (English) stopwords — a standard
    * quality signal. */
  def stopwordRatio(toks: Column): Column = {
    val stops = Seq("the", "a", "of", "and", "in", "to", "is", "that", "it", "for")
    round(size(filter(toks, t => t.isInCollection(stops)))
      .cast("double") / size(toks), 4)
  }

  /** Fraction of distinct tokens (low = repetitive/boilerplate text). */
  def distinctRatio(toks: Column): Column =
    round(size(array_distinct(toks)).cast("double") / size(toks), 4)

  /** Mean token length in characters. */
  def avgTokenLen(toks: Column): Column =
    round(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / size(toks), 4)

  /** BPE-ish subword count: alpha runs, digit runs, and individual
    * non-alnum symbols — a cheap, deterministic token-count proxy. */
  def bpeTokenCount(c: Column): Column =
    regexp_count(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
}
