package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the large-scale training-data pipeline
  * surface (BASELINE.json north star): tokenization, normalization,
  * fingerprinting, quality scoring, language ID, shingling, and the
  * md5-derived hash family used by MinHash/SimHash.
  *
  * Everything here is a composition of built-in, codegen'd expressions —
  * per-row, shuffle-free, and engine-deterministic (no floating-point
  * accumulation), so each helper is safe to hash-compare against a SQL
  * oracle and runs at full scan speed on any data size.
  */
object TextFunctions {

  /** The ONE whitespace class every cross-engine regex uses (hostile
    * sweep r18). Java's `\s` is `[ \t\n\x0B\f\r]` but RE2's (DuckDB's
    * engine) omits U+000B — so any `\s` that appears on both sides of
    * an oracle pair silently diverges on vertical-tab-bearing text.
    * Writing the class out explicitly makes both engines parse the
    * identical set; `\x0B` is valid hex-escape syntax in Java and RE2
    * alike. Sites: [[tokens]], TextOracles.TOKS, the text-stats char
    * counts, SubwordRe, UrlRe, and the TrainingDataQueries token SQL.
    *
    * [[WsChars]] is the bare class BODY, exposed so derived classes
    * (TextStats.UrlRe's negated `[^...]`) can be built structurally —
    * `s"[^$WsChars]"` — instead of slicing brackets off WsRe with
    * `.tail`, which only formed a valid negated class because the
    * closing ']' happened to ride along (ADVICE r18). */
  val WsChars: String = " \\t\\n\\x0B\\f\\r"
  val WsRe: String = s"[$WsChars]"

  /** Whitespace tokens with ALL empty strings dropped (review r16 +
    * ADVICE r17): on an empty or whitespace-only document
    * `split(trim(text), ws+)` returns `[""]` in Spark AND DuckDB
    * alike, so every token-based statistic counted one phantom token
    * (n_tokens = 1, "" admitted as a vocabulary type into freq/idf
    * tables, fertility 0.0 instead of null) — and the mirrored oracle
    * agreed. The guard lives HERE and in TextOracles.TOKS so the two
    * engines drop it in lockstep.
    *
    * Implementation note: Spark's `trim` strips SPACES only, so text
    * edged by tabs/newlines ("\tfoo") still splits to a leading ""
    * — the r16 length-0 CASE missed that class while the oracles'
    * `list_filter(x -> x != '')` dropped it. `array_remove(_, "")`
    * removes every empty token exactly as list_filter does, and it is
    * a codegen'd binary expression — not a per-token higher-order
    * filter() (HOFs are CodegenFallback; this sits under every
    * token-based query's explode). */
  def tokens(c: Column): Column =
    array_remove(split(trim(c), WsRe + "+"), "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Lowercase, strip non-alphanumerics, collapse runs of whitespace —
    * the canonical form behind [[fingerprint]] and exact dedup. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Content fingerprint: md5 of the normalized text. Identical output in
    * DuckDB (`md5(...)` hex, lowercase) for oracle checks. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** First 8 md5 hex chars as a 32-bit-range long — the shared cheap hash
    * for MinHash/SimHash. md5 is bit-identical across engines, unlike
    * murmur-based hash()/xxhash64() which differ from DuckDB's hash(). */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** First 15 md5 hex chars as a 60-bit-range long — for gram identity
    * where 32 bits would collide at corpus scale (span dedup hashes one
    * gram per token position; at 10^9 positions a 32-bit key yields
    * millions of false cross-doc matches, a 60-bit key a handful).
    * 15 hex = 60 bits stays inside a signed long; DuckDB twin:
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles: n=1 gives the distinct-word set, n=2 bigrams…
    * Documents with fewer than n tokens yield an empty array — without
    * the guard, sequence(1, size-n+1) runs BACKWARDS for short docs
    * (Spark infers step -1).
    *
    * Shape matters enormously here: higher-order-function lambdas are
    * INTERPRETED (no codegen, no subexpression elimination), so a lambda
    * that references the token split re-runs the whole regex split per
    * element — the original element_at form cost ~34 s on 5000 docs at
    * sf0.1, 5 re-splits per shingle position. This form zips n shifted
    * slices of the tokens at TOP level (codegen'd, split evaluated once)
    * so the lambda only touches its own struct argument: same output,
    * ~6× faster, and safe no matter what column expression `c` is. */
  def shingles(c: Column, n: Int): Column = shinglesOf(tokens(c), n)

  /** [[shingles]] over an already-materialized token-array column — the
    * variant hot queries use so a memoized/cached token frame skips the
    * regex split entirely. */
  def shinglesOf(ts: Column, n: Int): Column = {
    if (n == 1) ts
    else {
      val m = size(ts) - lit(n - 1) // shingle positions
      val zipped = arrays_zip(
        (0 until n).map(o => slice(ts, lit(o + 1), m).as(s"t$o")): _*)
      when(size(ts) >= n,
        transform(zipped,
          s => concat_ws(" ", (0 until n).map(o => s.getField(s"t$o")): _*)))
        .otherwise(array().cast("array<string>"))
    }
  }

  /** One row per (id, n-gram shingle), built with ZERO higher-order
    * functions: tokens materialized as their own projection
    * (multi-referenced non-cheap alias — CollapseProject keeps it),
    * positions exploded, the shingle a top-level codegen'd
    * concat_ws(slice); output schema is (idCol, sh) only. The fastest
    * shingle shape measured (~100× the
    * interpreted-lambda form at sf0.1); the when-guard keeps short docs
    * out of sequence(), which runs BACKWARDS for start > stop. */
  def shingleRows(df: org.apache.spark.sql.DataFrame, n: Int,
                  idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    shingleRowsOf(df.select(col(idCol), tokens(col(textCol)).as("ts")), n, idCol)

  /** [[shingleRows]] over a pre-tokenized frame `(idCol, ts:
    * array<string>)` — lets the text-stats family share ONE token
    * materialization (TextStats.cachedDocTokens) instead of
    * re-splitting the corpus per query. */
  def shingleRowsOf(tokArr: org.apache.spark.sql.DataFrame, n: Int,
                    idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    tokArr
      .select(col(idCol), col("ts"),
        explode(when(size(col("ts")) >= n,
          sequence(lit(1), size(col("ts")) - lit(n - 1)))
          .otherwise(lit(null).cast("array<int>"))).as("i"))
      .select(col(idCol), concat_ws(" ", slice(col("ts"), col("i"), lit(n))).as("sh"))

  val EnStop: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von")
  val FrStop: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "de", "pour", "avec")
  val EsStop: Seq[String] = Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "con")

  private def hitCountOf(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isin(words: _*)))

  /** Fraction of tokens that are stopwords of the given list — `ts` is a
    * TOKEN ARRAY column. The *Of variants exist so hot queries can
    * materialize the token split once (invariant: a filter() lambda's
    * free references are re-evaluated interpreted; over a raw split
    * expression that re-runs the regex split per probe — measured ~25%
    * steady-state on langId, worse cold). */
  def stopwordRatioOf(ts: Column, words: Seq[String] = EnStop): Column =
    // nullif: a zero-token doc reads a NULL ratio — ANSI Spark throws
    // on /0 where DuckDB's division natively yields NULL (hostile r18)
    hitCountOf(ts, words) / nullif(size(ts), lit(0)).cast("double")

  /** N-gram-heuristic language ID over a token array: stopword-hit score
    * per language, deterministic argmax with fixed tie order
    * (en, de, es, fr), 'und' (undetermined) when nothing scores. */
  def langIdOf(ts: Column): Column = {
    // nullif: a zero-token doc scores NULL on every language — all four
    // CASE guards read false and it lands 'und', same as the oracle's
    // native /0 -> NULL (hostile sweep r18)
    val n  = nullif(size(ts), lit(0)).cast("double")
    val en = hitCountOf(ts, EnStop) / n
    val de = hitCountOf(ts, DeStop) / n
    val es = hitCountOf(ts, EsStop) / n
    val fr = hitCountOf(ts, FrStop) / n
    when(en > 0 && en >= de && en >= es && en >= fr, lit("en"))
      .when(de > 0 && de >= es && de >= fr, lit("de"))
      .when(es > 0 && es >= fr, lit("es"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("und"))
  }

  def langId(c: Column): Column = langIdOf(tokens(c))

  /** Composite quality score in [0,1]: length saturation (50 tokens),
    * stopword presence, and alphanumeric cleanliness. Weights mirror the
    * usual pretraining-filter shape; per-row IEEE arithmetic only.
    * `c` is the raw text (cleanliness is character-level), `ts` its
    * token array — pass a materialized array column in hot paths. */
  def qualityScoreOf(c: Column, ts: Column): Column = {
    val n = size(ts).cast("double")
    val lengthScore = least(n / 50.0, lit(1.0))
    // coalesce BEFORE least: a zero-token doc's stop ratio is NULL and
    // Spark's least() SKIPS nulls (it would read 1.0 — full stopword
    // credit for an empty doc); pin the component to 0 on both engines
    val stopScore   = least(coalesce(stopwordRatioOf(ts), lit(0.0)) * 5.0, lit(1.0))
    val cleanScore  = // nullif: ANSI throws on /0 for empty text
      length(regexp_replace(c, "[^a-zA-Z0-9 ]", "")).cast("double") / nullif(length(c), lit(0))
    lengthScore * 0.4 + stopScore * 0.3 + coalesce(cleanScore, lit(0.0)) * 0.3
  }
}
