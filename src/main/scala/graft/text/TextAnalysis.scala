package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting, shingling.
  *
  * Everything is built from codegen'd builtins (no UDFs) so the whole
  * stage stays inside WholeStageCodegen and scales linearly; each helper
  * has an exact SQL rendering for the DuckDB oracle (queries.TrainQueries).
  */
object TextAnalysis {

  /** Lower-cased alphanumeric word tokens. */
  def tokens(c: Column): Column = regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-word count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: letter runs, digit runs, single punctuation. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Language-marker stopword lists (tiny n-gram-heuristic language ID). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "wo"))

  /** Count of tokens within a marker list. */
  def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  private val langOrder = Seq("en", "es", "de", "fr", "zh")

  /** Heuristic language ID: arg-max of per-language marker counts with a
    * fixed tie-break order (en > es > de > fr > zh). Native single-pass
    * expression — the declarative rendering below re-evaluates the token
    * array per HOF reference (~25×/row interpreted).
    */
  def languageId(c: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(graft.functions.LangIdExpr(
      graftbridge.expression(tokens(c)), langOrder, langOrder.map(stopwords)))
  }

  /** Declarative rendering of the same arg-max (parity reference for the
    * oracle and LangIdExpr tests — do not use in hot paths).
    * Kept: declarative parity rendering of the native `lang_id`, pinned by
    * TrainSpec.
    */
  def languageIdDeclarative(c: Column): Column = {
    val t = tokens(c)
    val langs = langOrder
    val scores = langs.map(l => l -> markerCount(t, stopwords(l))).toMap
    langs.foldRight(lit("unknown"): Column) { (l, rest) =>
      val beatsLater = langs.dropWhile(_ != l).drop(1)
        .map(o => scores(l) >= scores(o)).reduceOption(_ && _).getOrElse(lit(true))
      val beatsEarlier = langs.takeWhile(_ != l)
        .map(o => scores(l) > scores(o)).reduceOption(_ && _).getOrElse(lit(true))
      when(scores(l) > 0 && beatsLater && beatsEarlier, lit(l)).otherwise(rest)
    }
  }

  /** Quality features: alpha ratio and stopword(en) ratio — each
    * deterministic arithmetic.
    */
  def alphaRatio(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]"), lit(0))) / greatest(length(c), lit(1))
  /** Stopword(en) ratio over an already-hoisted token-array ATTRIBUTE —
    * markerCount is an interpreted `filter` HOF that re-evaluates an
    * inlined array subtree per element (the repo's documented trap), so
    * hot paths hoist `tokens(c)` into a projection and pass the column
    * here.
    */
  def stopwordRatioOf(toks: Column): Column =
    markerCount(toks, stopwords("en")) / greatest(size(toks), lit(1))

  /** 4-decimal rounding that operates on the BINARY double:
    * floor(x·10⁴ + 0.5)/10⁴ evaluates identically in every engine.
    * Spark's `round` goes through the double's SHORTEST DECIMAL
    * REPRESENTATION (BigDecimal.valueOf), so a value printing as
    * "…5" rounds up in Spark while DuckDB rounds the slightly-smaller
    * binary value down — a hash mismatch that only surfaces when some
    * row lands exactly on the boundary (hit at sf0.1).
    */
  def round4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** Composite quality score in [0,1]: length saturation + stopword signal
    * + alpha density (weights fixed; SQL-mirrored in the oracle), with the
    * token array `toks` of `c` supplied as a hoisted attribute (see
    * [[stopwordRatioOf]]).
    */
  def qualityScoreOf(c: Column, toks: Column): Column =
    round4(
      least(size(toks) / lit(100.0), lit(1.0)) * 0.4 +
        least(stopwordRatioOf(toks) * lit(3.0), lit(1.0)) * 0.3 +
        alphaRatio(c) * 0.3)

  /** Document fingerprint: md5 over the normalized token stream. */
  def fingerprint(c: Column): Column = md5(concat_ws(" ", tokens(c)))

  /** Prefix fingerprint (first k tokens) — groups near-identical prefixes. */
  def prefixFingerprint(c: Column, k: Int): Column =
    md5(concat_ws(" ", slice(tokens(c), 1, k)))

  /** Zipf frequency-spectrum audit (companion to the Heaps'-law growth
    * curve): bucket the vocabulary by whole-bit log₂(term frequency)
    * and release, per level b, the tail count N(≥2^b) plus the
    * doubling-decrement ratio 1000·N(≥2^(b+1))/N(≥2^b). For a Zipf
    * corpus with exponent s the ratio sits near 1000·2^(−1/s) (≈500 at
    * s = 1) across mid levels; boilerplate/templating mass bulges the
    * high-b tail. All integer (`length(bin(f)) − 1` is floor-log₂ — no
    * libm), so the release is engine-exact and SQL-replayable.
    *
    * Scale: one vocab-grain count, then a ≤48-row spectrum; the
    * cumulative is the triangular tiny-frame join, never a global
    * window.
    */
  def zipfSpectrum(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val tf = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val spec = tf
      .select((length(bin(col("f"))) - 1).cast("int").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n_terms"))
    val spine = spark.range(48).select(col("id").cast("int").as("lvl"))
    val ge = spine.join(spec, col("b") >= col("lvl"))
      .groupBy(col("lvl")).agg(sum(col("n_terms")).as("n_ge"))
      .localCheckpoint(eager = false)
    ge.join(ge.select((col("lvl") - 1).as("lvl"),
        col("n_ge").as("n_ge_next")), Seq("lvl"), "left")
      .select(col("lvl"), col("n_ge"),
        coalesce(expr("n_ge_next * 1000 DIV n_ge"), lit(0L))
          .as("ratio_milli"))
  }

  /** Token n-gram shingles: array of space-joined n-grams (native
    * expression — the token array is evaluated once per row).
    */
  def shingles(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(
      graft.functions.NGramShinglesExpr(graftbridge.expression(tokens(c)), n))
  }

  /** Declarative rendering of the same shingles (parity/oracle reference;
    * re-tokenizes per element — do not use at scale).
    * Kept: declarative parity rendering of the native shingles, pinned by
    * TrainSpec.
    */
  def shinglesDeclarative(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** 64-bit SimHash from token md5s, one bit per md5 nibble-bit: dimension
    * d∈[0,64) uses nibble d/4, bit d%4; vote +1/-1 per token occurrence.
    * Returned as a 64-char bitstring (deterministic, SQL-mirrorable).
    * Uses the native one-md5-per-token expression (SimHashExpr).
    */
  def simhashBits(c: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(graft.functions.SimHashExpr(graftbridge.expression(tokens(c))))
  }

  /** Overlapping token-window chunking (the pre-tokenization split that
    * turns long documents into training sequences): windows of `window`
    * tokens starting on the `stride` grid, up to the last full-window
    * start (n-window+1). A tail shorter than the grid step is only
    * covered by its overlap with the previous window — standard
    * fixed-grid behavior; short docs yield one whole-doc chunk.
    * SQL-mirrorable (`generate_series(1, greatest(n-window+1, 1),
    * stride)` + slice).
    */
  def chunks(c: Column, window: Int, stride: Int): Column = {
    val toks = tokens(c)
    val starts = sequence(lit(1),
      greatest(size(toks) - lit(window - 1), lit(1)), lit(stride))
    transform(starts, s => concat_ws(" ", slice(toks, s, lit(window))))
  }

  /** Training-data scrubbing: emails → `<EMAIL>`, then URLs → `<URL>`,
    * then runs of ≥6 digits → `<NUM>` (ids, phone-ish numbers). Order
    * matters: the email pattern has no scheme so it must run before the
    * URL pass eats `user@host` fragments inside URLs; digit runs go last
    * so URL/email digits are already gone. Patterns stay in the
    * RE2 ∩ java.util.regex common subset so the DuckDB oracle replays
    * them verbatim.
    */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c,
          "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
        "https?://[^\\s]+", "<URL>"),
      "[0-9]{6,}", "<NUM>")

  /** Declarative rendering of the same signature (parity reference for the
    * oracle and SimHashExpr tests; 64× the hashing — do not use at scale).
    * Kept: declarative parity rendering of the native simhash bits, pinned
    * by TrainSpec.
    */
  def simhashBitsDeclarative(c: Column): Column = {
    val toks = tokens(c)
    val dims = sequence(lit(0), lit(63))
    val bits = transform(dims, d => {
      val nibbleIdx = floor(d / 4).cast("int") + 1   // 1-based hex char position
      val bitIdx = d % 4
      val denom = when(bitIdx === 0, 1).when(bitIdx === 1, 2)
        .when(bitIdx === 2, 4).otherwise(8)
      val votes = aggregate(toks, lit(0), (acc, t) => {
        val nibble = conv(md5(t).substr(nibbleIdx, lit(1)), 16, 10).cast("int")
        val bit = floor(nibble / denom).cast("int") % 2
        acc + (bit * 2 - 1)
      })
      when(votes > 0, lit("1")).otherwise(lit("0"))
    })
    concat_ws("", bits)
  }
}
