package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SentencePiece-style unigram subword segmentation: a corpus-trained
  * subword vocabulary with fixed-point log-frequency costs, and a
  * per-token Viterbi DP that picks the minimum-cost segmentation.
  *
  * Everything is exact integer arithmetic (the bit-length + linear-
  * mantissa log2 in 1/65536 units — no libm), so vocab costs, DP
  * values, and the chosen segmentations are engine- and partitioning-
  * invariant, and the DuckDB oracle replays the whole pipeline:
  * vocabulary selection, costs, and the DP unrolled position by
  * position.
  *
  * Scale shape: vocabulary training is one explode + count shuffle at
  * the substring grain; the trained vocab (≤ 36 chars + topN multis) is
  * collected and embedded as a LITERAL MAP, so segmentation itself is
  * ZERO-shuffle — a per-row unrolled DP over codegen'd `element_at`
  * lookups, the same broadcast-small-model shape as the k-means
  * centroid scoring. At 100 TB the corpus is scanned once for training
  * and once (map-side only) for segmentation.
  */
object Unigram {

  /** Max subword length considered (DP lookback). */
  val MaxSub = 4

  /** Words are truncated to this many chars before the DP — bounds the
    * unrolled expression count; corpus tokens are overwhelmingly
    * shorter.
    */
  val MaxWord = 12

  /** Exact fixed-point log2 in 1/65536 units: bit length + linear
    * mantissa — the same integer log surrogate as [[Importance]],
    * computed in Long arithmetic (x ≥ 1).
    */
  def lam(x: Long): Long = {
    val l = 63 - java.lang.Long.numberOfLeadingZeros(x)
    l.toLong * 65536 + (x * 65536) / (1L << l) - 65536
  }

  /** Train the vocabulary: all substrings of length 1..MaxSub of every
    * token occurrence, counted corpus-wide; the vocab keeps EVERY
    * single char (coverage guarantee — the DP can always fall back to
    * chars) plus the `topN` most frequent multi-char subwords
    * (freq desc, subword asc — fully deterministic). Returns
    * (sub, freq).
    */
  def trainVocab(docs: DataFrame, topN: Int,
                 textCol: String = "text"): DataFrame = {
    // substrings explode from the DISTINCT-token table with occurrence
    // weights, not from every token occurrence — identical frequencies,
    // ~10× fewer exploded rows (the corpus's token-type/token ratio)
    val subs = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(substring(col("tok"), 1, MaxWord).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("w"))
      .select(col("w"), explode(expr(
        s"""flatten(transform(sequence(1, $MaxSub), l ->
           |  filter(transform(sequence(1, $MaxWord), s ->
           |    IF(s + l - 1 <= length(tok), substring(tok, s, l), NULL)),
           |    x -> x IS NOT NULL)))""".stripMargin)).as("sub"))
      .groupBy(col("sub")).agg(sum(col("w")).as("freq"))
    val chars = subs.filter(length(col("sub")) === 1)
    val multis = subs.filter(length(col("sub")) > 1)
      .orderBy(col("freq").desc, col("sub")).limit(topN)
    chars.unionByName(multis)
  }

  /** Declarative parity rendering of the Viterbi DP (do not use in hot
    * paths — every (j, i) span probes the literal map via GetMapValue's
    * LINEAR entry scan; the hot path is `functions.unigram_seg`, pinned
    * equal by UnigramSpec): a chain of NAMED projection levels,
    * `b<i>` = min cost·16+count of segmenting the first i chars of
    * `wordCol` (count rides the low bits, so min(v) is min cost with a
    * fewest-pieces tiebreak), then `v` = b at the word's length.
    * Each level is its own column so the plan stays LINEAR — inlining
    * b(j) into its ≤MaxSub consumers would blow up 4^12 expression
    * nodes (CollapseProject keeps multi-referenced non-cheap
    * expressions materialized).
    * Kept: per-word segmentation value the unigram specs check `segmentDocs`
    * against.
    */
  def withSegmentValue(df: DataFrame, wordCol: String,
                       vocab: Map[String, Long]): DataFrame = {
    val INF = lit(1000000000000000L)
    val m = typedLit(vocab)
    // ANSI mode: element_at on a missing map key throws — try_element_at
    def look(j: Int, i: Int): Column =
      coalesce(try_element_at(m, substring(col(wordCol), j + 1, i - j)), INF)
    val withB = (1 to MaxWord).foldLeft(df.withColumn("b0", lit(0L))) {
      (d, i) =>
        val cands = (math.max(0, i - MaxSub) until i).map(j =>
          col(s"b$j") + look(j, i) * 16 + 1)
        d.withColumn(s"b$i",
          if (cands.length == 1) cands.head else least(cands: _*))
    }
    val len = length(col(wordCol))
    withB.withColumn("v",
        (1 to MaxWord).foldLeft(INF) { (acc, i) =>
          when(len === i, col(s"b$i")).otherwise(acc)
        })
      .drop((0 to MaxWord).map(i => s"b$i"): _*)
  }

  /** Per-document segmentation profile over the trained vocab:
    * (doc, n_toks, n_subwords, total_cost). Tokens are truncated to
    * MaxWord chars; segmentation is pure map-side (literal vocab map),
    * the only shuffle is the final doc-grain aggregation.
    */
  def segmentDocs(docs: DataFrame, vocab: Map[String, Long],
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col(idCol),
        graft.functions.unigram_seg(
          substring(col("tok"), 1, MaxWord), vocab, MaxSub, MaxWord).as("v"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        sum(expr("v % 16")).as("n_subwords"),
        sum(expr("v DIV 16")).as("total_cost"))

  /** Collect a trained (sub, freq) vocab frame and derive the unigram-LM
    * costs (sub → cost): cost = max(log2(T) − log2(freq), 1) in 1/65536
    * units with T = Σ vocab freqs — i.e. −log2 p(sub) under the
    * frequency-normalized unigram model. Driver-side exact Long
    * arithmetic over the ≤(36 + topN)-entry table.
    */
  def collectVocab(vocabDf: DataFrame): Map[String, Long] = {
    val rows = vocabDf.select(col("sub"), col("freq")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val lamT = lam(rows.map(_._2).sum)
    rows.map { case (s, f) => s -> math.max(lamT - lam(f), 1L) }.toMap
  }
}
