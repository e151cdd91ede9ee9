package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
  * tokenizer-training loop a corpus pipeline runs before anything else.
  * Classic formulation: train on the WORD-FREQUENCY table (one row per
  * distinct word with its corpus count), repeatedly merging the most
  * frequent adjacent symbol pair.
  *
  * State is a delimited string per word — every symbol wrapped in single
  * spaces, so adjacent symbols meet with a double space ( " h  e  y " ).
  * A merge of (a,b) is then the literal replace of " a  b " with
  * " ab ": left-to-right, non-overlapping — exactly the greedy BPE merge
  * order, and identical in Spark and DuckDB, so the whole training loop
  * replays under the hash gate (the oracle unrolls rounds as chained
  * CTEs). Ties on the argmax pair break (count DESC, a, b).
  *
  * Scale shape: the ONE corpus-scale aggregation is the word-count
  * build; every round then works on the vocabulary table (distinct
  * words — millions of rows at web scale, not corpus-scale), with one
  * map-combined pair-count aggregate, a 1-row TakeOrdered argmax
  * broadcast back, and a columnar replace. No driver-side state beyond
  * the loop counter.
  */
object Bpe {

  /** " c1  c2  … " symbol string for a word. */
  private def charRepr(w: Column): Column =
    concat(lit(" "), array_join(regexp_extract_all(w, lit("."), lit(0)), "  "), lit(" "))

  /** (word, n) corpus frequency table → the learned merges:
    * (round, a, b, cnt), `rounds` rows.
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    trainWithVocab(docs, textCol, rounds)._1

  /** Train `rounds` merges AND return the segmented vocabulary —
    * (merges (round, a, b, cnt), vocab (w, n, repr)) where `repr` is the
    * word's post-merge delimited symbol string. Applying a trained
    * tokenizer is the same columnar replace chain as training, so the
    * encode side inherits training's determinism and replays under the
    * oracle gate (chained CTEs carrying `w` through each round).
    */
  def trainWithVocab(docs: DataFrame, textCol: String,
                     rounds: Int): (DataFrame, DataFrame) = {
    var vocab = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(col("w"), charRepr(col("w")).as("repr"), col("n"))
      .localCheckpoint(eager = false)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val pairs = vocab
        .select(split(trim(col("repr")), "  ").as("s"), col("n"))
        .filter(size(col("s")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(s)-1), j -> struct(s[j-1] AS a, s[j] AS b))"))
          .as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
      val best = pairs
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .select(lit(r).cast("int").as("round"), col("a"), col("b"), col("cnt"))
        .localCheckpoint(eager = false)
      merges = if (merges == null) best else merges.unionAll(best)
      vocab = vocab.crossJoin(broadcast(best))
        .select(col("w"), expr(
          "replace(repr, concat(' ', a, '  ', b, ' '), concat(' ', a, b, ' '))")
          .as("repr"), col("n"))
        .localCheckpoint(eager = false)
    }
    (merges, vocab)
  }

  /** Segment words with a learned merge list: replay the merges in
    * training order over the same delimited representation. Returns
    * (word, n_symbols) — the corpus token-inflation measure a tokenizer
    * change is judged by.
    * Kept: replays learned merges to measure token inflation; BpeSpec checks
    * the trainer with it.
    */
  def segment(words: DataFrame, wordCol: String,
              merges: Seq[(String, String)]): DataFrame = {
    val repr = merges.foldLeft(charRepr(col(wordCol))) { case (acc, (a, b)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(s" $a  $b "), s" $a$b ")
    }
    words.select(col(wordCol), size(split(trim(repr), "  ")).as("n_symbols"))
  }
}
