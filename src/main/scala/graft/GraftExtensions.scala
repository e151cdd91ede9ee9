package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for graft's custom expressions. Register with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`, then:
  *
  * {{{
  *   SELECT percent_encode(path),
  *          replace_first(path, 'data/', 'file:/B/S/'),
  *          dot_product(a, b),
  *          minhash_sig(shingles, 12),
  *          simhash64(tokens),
  *          ngram_shingles(tokens, 3),
  *          lsh_sig(vec, 8, 4, 64)
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(
        classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "", "", "", "scala_udf"), builder))
    }
    // optimizer rewrite: un-thresholded levenshtein comparisons in
    // Filter/Join conditions take the banded early-abandon form
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinGuardRule)
  }
}

object GraftExtensions {
  /** The one function table: (SQL name, usage, builder) — both the
    * injected (`apply`) and the live (`register`) paths iterate it.
    */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("percent_encode", "RFC-3986 path quote keeping ':' and '/'",
      args => PercentEncodeExpr(args.head)),
    ("replace_first", "replace first literal occurrence",
      args => ReplaceFirstExpr(args(0), args(1), args(2))),
    ("dot_product", "sequential dot product of two numeric arrays",
      args => DotProductExpr(args(0), args(1))),
    ("minhash_sig", "k-seed MinHash signature of a shingle array",
      args => MinHashSigExpr(args(0), intArg(args(1), "k"))),
    ("minhash_int_sig",
      "integer MinHash signature (one md5 per shingle + Carter-Wegman mixes)",
      args => MinHashIntSigExpr(args(0), intArg(args(1), "k"))),
    ("oph_minhash_sig",
      "one-permutation MinHash signature (rotation-densified, no md5)",
      args => OphMinHashSigExpr(args(0), intArg(args(1), "k"))),
    ("simhash64", "64-bit SimHash bitstring of a token array",
      args => SimHashExpr(args.head)),
    ("ngram_shingles", "token n-gram shingles",
      args => NGramShinglesExpr(args(0), intArg(args(1), "n"))),
    ("lsh_sig", "multi-table hyperplane LSH bucket signatures",
      args => LshSigExpr(args(0), intArg(args(1), "tables"),
        intArg(args(2), "planes"), intArg(args(3), "dims"))),
    ("nfc_normalize", "Unicode NFC normalization (UAX #15)",
      args => NfcNormalizeExpr(args.head)),
    ("topk_by", "bounded-heap top-k aggregate: array<struct<nid,sim,rank>>",
      args => TopKByDescExpr(args(0), args(1),
        intArg(args(2), "k")).toAggregateExpression()),
    ("misra_gries",
      "Misra-Gries frequent-items candidates: array<struct<item,est>>",
      args => MisraGriesAgg(args(0), intArg(args(1), "k")).toAggregateExpression()),
    ("cdc_chunks", "content-defined chunk spans (md5-window boundary rule)",
      args => CdcChunksExpr(args(0), intArg(args(1), "w"))),
    ("tar_explode",
      "generator: one row (name, bytes, mtime, is_dir) per tar(.gz) entry",
      args => TarExplodeExpr(args)),
    ("ac_counts", "Aho-Corasick multi-pattern occurrence counts: array<long>",
      args => AhoCorasickCountExpr(args(0), stringsArg(args(1), "patterns"))))

  /** Register the same functions into an ALREADY-RUNNING session (e.g. a
    * notebook or test session created without `withExtensions`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    org.apache.spark.sql.graftbridge.addOptimization(
      spark, graft.plans.LevenshteinGuardRule)
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringsArg(e: Expression, what: String): Seq[String] = e match {
    case a if a.foldable &&
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
      a.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"$what must be a foldable string array, got $other")
  }
}
