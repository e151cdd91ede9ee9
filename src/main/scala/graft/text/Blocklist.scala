package graft.text

import graft.functions.AhoCorasickCountExpr
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge

/** Blocklist / term-watch scanning: per-document occurrence counts for a
  * dictionary of literal phrases in ONE text pass (native Aho-Corasick,
  * [[graft.functions.AhoCorasickCountExpr]]), with the declarative
  * k-scan rendering kept as the parity/oracle reference.
  */
object Blocklist {

  /** `array<long>` of per-pattern occurrence counts (all occurrences,
    * overlapping included), one automaton pass per row.
    */
  def counts(c: Column, patterns: Seq[String]): Column =
    graftbridge.column(AhoCorasickCountExpr(graftbridge.expression(c), patterns))

  /** Declarative parity rendering: one `replace` scan per pattern —
    * counts LEFT-TO-RIGHT NON-OVERLAPPING occurrences, which equals the
    * automaton's all-occurrence count exactly when no pattern has a
    * border (a proper prefix that is also a suffix). Do not use at
    * scale: k full scans of the text per row.
    * Kept: declarative parity rendering of the native Aho-Corasick counts,
    * pinned by AhoCorasickSpec.
    */
  def countsDeclarative(c: Column, patterns: Seq[String]): Column =
    array(patterns.map { p =>
      ((length(c) - length(call_function("replace", c, lit(p), lit(""))))
        / lit(p.length)).cast("long")
    }: _*)
}
