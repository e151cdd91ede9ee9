package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Line-level corpus deduplication (the CCNet / RefinedWeb shape): hash
  * every line, keep only the FIRST occurrence corpus-wide (ordered by
  * (doc_id, line index)), and report per document how much survived.
  * Boilerplate — navigation chrome, cookie banners, repeated headers —
  * repeats across pages and is exactly what this removes while exact
  * whole-doc dedup sees distinct documents.
  *
  * The synthetic corpus has no newlines, so the line unit here is a
  * fixed window of `lineTokens` normalized tokens (documented stand-in;
  * on a real corpus pass text split on '\n' through the same pipeline).
  *
  * Scale shape: explode is linear in token count; first-occurrence is a
  * groupBy(line-hash) min-struct — map-side partial min, one shuffle at
  * the line-hash grain, NO window sort over the corpus — then an
  * equi-join back on the hash and a per-doc rollup. Nothing pairwise.
  */
object LineDedup {

  /** (id, idx, line) rows: consecutive `lineTokens`-token windows. */
  def docLines(docs: DataFrame, idCol: String, textCol: String,
               lineTokens: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, cast(floor((size(t)-1)/$lineTokens) as int))," +
          s" i -> concat_ws(' ', slice(t, i*$lineTokens+1, $lineTokens)))")))
      .select(col("id"), col("pos").as("idx"), col("col").as("line"))

  /** Per-doc retention profile after corpus-wide keep-first line dedup:
    * (id, n_lines, n_kept, kept_frac, retained_fp) where retained_fp is
    * the md5 fingerprint of the surviving text (kept lines in order).
    */
  def lineDedupProfile(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", lineTokens: Int = 8): DataFrame = {
    val lines = docLines(docs, idCol, textCol, lineTokens)
      .withColumn("h", md5(col("line")))
      .localCheckpoint(eager = false)
    // first corpus occurrence of each distinct line: min (doc, idx) pair
    val first = lines.groupBy(col("h"))
      .agg(min(struct(col("id"), col("idx"))).as("f"))
      .select(col("h"), col("f.id").as("fid"), col("f.idx").as("fidx"))
    val marked = lines.join(first, Seq("h"))
      .withColumn("kept", col("id") === col("fid") && col("idx") === col("fidx"))
    val perDoc = marked.groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        // surviving text, in original order (array_sort on (idx, line)
        // structs is deterministic; idx is unique per doc)
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("idx"), col("line"))))),
          x => x.getField("line")))).as("retained_fp"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(coalesce(col("n_lines"), lit(0L)) === 0, lit(0.0))
          .otherwise(TextAnalysis.round4(col("n_kept") / col("n_lines")))
          .as("kept_frac"),
        coalesce(col("retained_fp"), md5(lit(""))).as("retained_fp"))
  }
}
