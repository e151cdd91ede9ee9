package graft.text

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** All-pairs similarity search (APSS) with prefix filtering — the EXACT
  * counterpart of MinHash-LSH candidate pruning (Bayardo/Ma/Srikant,
  * "Scaling Up All Pairs Similarity Search", WWW'07; Chaudhuri/Ganti/
  * Kaushik SSJoin, ICDE'06; Xiao et al. PPJoin, WWW'08). Where
  * `Dedup.jaccardPairs` self-joins EVERY shingle posting (the exhaustive
  * audit) and `Dedup.minhashLsh` trades recall for candidate volume, the
  * prefix filter keeps EXACT results while indexing only each document's
  * rarest few shingles — the sound pruning is what makes an exact
  * similarity join feasible at corpus scale.
  *
  * Similarity: binary cosine over DISTINCT n-gram shingle sets,
  * cos(A,B) = |A∩B| / √(|A|·|B|), thresholded at the RATIONAL t =
  * tNum/tDen so every pruning predicate and the final acceptance test
  * are integer-exact (`ov²·tDen² ≥ tNum²·|A|·|B|`); the only float is
  * the reported score (one √ + one ÷, correctly rounded IEEE ops).
  *
  * Sound pruning (no qualifying pair is ever lost):
  *  - size filter: cos ≥ t ⟹ t²·|A| ≤ |B| ≤ |A|/t²;
  *  - prefix filter: order every document's shingles by the GLOBAL
  *    (df, key) ascending total order. cos ≥ t ⟹ |A∩B| ≥ ⌈t²·|A|⌉, and
  *    two sets with overlap ≥ α must collide inside their first
  *    |X| − α + 1 elements under any shared total order, so indexing
  *    only the π = n − ⌈t²·n⌉ + 1 RAREST shingles of each doc (at
  *    t=4/5: ~36% of them, and specifically the smallest-df ones) finds
  *    every qualifying pair.
  *
  * Plan shape / 100 TB: one shingling pass (hashed 60-bit keys, never
  * strings — [[Dedup.shingleKey]]); df by one shingle-grain aggregate;
  * per-doc (df,key) ranking in one id-partitioned sorted window pass;
  * the candidate self-join meets only on PREFIX shingles, whose buckets
  * are the rare ones by construction (a df-heavy stop-shingle is pushed
  * out of the prefix of any doc that has ⌈t²·n⌉ rarer ones); exact
  * verification joins the bounded per-doc sorted-set arrays back at doc
  * grain. `maxDf` additionally hard-caps candidate bucket width for
  * degenerate corpora (boilerplate shingles shared by millions of docs):
  * prefix postings in wider buckets are dropped FROM CANDIDATE
  * GENERATION ONLY — exactness is preserved whenever every qualifying
  * pair still meets on some rarer prefix shingle, the same posture as
  * `minhashLsh(maxBucket=…)`, and `maxDf = 0` disables the cap (the
  * default: fully exact).
  */
object Apss {

  /** Exact thresholded cosine pairs over distinct n-gram shingle sets.
    *
    * @param n     shingle width (tokens)
    * @param tNum  threshold numerator   (t = tNum/tDen, in (0,1])
    * @param tDen  threshold denominator
    * @param maxDf candidate-bucket cap; 0 = no cap (fully exact)
    */
  def cosinePairs(docs: DataFrame, n: Int, tNum: Int, tDen: Int,
                  maxDf: Long = 0L, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val t2n = tNum.toLong * tNum   // t² numerator
    val t2d = tDen.toLong * tDen   // t² denominator

    val sh = graft.ops.Hints.spread(docs)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.shingles(col(textCol), n))).as("s"))
      .select(col("id"), Dedup.shingleKey(col("s")).as("sh"))
      .localCheckpoint(eager = false)

    val dfTbl = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))

    // per-doc global-order rank + size in ONE id-partitioned sorted pass
    val byDoc = Window.partitionBy(col("id"))
    val ranked = sh.join(dfTbl, "sh")
      .withColumn("pos", row_number().over(byDoc.orderBy(col("df"), col("sh"))))
      .withColumn("nsz", count(lit(1)).over(byDoc))
    // π = n − ⌈t²·n⌉ + 1, all integer: ⌈a/b⌉ = (a + b − 1) div b
    val need = (col("nsz") * t2n + lit(t2d - 1L)).divide(lit(t2d)).cast("long")
    val prefix = ranked
      .filter(col("pos") <= col("nsz") - need + lit(1L))
      .select(col("sh"), col("id"), col("nsz"))
    val prefixCapped =
      if (maxDf <= 0L) prefix
      else prefix.join(
        dfTbl.filter(col("df") <= maxDf).select(col("sh").as("shc")),
        col("sh") === col("shc"), "left_semi")

    // candidate generation: prefix-bucket self-join + size filter
    // (renamed sides — two-sided ops over shared lineage trip
    // DetectAmbiguousSelfJoin)
    val la = prefixCapped
      .select(col("sh").as("ka"), col("id").as("aid"), col("nsz").as("pna"))
    val lb = prefixCapped
      .select(col("sh").as("kb"), col("id").as("bid"), col("nsz").as("pnb"))
    val cand = la.join(lb,
        col("ka") === col("kb") && col("aid") < col("bid") &&
          col("pna") * t2n <= col("pnb") * t2d &&
          col("pnb") * t2n <= col("pna") * t2d)
      .select(col("aid"), col("bid")).distinct()

    // exact verification on the full sorted shingle-set arrays (doc grain)
    val sets = sh.groupBy(col("id"))
      .agg(sort_array(collect_list(col("sh"))).as("arr"),
        count(lit(1)).as("nsz"))
    cand
      .join(sets.select(col("id").as("aid"), col("arr").as("la"),
        col("nsz").as("na")), "aid")
      .join(sets.select(col("id").as("bid"), col("arr").as("lb"),
        col("nsz").as("nb")), "bid")
      // native merge-scan count over the two sorted key arrays — same
      // value as size(array_intersect(...)) (parity pinned in
      // FunctionsSpec) without building a hash set + materialized
      // intersection per pair
      .withColumn("ov", graft.functions.sorted_intersect_count(col("la"), col("lb")))
      .filter(col("ov") * col("ov") * t2d >= col("na") * col("nb") * t2n)
      .select(col("aid"), col("bid"), col("ov"), col("na"), col("nb"),
        TextAnalysis.round4(col("ov") / sqrt(col("na") * col("nb"))).as("cos_sim"))
  }
}
