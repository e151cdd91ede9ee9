package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding clustering for corpus organization and semantic dedup.
  *
  * Lloyd's k-means over the embedding column, built to be deterministic and
  * bit-replayable by a SQL oracle:
  *
  *  - seeds: the k vectors with the smallest md5(vec_id) — an arbitrary but
  *    engine-independent spread (no RNG state);
  *  - all arithmetic is exact: vectors are fixed-pointed to integer
  *    micro-units and centroids are ROUNDED back to integer micro-units
  *    (cu = floor(sum_u/n + 0.5) per dim — the one deterministic rounding
  *    step, ≤0.5 micro-unit off the true mean). The assignment is the real
  *    Lloyd's argmin ‖v−c‖², scored as argmax 2·⟨v_u,c_u⟩ − ⟨c_u,c_u⟩:
  *    every dot is a sum of products of integers ≤1e6 over ≤64 dims
  *    (< 2^53), so the score is an exactly-representable integer and the
  *    argmax is IEEE-identical across engines. (Scoring against the raw
  *    sums — ⟨v_u,s_u⟩/n − ⟨s_u,s_u⟩/2n² — would be the unrounded Lloyd's,
  *    but ⟨s_u,s_u⟩ overflows 2^53 once clusters pass ~10⁴ members;
  *    rounding the centroid keeps exactness at any corpus size.)
  *  - argmax ties break on cluster id.
  *
  * Scale: per iteration ONE broadcast of the k centroids to the corpus (the
  * n·k assignment scores never shuffle) and one (cid, dim) shuffle of the
  * exploded members for the centroid update — linear in corpus size, same
  * shape as Spark MLlib's KMeans but with an oracle-checkable result.
  * Iterations truncate lineage with lazy localCheckpoints (one job total).
  */
object Clustering {

  /** Integer micro-units of a float vector, carried as array<double>
    * (exact: |x| ≤ ~1e6 « 2^53) so the native dot product applies directly.
    */
  def microVec(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1e6 + 0.5).cast("double"))

  /** Fixed-iteration Lloyd's assignment: (id, cluster) after `iters`
    * rounds, cluster = seed vector's id. Clusters that lose all members
    * simply disappear (no re-seeding), which the oracle replays.
    *
    * `k <= 0` — the DEFAULT — auto-sizes to ⌊√n⌋ (the IVF balance: assignment work
    * n^1.5, expected cluster size √n — the shape that keeps semDedup's
    * within-cluster pair mass at n^1.5 instead of n²/k; IEEE-exact
    * floor(sqrt) so a SQL oracle replays the choice). The per-point
    * argmax goes through the bounded-heap `topk_by` aggregate (same
    * (score desc, cid asc) tie contract as the row_number form it
    * replaces): map-side partials collapse each point's k assignment
    * rows before the exchange, so n rows shuffle instead of n×k.
    */
  def kmeansAssign(emb: DataFrame, k: Int = 0, iters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(iters > 0, "iters must be positive")
    val nCount = emb.count()
    val kk =
      if (k > 0) k
      else math.max(1L, math.sqrt(nCount.toDouble).toLong).toInt
    // micro-unit vectors materialized once: every iteration's assignment
    // and update read this frame
    val base = emb.select(col(idCol).as("id"), microVec(col(vecCol)).as("vu"))
      .localCheckpoint(eager = false)
    // r14 (§3.1, the loop family treatment): the assignment frame is
    // (id, cid) node grain — so broadcast it into the centroid update's
    // join when it fits and the heavy vector frame `base` streams from
    // its checkpoint with zero exchange. Gate off at scale ⇒ the old
    // shuffle join.
    // centroid frame: (cid, cu = micro-unit centroid, norm2 = ⟨cu,cu⟩);
    // seeds are their own centroid (n=1, rounding is identity)
    var cent = base
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(kk)
      .select(col("id").as("cid"), col("vu").as("cu"),
        graft.functions.dot_product(col("vu"), col("vu")).as("norm2"))
      .localCheckpoint(eager = false)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      // argmin ‖v−c‖² = argmax 2⟨v,c⟩ − ‖c‖² (the −‖c‖² term is what makes
      // this Euclidean k-means rather than max-inner-product partitioning)
      assigned = base.crossJoin(broadcast(cent))
        .withColumn("score",
          lit(2.0) * graft.functions.dot_product(col("vu"), col("cu")) - col("norm2"))
        .groupBy(col("id"))
        .agg(graft.functions.topk_by(col("score"), col("cid"), 1).as("top"))
        .select(col("id"), col("top").getItem(0).getField("nid").as("cid"))
        .localCheckpoint(eager = false)
      // centroid update: per-dim micro-unit sums + member count (exact),
      // mean rounded back to integer micro-units, rebuilt into a
      // broadcastable k-row array frame
      cent = graft.ops.Hints.broadcastIfRowsFit(assigned, nCount)
        .join(base, Seq("id"))
        .select(col("cid"), posexplode(col("vu")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
        .groupBy(col("cid"))
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("s"), col("cnt")))),
            // floor() yields LONG — cast back so cu stays array<double>
            // (the native dot product's input type, same as microVec)
            x => floor(x.getField("s") / x.getField("cnt") + lit(0.5)).cast("double")).as("cu"))
        .withColumn("norm2", graft.functions.dot_product(col("cu"), col("cu")))
        .localCheckpoint(eager = false)
    }
    assigned
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): k-means the
    * corpus, then WITHIN each cluster drop any vector that has a
    * smaller-id neighbour with dot product ≥ `threshold` (min-id greedy
    * keep, same representative convention as Dedup.dedupeByPairs).
    * NOTE: the criterion is the UNNORMALIZED dot product — it equals the
    * paper's cosine only for unit-norm embeddings (which TESTDATA's are);
    * pre-normalize or swap in Similarity.cosine for unnormalized input.
    * The cluster step is what makes the pairwise scan tractable:
    * candidate volume is Σ cluster², never n².
    */
  def semDedup(emb: DataFrame, k: Int, iters: Int, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeansAssign(emb, k, iters, idCol, vecCol)
    val m = assigned
      .join(emb.select(col(idCol).as("id"), col(vecCol).as("v")), Seq("id"))
      .localCheckpoint(eager = false)
    val dropped = m.as("a").join(m.as("b"),
        col("a.cid") === col("b.cid") && col("b.id") < col("a.id"))
      .withColumn("sim", Similarity.round6(
        Similarity.dot(col("a.v"), col("b.v"))))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("did"))
      .distinct()
    assigned
      .join(dropped, col("id") === col("did"), "left")
      .select(col("id"), col("cid").as("cluster"),
        col("did").isNotNull.as("dropped"))
  }

  /** BERTopic-style cluster labeling (c-TF-IDF, integer form): for each
    * cluster, the topK terms with the highest LIFT — in-cluster term rate
    * over corpus term rate, in exact integer ppm
    * `(tf·n·1e6) DIV (a_c·f_t)` — so the "what is this cluster about"
    * summary replays bit-for-bit in SQL (no log/libm).
    *
    * Plan shape: one (cluster, term)-grain count (map-combined), three
    * cheap rollups of THAT summary (never the corpus again — the
    * summary frame is lazily checkpointed and reused), a broadcast of
    * the 1-row total, and a window partitioned BY CLUSTER for ranks.
    * At 100 TB the only corpus-size shuffle is the first count.
    *
    * `minTf` drops rare terms whose lift is all noise (a term appearing
    * once has maximal lift in whichever cluster holds it).
    */
  def clusterTopTerms(assign: DataFrame, docTerms: DataFrame,
                      minTf: Long = 5, topK: Int = 5): DataFrame = {
    val ct = docTerms.join(assign, Seq("doc_id"))
      .groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    // rollups of ct share its lineage — rename join keys so the
    // analyzer's ambiguous-self-join check can't trip
    val ac = ct.groupBy(col("cluster").as("c2")).agg(sum(col("tf")).as("a_c"))
    val ft = ct.groupBy(col("term").as("t2")).agg(sum(col("tf")).as("f_t"))
    val nt = ct.agg(sum(col("tf")).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("lift_ppm").desc, col("term"))
    ct.filter(col("tf") >= minTf)
      .join(ac, col("cluster") === col("c2"))
      .join(ft, col("term") === col("t2"))
      .crossJoin(broadcast(nt))
      .withColumn("lift_ppm", expr("(tf * n * 1000000) DIV (a_c * f_t)"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("cluster"), col("term"), col("tf"), col("lift_ppm"),
        col("rank"))
      .orderBy(col("cluster"), col("rank"))
  }
}
