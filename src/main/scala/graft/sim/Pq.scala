package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) for approximate nearest
  * neighbour at memory scale: split the d-dim space into `m` subspaces,
  * learn a small codebook per subspace, store every vector as m one-byte
  * codes, and answer queries with asymmetric distance computation (ADC) —
  * a table lookup per subspace instead of a d-dim dot product.
  *
  * Determinism/oracle design (house rules):
  *  - vectors are fixed-pointed to integer micro-units
  *    ([[Clustering.microVec]]);
  *  - codebooks are SEEDED, not Lloyd-trained: the k codewords of every
  *    subspace are the subvectors of the k corpus vectors with smallest
  *    md5(vec_id) — engine-independent, replayable, and one Lloyd pass
  *    away from trained codebooks if quality ever warrants it;
  *  - every distance is exact integer arithmetic in doubles (sums of
  *    products of ≤2e6-magnitude integers over ≤16 dims « 2^53), so
  *    encodings, LUTs and ADC scores hash-match any engine bit-for-bit.
  *
  * Scale shape: the codebook is m·k rows and BROADCASTS; encoding is a
  * broadcast join + one map-combined aggregate at the (vector, subspace)
  * grain (no window sort); queries build an (nq · m·k)-row LUT (tiny);
  * the ADC join fans out to m rows per (query, neighbour) — the same
  * candidate volume as any ANN rescore, but each row costs a lookup, not
  * a d-dim dot product, and the per-query heap is the bounded topk_by.
  */
object Pq {

  /** Codebook: (s, cid, cw, norm2) for subspace s ∈ [0, m), codeword id =
    * seed vector's id, cw = that seed's s-th subvector (micro-units).
    */
  def codebook(micro: DataFrame, m: Int, subDim: Int, k: Int): DataFrame =
    micro
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k)
      .select(col("id").as("cid"), explode(expr(
        s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, slice(vu, s*$subDim+1, $subDim) AS cw))"))
        .as("e"))
      .select(col("e.s").as("s"), col("cid"), col("e.cw").as("cw"))
      .withColumn("norm2", graft.functions.dot_product(col("cw"), col("cw")))

  /** (id, s, sub) subvector rows for every vector. */
  private[sim] def subvectors(micro: DataFrame, m: Int, subDim: Int): DataFrame =
    micro.select(col("id"), explode(expr(
      s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, slice(vu, s*$subDim+1, $subDim) AS sub))"))
      .as("e"))
      .select(col("id"), col("e.s").as("s"), col("e.sub").as("sub"))

  /** Argmin-distance code assignment against a broadcast codebook:
    * (id, s, cid). Min-struct aggregate (map-combined) instead of a
    * row_number window — the broadcast join leaves rows scan-partitioned,
    * so the (id, s)-grain rollup is the only shuffle and it carries one
    * struct per subvector.
    */
  private[sim] def assign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("s"))
      .withColumn("score",
        lit(2.0) * graft.functions.dot_product(col("sub"), col("cw")) - col("norm2"))
      .groupBy(col("id"), col("s"))
      .agg(min(struct((-col("score")).as("ns"), col("cid"))).as("a"))
      .select(col("id"), col("s"), col("a.cid").as("cid"))

  /** One Lloyd round per subspace: codewords move to the micro-rounded
    * mean of their assigned subvectors (cu = ⌊Σ/n + ½⌋ per dim — same
    * exact-integer rounding as Clustering). Codewords that lose all
    * members drop out, as in kmeansAssign.
    */
  private[sim] def refine(sub: DataFrame, cb: DataFrame): DataFrame =
    assign(sub, cb)
      .join(sub, Seq("id", "s"))
      .select(col("s"), col("cid"), posexplode(col("sub")))
      .groupBy(col("s"), col("cid"), col("pos"))
      .agg(sum(col("col")).as("su"), count(lit(1)).as("cnt"))
      .groupBy(col("s"), col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("su"), col("cnt")))),
        x => floor(x.getField("su") / x.getField("cnt") + lit(0.5)).cast("double"))
        .as("cw"))
      .withColumn("norm2", graft.functions.dot_product(col("cw"), col("cw")))

  /** IVF-ADC (the IVFADC composition of Jégou et al. 2011 §IV): a coarse
    * inverted file restricts WHICH neighbours are scored — each query
    * probes its `nprobe` best coarse cells and only meets vectors whose
    * home cell (best coarse centroid, rank 1) is probed — and PQ-ADC
    * decides HOW each survivor is scored (m table lookups, never a d-dim
    * dot). This is the production memory-scale ANN shape: candidate
    * volume = Σ probed-cell sizes (cell-id shuffle), scoring cost = m
    * lookups per candidate against a broadcast-size LUT. Codes quantize
    * the RAW vectors against the seeded codebook (`lloydIters = 0`
    * equivalent); the residual refinement (codes on vector − coarse
    * centroid) keys the LUT by (query, cell) instead of (query) — same
    * plan shape, nprobe× more LUT rows — and is `residual = true`:
    * codes then quantize `vu − cv(home cell)` (exact micro-unit
    * subtraction), and each query builds one LUT per PROBED cell from
    * its residual against that cell, which is what makes PQ codes
    * dramatically tighter around coarse centroids in the paper. Coarse
    * assignment maximizes the exact integer micro-unit dot (unit-norm
    * corpus ⇒ cosine order), so the oracle replays every tie
    * bit-for-bit.
    */
  def ivfPqTopK(emb: DataFrame, centroidMod: Int = 0, nprobe: Int, dims: Int,
                m: Int, k: Int, topK: Int, queryMod: Int,
                residual: Boolean = false, lloydIters: Int = 0,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    // NOTE (r13): scan fan-out (Hints.spread) on `micro` was
    // measured same-JVM-A/B at +27%..3× SLOWER here — the pipeline's many
    // post-checkpoint stages each inherit the fanned partitioning and pay
    // per-task overhead that exceeds the encode compute. Deliberately
    // not applied.
    val micro = emb.select(col(idCol).as("id"), Clustering.microVec(col(vecCol)).as("vu"))
      .localCheckpoint(eager = false)
    // one count: materializes the micro checkpoint (the next stage needs
    // it anyway), sizes the auto coarse quantizer, and bounds the
    // query-grain broadcast gates below (nq ≤ n/queryMod + 1)
    val nCount = micro.count()
    val nqBound = BigInt(nCount / math.max(queryMod, 1) + 1)

    // coarse quantizer: every centroidMod-th vector; n×(n/centroidMod)
    // assignment via ONE broadcast (the deliberate BNLJ-cross of ivfTopK).
    // centroidMod <= 0 — the DEFAULT — is ⌊√n⌋ auto-sizing, same
    // rationale and same IEEE-exact SQL replay as Similarity.ivfTopK:
    // fixed mod makes the assignment leg n²/mod (495× at the r8 100×
    // probe), √n cells makes it n^1.5.
    val mod =
      if (centroidMod > 0) centroidMod.toLong
      else math.max(1L, math.sqrt(nCount.toDouble).toLong)
    val cents = micro.filter(pmod(col("id"), lit(mod)) === 0)
      .select(col("id").as("ccid"), col("vu").as("cv"))
    // top-nprobe cells per point via the bounded-heap aggregate (map-side
    // partial: n rows reach the exchange, not n×m — same rewrite and same
    // r8 100×-probe rationale as Similarity.ivfTopK; tie order
    // (cd desc, ccid asc) is topk_by's contract)
    val pruned = micro.crossJoin(broadcast(cents))
      .withColumn("cd", graft.functions.dot_product(col("vu"), col("cv")))
      .groupBy(col("id"))
      .agg(graft.functions.topk_by(col("cd"), col("ccid"),
        math.max(nprobe, 1)).as("top"))
      .select(col("id"), explode(col("top")).as("t"))
      .select(col("id"), col("t.nid").as("ccid"), col("t.rank").as("rnk"))
      .localCheckpoint(eager = false)
    val cells = pruned.filter(col("rnk") === 1)
      .select(col("id").as("nid"), col("ccid"))
    // r14 (guide §3.1 + verdict item 5): the probe list and the ADC LUT
    // are QUERY-BATCH-grain — nq·nprobe and nq·m·k rows, the frames the
    // paper's IVFADC explicitly keeps memory-resident — so broadcast them
    // (size-gated on the honest nq bound) instead of shuffling the
    // candidate stream against them: the probes⋈cells join then streams
    // the cell list in place, and the ADC join streams the pair×m code
    // rows against the broadcast LUT with ZERO exchange — at scale that
    // was the query's largest shuffle. Gates off ⇒ the old shuffle plan.
    val probes = graft.ops.Hints.broadcastIfRowsFit(
      pruned
        .filter(col("rnk") <= nprobe && pmod(col("id"), lit(queryMod)) === 0)
        .select(col("id").as("qid"), col("ccid")),
      nqBound * nprobe)
    val lutRows = nqBound * (if (residual) nprobe else 1) * m * k

    // residual mode quantizes vu − cv(home cell): exact micro-unit
    // subtraction, one home-cell join at corpus grain
    val base =
      if (!residual) micro
      else micro
        .join(cells.select(col("nid").as("id"), col("ccid")), Seq("id"))
        .join(cents, Seq("ccid"))
        .select(col("id"), zip_with(col("vu"), col("cv"), (a, b) => a - b).as("vu"))
        .localCheckpoint(eager = false)
    val sub = subvectors(base, m, subDim).localCheckpoint(eager = false)
    // `lloydIters` Lloyd rounds refine the seeded codebooks, same as
    // pqTopK — one broadcast assignment + one (s, cid, dim) rollup each
    var cb = codebook(base, m, subDim, k).localCheckpoint(eager = false)
    for (_ <- 1 to lloydIters)
      cb = refine(sub, cb).localCheckpoint(eager = false)
    val enc = assign(sub, cb).select(col("id").as("nid"), col("s"), col("cid"))

    val adcRows =
      if (!residual) {
        val lut = graft.ops.Hints.broadcastIfRowsFit(
          sub.filter(pmod(col("id"), lit(queryMod)) === 0)
            .join(broadcast(cb), Seq("s"))
            .select(col("id").as("qid"), col("s"), col("cid"),
              (graft.functions.dot_product(col("sub"), col("sub"))
                - lit(2.0) * graft.functions.dot_product(col("sub"), col("cw"))
                + col("norm2")).as("d")),
          lutRows)
        // a neighbour lives in exactly one cell (rnk = 1), so probe-cell
        // candidates are already pair-distinct — no dedup pass
        probes.join(cells, Seq("ccid")).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"))
          .join(enc, Seq("nid"))
          .join(lut, Seq("qid", "s", "cid"))
      } else {
        // one LUT per (query, PROBED cell): the query's residual against
        // that cell — nq·nprobe·m·k rows, still broadcast-size (gated)
        val lut = graft.ops.Hints.broadcastIfRowsFit(
          probes
            .join(micro.select(col("id").as("qid"), col("vu")), Seq("qid"))
            .join(cents, Seq("ccid"))
            .select(col("qid"), col("ccid"),
              zip_with(col("vu"), col("cv"), (a, b) => a - b).as("vu"))
            .select(col("qid"), col("ccid"), explode(expr(
              s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, slice(vu, s*$subDim+1, $subDim) AS sub))"))
              .as("e"))
            .select(col("qid"), col("ccid"), col("e.s").as("s"), col("e.sub").as("sub"))
            .join(broadcast(cb), Seq("s"))
            .select(col("qid"), col("ccid"), col("s"), col("cid"),
              (graft.functions.dot_product(col("sub"), col("sub"))
                - lit(2.0) * graft.functions.dot_product(col("sub"), col("cw"))
                + col("norm2")).as("d")),
          lutRows)
        probes.join(cells, Seq("ccid")).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"), col("ccid"))
          .join(enc, Seq("nid"))
          .join(lut, Seq("qid", "ccid", "s", "cid"))
      }

    adcRows
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("d")).as("adc"))
      .groupBy(col("qid"))
      .agg(graft.functions.topk_by(-col("adc"), col("nid"), topK).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nid").as("nid"),
        (-col("t.sim")).cast("long").as("adc"), col("t.rank").as("rank"))
  }

  /** PQ-ADC top-k for every `queryMod`-th vector: (qid, nid, adc, rank),
    * adc = Σ_s ‖q_s − codeword(code_s(n))‖² — exact integers, ties on
    * neighbour id. `lloydIters` Lloyd rounds refine the seeded codebooks
    * (each round = one broadcast assignment + one (s,cid,dim) rollup).
    */
  def pqTopK(emb: DataFrame, dims: Int, m: Int, k: Int, topK: Int, queryMod: Int,
             lloydIters: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    // no scan fan-out here — same measured finding as ivfPqTopK above
    val micro = emb.select(col(idCol).as("id"), Clustering.microVec(col(vecCol)).as("vu"))
      .localCheckpoint(eager = false)
    // one count: materializes the checkpoint and bounds the LUT broadcast
    val nqBound = BigInt(micro.count() / math.max(queryMod, 1) + 1)
    var cb = codebook(micro, m, subDim, k).localCheckpoint(eager = false)
    val sub = subvectors(micro, m, subDim).localCheckpoint(eager = false)
    for (_ <- 1 to lloydIters)
      cb = refine(sub, cb).localCheckpoint(eager = false)

    val enc = assign(sub, cb).select(col("id").as("nid"), col("s"), col("cid"))

    // per-query distance LUT: nq · m·k rows — broadcast when it fits
    // (r14, guide §3.1: ADC = broadcast lookup table + streamed codes;
    // the enc⋈lut shuffle of n·m code rows disappears). Gate off ⇒ the
    // old shuffle join.
    val lut = graft.ops.Hints.broadcastIfRowsFit(
      sub.filter(pmod(col("id"), lit(queryMod)) === 0)
        .join(broadcast(cb), Seq("s"))
        .select(col("id").as("qid"), col("s"), col("cid"),
          (graft.functions.dot_product(col("sub"), col("sub"))
            - lit(2.0) * graft.functions.dot_product(col("sub"), col("cw"))
            + col("norm2")).as("d")),
      nqBound * m * k)

    // ADC: m lookup rows per (query, neighbour); exact-integer sum
    enc.join(lut, Seq("s", "cid"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("d")).as("adc"))
      .groupBy(col("qid"))
      .agg(graft.functions.topk_by(-col("adc"), col("nid"), topK).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nid").as("nid"),
        (-col("t.sim")).cast("long").as("adc"), col("t.rank").as("rank"))
  }
}
