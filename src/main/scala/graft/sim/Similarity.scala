package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline is brute-force cosine via codegen'd array lambdas (no UDFs);
  * the scale path buckets vectors with random-hyperplane LSH so the join
  * shuffles on bucket signature instead of going quadratic. Embeddings in
  * TESTDATA are unit-norm, so cosine ≡ dot product.
  */
object Similarity {

  /** Deterministic sequential dot product (native expression — see
    * graft.functions.DotProductExpr; same left-to-right double accumulation
    * as `aggregate(zip_with(...))` but one tight loop per pair).
    */
  def dot(a: Column, b: Column): Column = graft.functions.dot_product(a, b)

  /** Auto-sized hyperplane count: the smallest p with 2^p ≥ ⌈n /
    * targetOccupancy⌉ cells, i.e. expected bucket occupancy ≤
    * `targetOccupancy` AT ANY n — per-point candidate volume stays
    * ~tables × targetOccupancy, linear in n. Integer-exact counting form
    * (count of p with 2^p < cells == ⌈log2 cells⌉) — the same rendering
    * the `*_auto` SQL oracles replay, no float log2 at power-of-two
    * edges on either side. `planes > 0` passes through (the explicit
    * fixed-parameter opt-in for paper-replay audits).
    */
  private def resolvePlanes(emb: DataFrame, planes: Int, targetOccupancy: Int): Int =
    if (planes > 0) planes
    else {
      require(targetOccupancy >= 1, s"targetOccupancy must be >= 1, got $targetOccupancy")
      val n = emb.count()
      val cells = (n + targetOccupancy - 1) / targetOccupancy
      math.max(1, (0 until 62).count(p => (1L << p) < cells))
    }

  /** Skew guard on the (table, bucket) grain the candidate joins shuffle
    * on: drop every row of a bucket holding more than `maxBucket`
    * signatures — such a bucket is Σ bucket² candidate mass with no
    * top-k value (its members hold ≫k near-ties in the OTHER tables).
    * The oversized set is computed with a map-combined count and removed
    * with a broadcast left-anti join: tiny by construction (≤ n/maxBucket
    * buckets can exceed the cap), so no full window sort over the
    * exploded signature frame. `Int.MaxValue` = exact opt-in, no pass.
    */
  private def dropOversizedBuckets(sig0: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) sig0
    else {
      val hot = sig0.groupBy(col("table"), col("bucket"))
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") > maxBucket)
        .select(col("table"), col("bucket"))
      sig0.join(broadcast(hot), Seq("table", "bucket"), "left_anti")
    }

  /** Cell-grain twin of [[dropOversizedBuckets]] for IVF membership
    * frames (one `cid` key instead of (table, bucket)): drop every
    * membership row of a cell wider than `maxCell`. Same map-combined
    * count + broadcast left-anti plan; `Int.MaxValue` = no pass.
    */
  private def dropOversizedCells(memb: DataFrame, maxCell: Int): DataFrame =
    if (maxCell == Int.MaxValue) memb
    else {
      val hot = memb.groupBy(col("cid"))
        .agg(count(lit(1)).as("cn"))
        .filter(col("cn") > maxCell)
        .select(col("cid"))
      memb.join(broadcast(hot), Seq("cid"), "left_anti")
    }

  /** 6-decimal rounding on the BINARY double (floor(x·10⁶+0.5)/10⁶):
    * engine round() disagrees on representation-boundary rows — see
    * TextAnalysis.round4.
    */
  def round6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** All pairs (i<j) with dot ≥ threshold — embedding near-dup detection.
    *
    * Pairs are enumerated by triangle blocking: rows hash into `blocks`
    * buckets and only block pairs (bi ≤ bj) meet, via an equi-join on the
    * block-pair id (hash join, not a nested-loop over the full cross
    * product with an i<j post-filter — half the candidate pairs and a
    * better join operator). Exact same result set; `lshTopK` is the
    * approximate path when even n²/2 is prohibitive.
    * Kept: exact embedding near-dup baseline the LSH/IVF paths are checked
    * against in TrainSpec.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   blocks: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val blockPairs = (for { bi <- 0 until blocks; bj <- bi until blocks }
      yield (bi, bj)).toDF("ba", "bb")
    val a = emb.select(col(idCol).as("i"), col(vecCol).as("va"),
      pmod(hash(col(idCol)), lit(blocks)).as("ba"))
    val b = emb.select(col(idCol).as("j"), col(vecCol).as("vb"),
      pmod(hash(col(idCol)), lit(blocks)).as("bb"))
    a.join(broadcast(blockPairs), Seq("ba"))
      .join(b, Seq("bb"))
      .filter((col("ba") =!= col("bb")) || (col("i") < col("j")))
      // dot is IEEE-commutative elementwise, so orientation doesn't affect
      // bit-parity with the oracle
      .withColumn("sim", round6(dot(col("va"), col("vb"))))
      .filter(col("sim") >= threshold)
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"), col("sim"))
  }

  /** Scale path for near-dup detection: hyperplane-LSH bucket candidates
    * (OR-amplified over `tables` tables) + exact re-score of candidates
    * only. The candidate join shuffles on (table, bucket) — cost is
    * Σ bucket² per table, never n²/2 — and the md5-parity hash family is
    * data-independent, so a SQL oracle can replay the exact same candidate
    * set (deterministic approximate result). `nearDupPairs` stays as the
    * exact recall oracle: with the default (24 tables × 4 planes) the
    * measured recall at sim ≥ 0.45 is 7/7 (sf0.001), 14/14 (sf0.01) and 144/144 (sf0.1),
    * pinned in SimilaritySpec.
    *
    * Σ bucket² is only sub-quadratic when the bucket count TRACKS n:
    * with `planes` fixed the candidate join degrades to n²/2^planes —
    * the r8 100× embedding-growth probe DNF'd this path at planes=4 /
    * 200k vectors (16 cells/table filled the disk with candidate
    * shuffle). `planes <= 0` — the DEFAULT — auto-sizes exactly like
    * [[lshTopK]] (smallest p with 2^p ≥ ⌈n/targetOccupancy⌉ — candidate
    * volume ~tables × targetOccupancy per point, linear in n), and
    * `maxBucket` (default 4096) drops pathological skew-buckets before
    * the pair join; exact mode is the explicit (`planes > 0`,
    * `maxBucket = Int.MaxValue`) opt-in.
    */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double,
                      tables: Int = 24, planes: Int = 0, dims: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      maxBucket: Int = 4096, targetOccupancy: Int = 64): DataFrame = {
    val nPlanes = resolvePlanes(emb, planes, targetOccupancy)
    // NOTE (r13): scan fan-out (Hints.spread) on the signature
    // leg measured neutral-to-slower same-JVM-A/B across the five gates on
    // this path (e.g. emb_near_dup 1.91 → 2.46 s) — the sign-dots are
    // cheap relative to the fanned stages' per-task overhead. Not applied.
    val sig0 = emb.select(col(idCol).as("id"),
      posexplode(graft.functions.lsh_sig(col(vecCol), tables, nPlanes, dims)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      // materialize before the self-join: exchange reuse does not fire for
      // the two aliased sides, so without this the signature subtree (and
      // its shuffle) runs twice — measured 3.8 s → 2.5 s at sf0.1
      .localCheckpoint(eager = false)
    // skew guard on the same (table, bucket) grain the join shuffles on
    val sig = dropOversizedBuckets(sig0, maxBucket)
    // vectors ride the SIGNATURE rows (tables·n rows, not one per pair)
    // and the dot is computed inside the bucket join's projection: the
    // pair-grain shuffle carries only (i, j, sim) and the threshold
    // prunes BEFORE the distinct. Re-attaching vectors per PAIR shipped
    // ~0.5 KB × |cand| through two joins — the shape the r10 100× bitext
    // probe measured at 45 GB of scratch. A pair co-occurring in several
    // tables computes its (deterministic) dot once per co-occurrence;
    // dots are codegen'd and cheap next to pair-grain vector shuffles,
    // and (i, j, sim)-distinct ≡ (i, j)-distinct.
    val kv = sig.join(
        emb.select(col(idCol).as("id"), col(vecCol).as("vv")), Seq("id"))
      .localCheckpoint(eager = false)
    kv.as("a").join(kv.as("b"),
      col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        round6(dot(col("a.vv"), col("b.vv"))).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** IVF-style ANN: coarse-quantize against a deterministic sampled
    * centroid set (every `centroidMod`-th vector — SQL-replayable; real
    * deployments swap in k-means-trained centroids, the plan shape is
    * identical), assign every vector to its best cell via ONE broadcast of
    * the m ≪ n centroids, probe each query's top `nprobe` cells, and
    * rescore exactly inside probed cells with the bounded-heap top-k
    * aggregate. Cost: n·m assignment dots + Σ probed-cell sizes — the
    * candidate join shuffles on cell id, never n².
    */
  def ivfTopK(emb: DataFrame, centroidMod: Int = 0, nprobe: Int, k: Int, queryMod: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // centroidMod <= 0 — the DEFAULT — auto-sizes to ⌊√n⌋ (cells ≈ √n):
    // a FIXED mod keeps per-cell occupancy constant but grows the
    // centroid table linearly, so the n×m assignment leg is n²/mod —
    // the r8 100× embedding-growth probe measured 1052× on the fixed
    // mod vs 68-116× on auto. √n cells is the
    // classic IVF balance: assignment n^1.5, probe volume nprobe·√n per
    // query. floor(sqrt) is IEEE-exact for n ≪ 2^52, so the SQL oracle
    // replays the choice bit-for-bit.
    // one job: the row count and the longest vector (probe bound below)
    val stats = emb.agg(count(lit(1)), coalesce(max(size(col(vecCol))), lit(0))).head()
    val nCount = stats.getLong(0)
    val mod =
      if (centroidMod > 0) centroidMod.toLong
      else math.max(1L, math.sqrt(nCount.toDouble).toLong)
    val cents = emb.filter(pmod(col(idCol), lit(mod)) === 0)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    // the BroadcastNestedLoopJoin-Cross in this plan IS the n×m assignment
    // step (m ≪ n centroids broadcast) — deliberate, not a missing join key.
    // Top-nprobe cells per point via the bounded-heap aggregate: the
    // crossJoin emits a point's m assignment rows consecutively, so the
    // map-side partial collapses them to ONE heap row before the exchange
    // — n rows shuffled, not n×m (the row_number window this replaces
    // sorted the full n×m mass through one exchange; at the r8 100×
    // embedding-growth probe that was 1.08B rows and the query DNF'd).
    // Tie order (d desc, cid asc) is topk_by's (score desc, id asc).
    val ranked = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("d", round6(dot(col("v"), col("cv"))))
    // materialize the pruned assignment ONCE (lazy checkpoint) — cells and
    // probes both branch off it, and without this the n·m assignment
    // subtree is evaluated twice
    val pruned = ranked.groupBy(col("id"))
      .agg(graft.functions.topk_by(col("d"), col("cid"), math.max(nprobe, 1)).as("top"))
      .select(col("id"), explode(col("top")).as("t"))
      .select(col("id"), col("t.nid").as("cid"), col("t.rank").as("rnk"))
      .localCheckpoint(eager = false)
    // vectors ride the MEMBERSHIP rows (≤ nprobe per vector, n for the
    // cell side) and the dot is computed inside the cell join's
    // projection, so no pair-grain shuffle ever carries a vector (see
    // [[nearDupPairsLsh]] — per-pair re-attach was the 0.5 KB × |cand|
    // shuffle shape). A (qid, nid) pair can only meet in ONE cell (cells
    // are top-1 assignments), so no distinct is needed before the heap.
    val vecs = emb.select(col(idCol).as("vid"), col(vecCol).as("vv"))
    val cells = pruned.filter(col("rnk") === 1)
      .join(vecs, col("id") === col("vid"))
      .select(col("id").as("nid"), col("cid"), col("vv").as("nv"))
    // r14 (guide §3.1): the probe frame is QUERY-BATCH grain (nq·nprobe
    // rows, vectors at the longest's length) — broadcast it when it fits
    // so the n-row cell side streams in place instead of being re-shuffled
    // by cid; gate off (large query batches) ⇒ the old shuffle join
    val probes = graft.ops.Hints.broadcastIfRowsFit(
      pruned
        .filter(col("rnk") <= nprobe && pmod(col("id"), lit(queryMod)) === 0)
        .join(vecs, col("id") === col("vid"))
        .select(col("id").as("qid"), col("cid"), col("vv").as("qv")),
      BigInt(nCount / math.max(queryMod, 1) + 1) * nprobe, stats.getInt(1))
    probes
      .join(cells, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), round6(dot(col("qv"), col("nv"))).as("sim"))
      .groupBy(col("qid"))
      .agg(graft.functions.topk_by(col("sim"), col("nid"), k).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nid").as("nid"), col("t.sim").as("sim"),
        col("t.rank").as("rank"))
  }

  /** Group centroids (mean pooling) in fixed-point: per (group, dim) the
    * micro-unit sum and member count — sum+count determine the centroid
    * exactly and dodge float summation-order drift (integer addition is
    * associative; a double mean would hash differently run to run).
    * One explode + one shuffle on (group, dim).
    */
  def groupCentroids(emb: DataFrame, groupCol: Column,
                     vecCol: String = "embedding"): DataFrame =
    emb.select(groupCol.as("grp"), posexplode(col(vecCol)))
      .withColumnRenamed("pos", "dim")
      .groupBy(col("grp"), col("dim"))
      .agg(sum(floor(col("col").cast("double") * 1e6 + 0.5).cast("long")).as("sum_u"),
        count(lit(1)).as("n"))

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions with
    * a deterministic ±1 sign matrix (sign(o,i) = +1 iff the first hex
    * digit of md5("rp:o:i") < 8 — the Achlioptas binary-coin variant, so
    * the oracle rebuilds the matrix in SQL). Components are micro-unit
    * integers, so every projected value is an EXACT 64-bit sum —
    * partitioning/merge-order invariant, same value in any engine. The
    * sign matrix is baked in as ONE array literal and each output dim is
    * a zip_with/aggregate fold over it — the r12 build unrolled the
    * outDims×inDims terms into a static codegen'd sum instead, but at
    * 16×64 that is a 1024-term expression tree whose Janino compilation
    * dominated the query (r13 opt, guide §1.2 "per-task work": 2.4 s →
    * 0.57 s at sf0.1 with bit-identical output; the fold's lambda only
    * references scalar locals, so the interpreted-HOF re-evaluation trap
    * does not apply). Still zero shuffles — purely columnar.
    */
  def randProj(vuCol: String, outDims: Int, inDims: Int): Column = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(o: Int, i: Int): Long = {
      val h = md.digest(s"rp:$o:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
    }
    val signs: Seq[Seq[Long]] =
      (0 until outDims).map(o => (0 until inDims).map(i => sign(o, i)))
    val sm = typedLit(signs)
    transform(sequence(lit(0), lit(outDims - 1)), o =>
      aggregate(zip_with(col(vuCol), element_at(sm, o.cast("int") + 1),
        (x, s) => x * s), lit(0L), (acc, v) => acc + v))
  }

  /** Hard-negative mining: per query, the top-k most-similar corpus
    * vectors whose LABEL DIFFERS from the query's (the contrastive-
    * training negative sampler). Exact over the query sample — the same
    * documented brute-force baseline shape as [[topK]]; at corpus scale
    * compose the label-exclusion filter with the [[lshTopK]] bucket join
    * instead (same rescore, label filter rides the candidate join).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(labelCol).as("ql"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      col(labelCol).as("nl"))
    val scored = q.join(c, col("qid") =!= col("nid") && col("ql") =!= col("nl"))
      .withColumn("sim", round6(dot(col("qv"), col("nv"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Margin-based bitext mining (the ratio margin of Artetxe & Schwenk
    * 2019, "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"): given one embedding space holding two languages (side
    * X = even ids, side Y = odd ids — stand-ins for e.g. LASER-encoded
    * English/French sentence sets), mine translation pairs by scoring each
    * cross-language candidate with
    *   margin(x, y) = cos(x, y) / ((avg kNN(x) + avg kNN(y)) / 2)
    * and keeping each source's best-margin target above a threshold. The
    * margin normalizes away "hubness" — a target that is merely close to
    * EVERYTHING (high kNN average) must beat its own neighbourhood, not an
    * absolute cosine bar.
    *
    * Scale shape: candidates come from the hyperplane-LSH bucket join
    * (side-filtered, so only X×Y pairs form — never |X|·|Y| dots), exactly
    * how production miners run FAISS-ANN search instead of exact kNN; the
    * forward/backward kNN averages are computed over the candidate set
    * with the bounded-heap [[graft.functions.topk_by]] pushdown (≤k rows
    * per vector per partition reach the shuffle). All arithmetic past the
    * dot product is integer (micro-cosines, milli-margins):
    * margin = 2k_x·k_y·sim / (Σ_x·k_y + Σ_y·k_x) rendered with integer
    * DIV, so the result is partitioning-invariant and the DuckDB oracle
    * replays it bit-for-bit. Candidates with non-positive cosine are
    * dropped up front (they can't be mined pairs, and positivity keeps
    * the DIV operands non-negative where Spark DIV ≡ DuckDB floor-div).
    *
    * Scale posture: the DEFAULT (`planes <= 0`) generates candidates from
    * IVF sampled-centroid cells — `⌊√n⌋` centroids (every mod-th vector,
    * SQL-replayable like [[ivfTopK]]), every vector probing its top
    * `nprobe` cells, pairs forming only inside shared cells. Sampled
    * centroids are drawn FROM the data, so cell width tracks density
    * (~√n members at any n, even on tightly clustered corpora); the r10
    * 100× embedding-growth probe showed hyperplane buckets do NOT have
    * that property — 12 auto-sized planes cannot split a tight cluster
    * (all members agree on every hyperplane sign), leaving many
    * under-cap mid-size buckets whose cross-language joins filled 80 GB
    * of candidate shuffle. `maxBucket` (default 4096) drops cells wider
    * than the cap BEFORE the cross-language join — a cell that wide at
    * √n centroids is a degenerate clone-mass, pure hub territory the
    * margin exists to discount. The hyperplane-LSH candidate stage
    * remains as the explicit `planes > 0` opt-in (the fixed-parameter
    * paper-replay audit, `emb_bitext_exact`).
    *
    * Returns one row per mined source: (x, y, sim_micro, margin_milli).
    */
  def bitextMarginMine(emb: DataFrame, k: Int, marginMilli: Long,
                       tables: Int = 24, planes: Int = 0, dims: Int = 64,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       maxBucket: Int = 4096, nprobe: Int = 2): DataFrame = {
    // each branch yields the deduped rescored candidate set (x, y, sim>0),
    // shared by the forward top-k, backward top-k and the final margin
    // join (checkpoint: no exchange reuse across branches)
    val sims =
      (if (planes > 0) {
        // exact-audit opt-in: OR-amplified hyperplane buckets, as
        // published; pair volume is small by contract here, so the
        // candidate-then-re-attach shape is fine
        val sig0 = emb.select(col(idCol).as("id"),
          posexplode(graft.functions.lsh_sig(col(vecCol), tables, planes, dims)))
          .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
          .localCheckpoint(eager = false)
        // skew guard BEFORE the side split: bucket width is counted over
        // both languages together (the grain the candidate join shuffles on)
        val sig = dropOversizedBuckets(sig0, maxBucket)
        val cand = sig.filter(pmod(col("id"), lit(2)) === 0).as("a")
          .join(sig.filter(pmod(col("id"), lit(2)) === 1).as("b"),
            col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket"))
          .select(col("a.id").as("x"), col("b.id").as("y"))
          .distinct()
        val vecs = emb.select(col(idCol).as("vid"), col(vecCol).as("vv"))
        cand
          .join(vecs.select(col("vid").as("x"), col("vv").as("xv")), Seq("x"))
          .join(vecs.select(col("vid").as("y"), col("vv").as("yv")), Seq("y"))
          .withColumn("sim", floor(dot(col("xv"), col("yv")) * lit(1e6) + lit(0.5)).cast("long"))
          .select(col("x"), col("y"), col("sim"))
      } else {
        // DEFAULT: IVF cells — same sampled-centroid index as [[ivfTopK]]
        // (the n×m assignment is the deliberate broadcast cross join; the
        // bounded-heap top-nprobe collapses it to nprobe rows per vector
        // before any exchange)
        val mod = math.max(1L, math.sqrt(emb.count().toDouble).toLong)
        val cents = emb.filter(pmod(col(idCol), lit(mod)) === 0)
          .select(col(idCol).as("cid"), col(vecCol).as("cv"))
        val memb = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
          .crossJoin(broadcast(cents))
          .withColumn("d", round6(dot(col("v"), col("cv"))))
          .groupBy(col("id"))
          .agg(graft.functions.topk_by(col("d"), col("cid"), math.max(nprobe, 1)).as("top"))
          .select(col("id"), explode(col("top")).as("t"))
          .select(col("id"), col("t.nid").as("cid"))
          .localCheckpoint(eager = false)
        // cell width counted over both languages AND all probe memberships
        // — exactly the grain the candidate join shuffles on
        val kept = dropOversizedCells(memb, maxBucket)
        // vectors ride the MEMBERSHIP rows (2·nprobe·n rows, not one per
        // pair) and the dot is computed inside the cell join's projection,
        // so the pair-grain shuffle downstream carries only (x, y, sim) —
        // re-attaching vectors per PAIR shipped ~0.5 KB × |cand| through
        // two joins and filled 45 GB of scratch at the r10 100× probe
        val kv = kept.join(
          emb.select(col(idCol).as("id"), col(vecCol).as("vv")), Seq("id"))
        kv.filter(pmod(col("id"), lit(2)) === 0).as("a")
          .join(kv.filter(pmod(col("id"), lit(2)) === 1).as("b"),
            col("a.cid") === col("b.cid"))
          .select(col("a.id").as("x"), col("b.id").as("y"),
            floor(dot(col("a.vv"), col("b.vv")) * lit(1e6) + lit(0.5))
              .cast("long").as("sim"))
          // a pair sharing both probed cells appears twice with the same
          // deterministic sim — (x, y, sim)-distinct ≡ (x, y)-distinct
          .distinct()
      })
      .filter(col("sim") > 0)
      .localCheckpoint(eager = false)
    // micro-sims are < 2^21, exact in the heap's Double score
    val fwd = sims.groupBy(col("x"))
      .agg(graft.functions.topk_by(col("sim").cast("double"), col("y"), k).as("top"))
      .select(col("x"), explode(col("top")).as("t"))
      .select(col("x"), col("t.nid").as("y"), col("t.sim").cast("long").as("sim"))
    val fs = fwd.groupBy(col("x"))
      .agg(sum(col("sim")).as("sum_x"), count(lit(1)).as("cnt_x"))
      .withColumnRenamed("x", "fx")
    val bs = sims.groupBy(col("y"))
      .agg(graft.functions.topk_by(col("sim").cast("double"), col("x"), k).as("top"))
      .select(col("y"), explode(col("top")).as("t"))
      .groupBy(col("y"))
      .agg(sum(col("t.sim").cast("long")).as("sum_y"), count(lit(1)).as("cnt_y"))
      .withColumnRenamed("y", "by")
    val w = Window.partitionBy(col("x")).orderBy(col("margin_milli").desc, col("y"))
    fwd
      .join(fs, col("x") === col("fx")).drop("fx")
      .join(bs, col("y") === col("by")).drop("by")
      .withColumn("margin_milli",
        expr("(2000 * sim * cnt_x * cnt_y) DIV (sum_x * cnt_y + sum_y * cnt_x)"))
      .filter(col("margin_milli") >= marginMilli)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("x"), col("y"), col("sim").as("sim_micro"), col("margin_milli"))
  }

  /** Brute-force top-k neighbours for each query vector (exact baseline).
    * Ties break on neighbour id for determinism.
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .withColumn("sim", round6(dot(col("qv"), col("nv"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Random-hyperplane LSH signature for one hash table: bit p = sign of
    * dot(v, plane_p), planes built deterministically from md5 parity
    * (component d of plane (table,p) is +1 iff the (d%32)-th hex nibble of
    * md5("<table>:<p>:<d/32>") is ≥ 8). SQL-mirrorable, no RNG state.
    * Kept: declarative parity rendering of the native `lsh_sig`, pinned by
    * TrainSpec.
    */
  def lshSignature(vec: Column, table: Int, planes: Int, dims: Int): Column = {
    val bits = transform(sequence(lit(0), lit(planes - 1)), p => {
      val proj = aggregate(sequence(lit(1), lit(dims)), lit(0.0), (acc, d) => {
        val hexIdx = ((d - 1) % 32) + 1
        val block = floor((d - 1) / 32).cast("int")
        val nibble = conv(
          md5(concat(lit(s"$table:"), p.cast("string"), lit(":"), block.cast("string")))
            .substr(hexIdx, lit(1)), 16, 10).cast("int")
        val sign = when(nibble >= 8, lit(1.0)).otherwise(lit(-1.0))
        acc + element_at(vec, d).cast("double") * sign
      })
      when(proj > 0, lit("1")).otherwise(lit("0"))
    })
    concat_ws("", bits)
  }

  /** Scale path: multi-table random-hyperplane LSH (OR-amplification:
    * candidates share a bucket in ANY of `tables` tables — recall
    * 1-(1-p^planes)^tables), exact re-score inside buckets. The join
    * shuffles on (table, signature); cost is Σ bucket², never n².
    *
    * Σ bucket² is only sub-quadratic when the bucket count TRACKS n:
    * with `planes` fixed, occupancy n/2^planes grows linearly and the
    * candidate join degrades to n²/2^planes (measured: the r8 100×
    * embedding-growth probe at planes=5/200k vectors spilled 60 GB of
    * candidate shuffle and was killed — tuned-for-2k buckets held 6k+
    * vectors each). Pass `planes <= 0` to auto-size: the smallest p with
    * 2^p ≥ ⌈n / targetOccupancy⌉ cells, i.e. expected occupancy ≤
    * `targetOccupancy` AT ANY n, which keeps per-point candidate volume
    * ~tables × targetOccupancy, linear in n. `maxBucket` (default 4096,
    * the `minhashLsh` precedent) additionally drops pathological
    * skew-buckets — a bucket that big holds ≫k near-ties per query in
    * the OTHER tables anyway, and exact mode is an explicit
    * `Int.MaxValue` opt-in.
    */
  def lshTopK(emb: DataFrame, tables: Int, planes: Int, dims: Int, k: Int,
              threshold: Double,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucket: Int = 4096, targetOccupancy: Int = 64): DataFrame = {
    val nPlanes = resolvePlanes(emb, planes, targetOccupancy)
    // signatures computed once per vector via the native all-tables
    // expression (precomputed sign matrix — see LshSigExpr); candidate ids
    // deduped BEFORE vectors are re-attached (distinct on two longs, not
    // two float arrays). The checkpoint stops the self-join from running
    // the signature subtree + shuffle twice (no exchange reuse across the
    // aliased sides).
    val sig0 = emb.select(col(idCol).as("id"),
      posexplode(graft.functions.lsh_sig(col(vecCol), tables, nPlanes, dims)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      .localCheckpoint(eager = false)
    // skew guard: map-combined oversized-bucket count + broadcast anti-join
    // over the checkpointed signature frame — no window sort
    val sig = dropOversizedBuckets(sig0, maxBucket)
    // vectors ride the SIGNATURE rows and the dot is computed inside the
    // bucket join's projection (see [[nearDupPairsLsh]] — per-pair vector
    // re-attach was the 0.5 KB × |cand| shuffle shape). The threshold
    // prunes before the distinct; the distinct must survive (duplicate
    // (qid, nid) rows from multi-table co-occurrence would enter the
    // top-k heap twice).
    val kv = sig.join(
        emb.select(col(idCol).as("id"), col(vecCol).as("vv")), Seq("id"))
      .localCheckpoint(eager = false)
    val pairs = kv.as("a").join(kv.as("b"),
      col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"),
        round6(dot(col("a.vv"), col("b.vv"))).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
    // top-k pushdown: the bounded-heap aggregate partial-aggregates map-
    // side, so ≤k candidates per query per partition reach the shuffle —
    // a window row_number would sort EVERY rescored bucket pair per query
    // (same output, pinned by FunctionsSpec parity)
    pairs.groupBy(col("qid"))
      .agg(graft.functions.topk_by(col("sim"), col("nid"), k).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.nid").as("nid"), col("t.sim").as("sim"),
        col("t.rank").as("rank"))
  }
}
