package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Power-iteration PageRank over an edge list — the corpus-graph
  * centrality primitive (page/domain authority for web-corpus curation,
  * citation weight, entity salience).
  *
  * Deterministic by construction: ranks live in integer nano-units
  * (start 10⁹ per node) and one iteration is
  *   r'(v) = 0.15·10⁹  +  Σ_{u→v} (r(u)·17) DIV (20·deg(u))
  * — damping 0.85 as the exact rational 17/20, floor division, integer
  * sums. No doubles anywhere, so results are identical on any cluster
  * shape AND replayable by a plain SQL engine (the oracle unrolls the
  * same iterations as chained CTEs). The ≤20·deg(u) nano-units lost to
  * each floor are the price of exactness; after the fixed iteration
  * count they perturb ranks far below the ranking grain.
  *
  * Scale shape per iteration: one equi-join of the edge list with the
  * rank frame on src (shuffle on the node key — co-partitioned for free
  * when both sides are bucketed by node), then one map-combined sum at
  * the dst grain. Lineage is truncated with lazy localCheckpoints
  * (Clustering's pattern) so the fixed-iteration loop stays one job.
  * Dangling nodes cannot occur: callers pass UNDIRECTED edges (both
  * directions), so deg ≥ 1 for every node in the frame.
  */
object Graph {

  /** Undirected edge list (both directions) from a bipartite relation. */
  def undirectedEdges(rel: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = rel.select(col(aCol).as("a"), col(bCol).as("b")).distinct()
    e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Per-node triangle counts via degree-ordered orientation — the
    * classic O(m^(3/2)) distributed triangle algorithm (Suri & Vassilvitskii
    * 2011): orient every undirected edge from its lower-(deg, node) endpoint
    * to the higher, enumerate wedges only from each node's OUT-edges (out-
    * degree is bounded by √(2m) after orientation, so wedge volume is
    * m^(3/2) worst-case instead of Σ deg² — the skew-proof bound), and close
    * each wedge with one equi-join back to the oriented edge list. Every
    * shuffle is on a node key; the oriented frame is lazily checkpointed and
    * reused by all three legs.
    *
    * Input `pairs` must be canonical undirected edges: one row per edge,
    * `a` < `b`, no duplicates. Output: (node, tri) — triangles incident to
    * each node (each triangle counted once per member).
    */
  def triangles(pairs: DataFrame): DataFrame = {
    // the (possibly expensive) pair-generation subtree is referenced three
    // times below (degree ×2, orientation ×1) with no exchange reuse across
    // them — materialize it once
    val p = pairs.localCheckpoint(eager = false)
    // r14 (§3.1, the loop-family treatment): the degree frame is
    // NODE-grain — checkpoint it (both orientation joins read it) and
    // broadcast it into them on an honest count bound, so the edge list
    // streams from its checkpoint instead of being exchanged twice for
    // the orientation. Gate off at scale ⇒ the old shuffle joins.
    val deg = p.select(col("a").as("node"))
      .unionAll(p.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val nNodes = deg.count()
    val da = graft.ops.Hints.broadcastIfRowsFit(
      deg.select(col("node").as("a"), col("deg").as("da")), nNodes)
    val db = graft.ops.Hints.broadcastIfRowsFit(
      deg.select(col("node").as("b"), col("deg").as("db")), nNodes)
    // total order on vertices: (deg, node) — ties on degree break by id,
    // so the orientation is acyclic and engine-independent
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = p.join(da, Seq("a")).join(db, Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      // NOTE (r14): do NOT pre-partition before this checkpoint —
      // localCheckpoint reads back as UnknownPartitioning(0), so a
      // repartition(src) here is a pure extra full shuffle (r13's version
      // regressed graph_triangles 6.4 s → 24 s)
      .localCheckpoint(eager = false)
    // r14 (§1.2 + §2.3): adjacency-intersect close instead of the
    // wedge-enumeration self-join pair. A triangle under the orientation
    // is u→v with w ∈ outAdj(u) ∩ outAdj(v), so: build the out-neighbor
    // array per node (bounded by √(2m) after orientation — never a hub's
    // full neighborhood), attach both endpoint arrays to each oriented
    // edge, and explode the codegen'd array_intersect. The Σ out-deg²
    // merge work is inherent either way, but the m^(3/2)-row wedge
    // stream no longer passes through TWO join operators — the two adj
    // joins move node-grain array rows (m entries total each), and the
    // intersection runs inside one projection. Same-JVM interleaved A/B:
    // 5.2 → 3.8 s min-of-3 at sf0.1, full-outer DIFF=0 on the counts.
    // SHUFFLE_HASH stays size-gated on the pre-checkpoint estimate.
    val edgeBytes = graft.ops.Hints.estimatedBytes(pairs)
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
      .localCheckpoint(eager = false)
    val adjU = graft.ops.Hints.shuffleHashIfFits(
      adj.select(col("src").as("u"), col("nbrs").as("nu")), edgeBytes)
    val adjV = graft.ops.Hints.shuffleHashIfFits(
      adj.select(col("src").as("v2"), col("nbrs").as("nv")), edgeBytes)
    oriented.select(col("src").as("u"), col("dst").as("v"))
      .join(adjU, Seq("u"))
      .join(adjV, col("v") === col("v2"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
  }

  /** (node, deg, r) after `iters` power iterations, r in nano-units. */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    // fallback build-side bound for the per-iteration join when the
    // broadcast gate below is off
    val edgeBytes = graft.ops.Hints.estimatedBytes(edges)
    // degree is folded into the edge frame ONCE — each iteration is then
    // a single equi-join (ranks ⋈ out-edges) + one map-combined sum,
    // not a second join against the degree table every round
    val e = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"), col("deg")).distinct()
      .localCheckpoint(eager = false)
    // r14 (guide §3.1, the kcore r13 treatment): broadcast the NODE-grain
    // rank frame into each round's join when it fits, so the edge list is
    // never re-shuffled per round (the checkpointed scan reads back
    // UnknownPartitioning, so every round otherwise re-exchanges BOTH
    // sides). Bound = one map-combined count of the node frame — Catalyst's
    // post-join estimate is useless here (2.2 TB for a 16k-node frame at
    // sf0.1), and the count materializes a checkpoint the first round
    // needs anyway. At 100 TB the gate turns OFF and the join falls back
    // to the size-gated SHUFFLE_HASH / SMJ path (spills).
    val nNodes = nodes.count()
    // NOTE (r14): fanning the edge checkpoint to defaultParallelism when
    // the gate is on was A/B-measured SLOWER (4.7 vs 3.5 s min-of-3
    // interleaved at sf0.1) — fanned loop rounds pay more in per-task
    // scheduling than the spread compute buys, the same finding as the
    // r13 blanket scan fan-out. Left alone.
    var ranks = nodes.select(col("node"), lit(1000000000L).as("r"))
      .localCheckpoint(eager = false)
    // NOTE (r13): batching TWO iterations per localCheckpoint was
    // prototyped (warm micro-benchmarks said −10%) and REGRESSED the
    // quiet-gated bench 60% cold (6.0 s vs 3.7 s, tight pass spread) —
    // the fused two-round job's deeper shuffle chain loses more under
    // cold caches than the saved Catalyst pass buys. One checkpoint per
    // iteration stays.
    for (_ <- 1 to iters) {
      val build =
        if (graft.ops.Hints.fitsBroadcast(ranks, nNodes))
          broadcast(ranks)
        else graft.ops.Hints.shuffleHashIfFits(ranks, edgeBytes)
      ranks = e
        .join(build, e("src") === ranks("node"))
        .select(col("dst"), expr("(r * 17) DIV (20 * deg)").as("c"))
        .groupBy(col("dst"))
        .agg((lit(150000000L) + sum(col("c"))).as("r"))
        .select(col("dst").as("node"), col("r"))
        .localCheckpoint(eager = false)
    }
    ranks.join(nodes, Seq("node"))
      .select(col("node"), col("deg"), col("r"))
  }

  /** Personalized PageRank: teleport mass lands ONLY on the seed set —
    * the trusted-seed authority propagation used for corpus curation
    * (domain quality weighting from a hand-vetted allowlist, entity
    * salience from known-good anchors). Same exact integer arithmetic as
    * [[pagerank]] — r'(v) = [v ∈ S]·0.15·10⁹ + Σ_{u→v} (r(u)·17) DIV
    * (20·deg(u)), r₀ = 10⁹ on seeds else 0 — so results are
    * partitioning- and engine-exact, and the oracle unrolls the same
    * rounds. Scale shape per round: one edge⋈rank equi-join (size-gated
    * SHUFFLE_HASH — build side is node-grain, ≤ edge rows), one
    * map-combined sum at the dst grain, one broadcast left-join against
    * the seed flags (the seed set is small by construction). Nodes the
    * seeds cannot reach within `iters` hops stay at rank 0.
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int): DataFrame = {
    val edgeBytes = graft.ops.Hints.estimatedBytes(edges)
    val e = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .localCheckpoint(eager = false)
    val s = seeds.select(col("node")).distinct()
      .withColumn("b", lit(150000000L))
    // per-node teleport base: 0.15·10⁹ on seeds, 0 elsewhere
    val base = e.select(col("src").as("node"), col("deg")).distinct()
      .join(broadcast(s), Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("b"), lit(0L)).as("b"))
      .localCheckpoint(eager = false)
    // r14: same node-grain broadcast gate as [[pagerank]] — count once,
    // OFF at scale (SHUFFLE_HASH/SMJ fallback)
    val nNodes = base.count()
    var ranks = base.select(col("node"),
      when(col("b") > 0, lit(1000000000L)).otherwise(lit(0L)).as("r"))
      .localCheckpoint(eager = false)
    // one checkpoint per round — see the [[pagerank]] r13 note on why
    // two-round batching was rejected (60% cold-bench regression)
    for (_ <- 1 to iters) {
      val build =
        if (graft.ops.Hints.fitsBroadcast(ranks, nNodes))
          broadcast(ranks)
        else graft.ops.Hints.shuffleHashIfFits(ranks, edgeBytes)
      val contrib = e
        .join(build, e("src") === ranks("node"))
        .select(col("dst"), expr("(r * 17) DIV (20 * deg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        .select(col("dst").as("node"), col("m"))
      // contrib is node-grain too: broadcast it into the left join so the
      // checkpointed base frame is not re-shuffled per round either
      ranks = base.join(
          graft.ops.Hints.broadcastIfRowsFit(contrib, nNodes), Seq("node"), "left")
        .select(col("node"), (col("b") + coalesce(col("m"), lit(0L))).as("r"))
        .localCheckpoint(eager = false)
    }
    ranks.join(base.select(col("node"), col("deg")), Seq("node"))
      .select(col("node"), col("deg"), col("r"))
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * made deterministic: every node starts labelled with its own id, and
    * each round adopts the label most frequent among its neighbours,
    * ties broken by the SMALLEST label — argmax rendered as
    * `max(struct(count, -label))` so the whole round is two hash
    * aggregates, engine-exact and replayable by a plain SQL engine
    * (the oracle unrolls rounds as chained CTEs with
    * `row_number() OVER (ORDER BY c DESC, lab)`), unlike the
    * random-order asynchronous original.
    *
    * Scale shape per round: one edge⋈label equi-join on the node key
    * (size-gated SHUFFLE_HASH — the label frame is node-grain, ≤ edge
    * rows since callers pass undirected both-direction edges) and two
    * map-combined aggregates at the (dst,lab) then dst grain. Fixed
    * round count, lazy localCheckpoints — the Clustering/PageRank loop
    * pattern. Node ids must be non-negative (the `-label` tie-break
    * trick needs a sign-safe domain).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val edgeBytes = graft.ops.Hints.estimatedBytes(edges)
    // NOTE (r14): no pre-partition before the checkpoint — the
    // checkpointed scan reads back UnknownPartitioning(0), so a
    // repartition(src) would be a wasted extra shuffle (refuted by the
    // r13 committed plans; the per-round join re-exchanges regardless)
    val e = edges.select(col("src"), col("dst"))
      .localCheckpoint(eager = false)
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint(eager = false)
    // r14: node-grain broadcast gate (see [[pagerank]]) — the edge list
    // stops being re-shuffled per round; OFF at scale with SHJ fallback
    val nNodes = labels.count()
    // one checkpoint per round — see the [[pagerank]] r13 note on why
    // two-round batching was rejected (60% cold-bench regression)
    for (_ <- 1 to rounds) {
      val build =
        if (graft.ops.Hints.fitsBroadcast(labels, nNodes))
          broadcast(labels)
        else graft.ops.Hints.shuffleHashIfFits(labels, edgeBytes)
      labels = e
        .join(build, e("src") === labels("node"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lab"))
        .localCheckpoint(eager = false)
    }
    labels
  }

  /** Bounded-round k-core peeling: each round recomputes degrees over
    * the surviving canonical edge list (`a` < `b`, one row per edge) and
    * drops every node with degree < k plus its edges. The classic
    * fixpoint terminates in O(peeling depth) rounds; a FIXED round count
    * keeps the computation engine-exact and oracle-replayable (chained
    * CTEs), and bounds driver rounds at 100 TB — callers pick `rounds`
    * ≥ the expected peeling depth and can verify convergence by
    * comparing consecutive-round outputs. Output: (node, deg) for nodes
    * still meeting the degree bar on the final edge set.
    *
    * Scale shape per round: one map-combined degree aggregate + two
    * left-semi joins on the endpoint keys — never more than the edge
    * list on the wire.
    * Kept: fixed-k form of the peeling loop the `kcoreMeanFrac` query runs;
    * GraphSpec pins it.
    */
  def kcore(pairs: DataFrame, k: Int, rounds: Int): DataFrame =
    kcoreWith(pairs, p => p.sparkSession.range(1).select(lit(k.toLong).as("k")),
      rounds)

  /** k-core with k tied to the graph's own density: k = (2|E|·num) DIV
    * (|V|·den) — a fixed fraction of the mean degree. An absolute k
    * cannot track a growing corpus (the co-purchase graph's mean degree
    * rises with scale); the relative bar peels the sparse tail at every
    * scale without the collapse a bar at-or-above the mean triggers on
    * degree-concentrated graphs (measured: k = mean empties this graph
    * in ≤3 rounds at every SF; k = 0.8·mean keeps a stable core).
    */
  def kcoreMeanFrac(pairs: DataFrame, num: Int, den: Int,
                    rounds: Int): DataFrame =
    kcoreWith(pairs, { p =>
      val e2 = p.agg((count(lit(1)) * 2 * num).as("twoE"))
      val v = p.select(col("a").as("node"))
        .unionAll(p.select(col("b").as("node")))
        .agg((countDistinct(col("node")) * den).as("vd"))
      e2.crossJoin(v).select(expr("twoE DIV vd").as("k"))
    }, rounds)

  /** Shared peeling loop; `mkK` builds a ONE-ROW (k) frame from the
    * initial edge list — broadcast into every round's filter (the 1-row
    * stat-aggregate crossJoin pattern), so nothing touches the driver.
    */
  private def kcoreWith(pairs: DataFrame, mkK: DataFrame => DataFrame,
                        rounds: Int): DataFrame = {
    // node-frame build bound for the per-round keep broadcasts: the keep
    // set is node-grain (≤ one row per edge endpoint), so the
    // PRE-checkpoint edge-list estimate over-bounds it at every round
    val edgeBytes = graft.ops.Hints.estimatedBytes(pairs)
    var p = pairs.select(col("a"), col("b")).localCheckpoint(eager = false)
    val kdf = broadcast(mkK(p).localCheckpoint(eager = false))
    for (_ <- 1 to rounds) {
      val deg = p.select(col("a").as("node"))
        .unionAll(p.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      // r13 opt: broadcast the node-grain keep set when it fits (size-
      // gated — at 100 TB the gate turns OFF and the planner falls back
      // to shuffle semi-joins, which spill): both per-round semi-joins
      // then probe the surviving edge list IN PLACE instead of shuffling
      // it twice per round (guide §3.1; 4.4 s → 3.0 s at sf0.1)
      val keep = graft.ops.Hints.broadcastIfFits(
        deg.crossJoin(kdf).filter(col("deg") >= col("k"))
          .select(col("node")),
        edgeBytes)
      p = p
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(eager = false)
    }
    p.select(col("a").as("node")).unionAll(p.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .crossJoin(kdf).filter(col("deg") >= col("k"))
      .select(col("node"), col("deg"))
  }

  /** Bounded-hop BFS distance labels from a source set: frontier
    * expansion, one node-key equi-join per hop, left-anti against the
    * settled labels so each node is labelled at its FIRST (minimum) hop —
    * the BFS invariant. Per-round frames are lazily checkpointed, so the
    * plan (and re-planning cost) stays flat across rounds; state on the
    * wire is only the frontier + labels, never the paths — this is the
    * scale-safe contrast to a transitive-closure join. `maxHops` bounds
    * the rounds (the analytics question is "within k hops", not full
    * diameter). Output: (node, hop), hop ∈ [0, maxHops].
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    // NOTE (r14): no pre-partition before the checkpoint — the
    // checkpointed scan reads back UnknownPartitioning(0) (refuted by
    // the r13 committed plans), so repartition(src) was a wasted shuffle
    val e = edges.select(col("src"), col("dst"))
      .localCheckpoint(eager = false)
    // r14: frontier and settled labels are NODE-grain (≤ the distinct
    // nodes of src ∪ dst ∪ sources, counted once); broadcast them into the
    // per-hop joins when they fit so the edge list is probed IN PLACE
    // instead of being re-shuffled every hop (guide §3.1). At 100 TB the
    // gate is off and the joins fall back to shuffles.
    val nNodes = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .union(sources.select(col("node"))).distinct().count()
    var labels = sources.select(col("node"), lit(0).as("hop"))
      .distinct().localCheckpoint(eager = false)
    var frontier = labels.select(col("node"))
    var hop = 1
    while (hop <= maxHops) {
      val next = graft.ops.Hints.broadcastIfRowsFit(frontier, nNodes)
        .join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(graft.ops.Hints.broadcastIfRowsFit(labels, nNodes),
          Seq("node"), "left_anti")
        .withColumn("hop", lit(hop))
        .localCheckpoint(eager = false)
      labels = labels.unionByName(next).localCheckpoint(eager = false)
      frontier = next.select(col("node"))
      hop += 1
    }
    labels
  }

  /** Item-to-item similarity over a bipartite (group, item) relation —
    * the collaborative-filtering primitive ("customers who bought X also
    * bought Y"): Jaccard over the items' group sets, top-k per item.
    *
    * Plan shape: co-occurrence counts come from the same group-explode
    * pair generation as [[triangles]]' wedge step (one shuffle to the
    * group key the fact table is already clustered by, pairs exploded
    * in place — never an item×item join); degrees are one (item)-grain
    * agg; `minCo` prunes the long tail of coincidental pairs BEFORE the
    * degree joins; similarity is the exact integer micro-ratio
    * `co·10⁶ DIV (deg_a + deg_b − co)`, and the per-item top-k goes
    * through the bounded-heap [[graft.functions.topk_by]] pushdown (≤k
    * rows per item per partition reach the shuffle). Candidate volume is
    * Σ_groups C(|group|, 2) — the wedge mass.
    *
    * `maxBasket` is the mega-basket guard (the same production hardening
    * as `minhashLsh(maxBucket=…)`): pair generation is quadratic PER
    * GROUP, and at corpus scale a pathological group — a bot user, a
    * crawl domain, a catch-all session — holds millions of items, which
    * is both one giant collect_set row and a k² explode. Groups with
    * more than `maxBasket` rows are dropped BEFORE the set is collected;
    * their items contribute neither co-occurrence nor degree (a basket
    * that degenerate carries no preference signal — counting it would
    * deflate every member's similarity instead). The row count shares
    * the group-key partitioning the collect_set shuffle needs anyway —
    * no extra exchange.
    */
  def cooccurrenceTopK(rows: DataFrame, grpCol: String, itemCol: String,
                       k: Int, minCo: Long,
                       maxBasket: Int = 4096): DataFrame = {
    val src = rows.select(col(grpCol).as("g"), col(itemCol).as("it"))
    // Mega-basket guard as a map-combined count + semi-join: only
    // (g, partial-count) rows reach the count's exchange and over-cap
    // groups are dropped BEFORE any set is collected. The previous
    // count().over(Window.partitionBy(g)) shape shuffled AND sorted every
    // raw row to answer the same question. At bench scale AQE turns the
    // semi-join into a broadcast; above the budget it degrades to a
    // shuffle semi-join on g whose output partitioning the basket
    // aggregate below reuses (no extra exchange either way).
    val kept =
      if (maxBasket == Int.MaxValue) src
      else {
        val keepG = src.groupBy(col("g")).agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBasket).select(col("g").as("gk"))
        // null-safe condition (r14, ADVICE item): a null group key forms
        // its own under-cap basket in the window-count shape AND in the
        // MaxValue path — an equi-semi-join would silently drop it (null
        // never equals null), making the two paths inconsistent
        src.join(keepG, col("g") <=> col("gk"), "left_semi")
      }
    // ONE basket aggregate feeds both legs: the previous shape re-ran the
    // group aggregate per leg (pairs' collect_set and deg's countDistinct
    // were separate passes over the kept rows).
    val baskets = kept.groupBy(col("g"))
      .agg(sort_array(collect_set(col("it"))).as("xs"))
      .localCheckpoint(eager = false) // read by pairs AND degrees
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(xs, (x, i) -> " +
          "transform(slice(xs, i + 2, size(xs)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    // deg(item) = #distinct groups containing it; the baskets are sets
    // already, so a plain count over the exploded membership IS the
    // countDistinct — without its expand/dedup pass over raw rows.
    val deg = baskets.select(explode(col("xs")).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // reused by both sides of the pair
    // Both directions from ONE pass over the pair frame: a union of two
    // selects re-executes the whole mining subtree per branch (measured
    // as the duplicated operators (1-11)/(12-22) in the r13 before-plan).
    val sym = pairs
      .select(explode(array(
        struct(col("a").as("i"), col("b").as("j")),
        struct(col("b").as("i"), col("a").as("j")))).as("e"), col("co"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("co"))
    val scored = sym
      .join(deg.select(col("n").as("i"), col("deg").as("deg_i")), Seq("i"))
      .join(deg.select(col("n").as("j"), col("deg").as("deg_j")), Seq("j"))
      .withColumn("sim_micro", expr("(co * 1000000) DIV (deg_i + deg_j - co)"))
    // micro-ratios < 2^21: exact in the heap's Double score
    scored.groupBy(col("i"))
      .agg(graft.functions.topk_by(col("sim_micro").cast("double"), col("j"), k)
        .as("top"))
      .select(col("i"), explode(col("top")).as("t"))
      .select(col("i").as("item"), col("t.nid").as("neighbor"),
        col("t.sim").cast("long").as("sim_micro"), col("t.rank").as("rank"))
  }
}
