package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy record linkage: match "dirty" entity strings against a clean
  * catalog within a small edit distance, WITHOUT the n×m cross join.
  *
  * Blocking scheme (the scale story): each string emits two block keys —
  * its first `blockLen` chars (tag P) and its last `blockLen` chars
  * (tag S). A single edit (insert / delete / substitute) at position p
  * leaves the first-`blockLen` prefix byte-identical when p ≥ blockLen,
  * and leaves the last-`blockLen` suffix byte-identical when the edit
  * happens before those final characters — so for strings of length
  * ≥ 2·blockLen+1, ANY pair at edit distance ≤ 1 shares at least one
  * block key (pigeonhole over the two ends). The candidate join is
  * therefore COMPLETE for maxDist = 1, and candidate volume is bounded
  * by Σ bucket² over shared prefixes/suffixes — the duplicated mass,
  * never |left|×|right|. LinkageSpec proves completeness against the
  * brute-force cross join at test scale.
  *
  * Rescoring uses Spark's threshold form `levenshtein(l, r, maxDist)`
  * which abandons a row as soon as the running distance exceeds the
  * bound (O(maxDist·len) per pair instead of O(len²)).
  */
object Linkage {

  /** Two-ended block keys as array<struct<tag,key>>. The suffix key is a
    * right()-equivalent with the start clamped to 1: Spark's negative-pos
    * `substring(c, -n, n)` yields '' for strings shorter than n while SQL
    * `right(c, n)` returns the whole string — the clamp makes both
    * engines agree on short inputs.
    */
  def blockKeys(c: Column, blockLen: Int): Column = array(
    struct(lit("P").as("tag"), substring(c, 1, blockLen).as("key")),
    struct(lit("S").as("tag"),
      c.substr(greatest(length(c) - (blockLen - 1), lit(1)), lit(blockLen))
        .as("key")))

  /** (i, j, dist) pairs with levenshtein(leftKey, rightKey) ≤ maxDist.
    *
    * Completeness (ED ≤ 1): for strings of length ≥ 2·blockLen + 1 the
    * two-ended blocking guarantees any true pair shares a key. Shorter
    * strings can shift BOTH the prefix and the suffix block with one
    * edit, so the guard below ENFORCES the guarantee rather than
    * documenting it: since an ED ≤ 1 pair's lengths differ by at most 1,
    * every pair touching a sub-threshold string has both sides within
    * 2·blockLen + 1 chars — those subsets (bounded rows, ≤ 2·blockLen+1
    * bytes each) get an exact cross-match whose candidates union into
    * the blocked set, so short keys lose no recall and long keys pay
    * nothing. For maxDist > 1 the blocking is recall-bounded like any
    * LSH — keep the exact path as the audit oracle.
    */
  /** `maxBucket` (default 4096 — the 100 TB-safe path): per-(tag, key)
    * cap on each side of the bucket-grain candidate join, the same
    * production knob as [[fuzzyPairsSegment]] — in-partition verification
    * CPU is Σ bucket PRODUCTS, and a corpus whose names share a popular
    * 6-char prefix ("report of the …") grows that mass quadratically
    * while the true match output stays linear. Softer than an LSH cap: a
    * pair meets on its prefix AND its suffix key, so only pairs
    * degenerate at BOTH ends are lost. The short-string exact leg is
    * never capped. Exact audit mode is an explicit opt-in
    * (`maxBucket = Int.MaxValue`): the 100× probes measured the uncapped
    * path at 323× while the capped path stayed sub-linear, so a caller
    * who hits the default API at crawl scale must not get the quadratic.
    */
  def fuzzyPairs(left: DataFrame, leftId: String, leftName: String,
                 right: DataFrame, rightId: String, rightName: String,
                 maxDist: Int, blockLen: Int = 6,
                 maxBucket: Int = 4096): DataFrame = {
    // NOTE (r13): scan fan-out (Hints.spread) measured SLOWER
    // here same-JVM-A/B (fuzzy_match_pairs 1.33 → 1.89 s; fuzzy_entities'
    // cluster loop also pays per-round) — the 2-key block enumeration is
    // cheap relative to the fanned stages' per-task overhead, unlike
    // fuzzyPairsSegment's 75-way enumeration. Deliberately not applied.
    val l = left.select(col(leftId).as("i"), col(leftName).as("li"))
      .localCheckpoint(eager = false)
    val r = right.select(col(rightId).as("j"), col(rightName).as("rj"))
      .localCheckpoint(eager = false)
    // BUCKET-GRAIN candidate join (same 100× fix as fuzzyPairsSegment):
    // one array row per (tag, key) on each side, pair enumeration +
    // banded verification INSIDE the joined partition, and only VERIFIED
    // matches reach the final distinct. The old key-grain join shuffled
    // the candidate-pair mass three times (pair distinct + two name
    // join-backs) — at the 100× probe the copy-invariant prefix-6
    // buckets grow ~k, bucket PRODUCTS ~k², and that pair mass is the
    // whole wall. Both grouped frames are exchange outputs, so AQE sizes
    // the (tag, key) join from runtime stats, never a stale broadcast.
    def capped(df: DataFrame): DataFrame =
      if (maxBucket == Int.MaxValue) df
      else df.filter(size(col(df.columns.last)) <= maxBucket)
    val lb = capped(l
      .select(col("i"), col("li"),
        explode(blockKeys(col("li"), blockLen)).as("b"))
      .groupBy(col("b.tag").as("tag"), col("b.key").as("key"))
      .agg(collect_list(struct(col("i"), col("li"))).as("ds")))
    val rb = capped(r
      .select(col("j"), col("rj"),
        explode(blockKeys(col("rj"), blockLen)).as("b"))
      .groupBy(col("b.tag").as("tag"), col("b.key").as("key"))
      .agg(collect_list(struct(col("j"), col("rj"))).as("cs")))
    val blockedPairs = lb.join(rb, Seq("tag", "key"))
      .select(explode(col("ds")).as("dl"), col("cs"))
      .select(col("dl.i").as("i"), col("dl.li").as("li"),
        explode(col("cs")).as("cl"))
      .select(col("i"), col("cl.j").as("j"),
        levenshtein(col("li"), col("cl.rj"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    // short-string completeness guard (see Scaladoc): exact cross-match
    // of the ≤ 2·blockLen+1-char subsets. Deliberate broadcast
    // nested-loop over rows of ≤ 13 chars of name each — the short mass
    // is its own bound, never |left|×|right|.
    val maxShort = 2 * blockLen + 1
    val shortPairs = l.filter(length(col("li")) <= maxShort)
      .crossJoin(broadcast(r.filter(length(col("rj")) <= maxShort)))
      .select(col("i"), col("j"),
        levenshtein(col("li"), col("rj"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    blockedPairs.unionByName(shortPairs).distinct()
  }

  /** General-distance edit join via PASS-JOIN segment blocking (Li, Deng
    * & Feng 2011): COMPLETE for any `maxDist`, unlike the two-ended
    * blocking above (ED ≤ 1 only).
    *
    * Pigeonhole: cut each RIGHT string into d+1 contiguous segments; d
    * edits can touch at most d of them, so one segment survives VERBATIM
    * inside any left string within ED ≤ d — shifted only by the net
    * insert/delete count before it, i.e. by at most d positions. So:
    *  - right emits (len, k, segment) for its d+1 segments;
    *  - left emits, for every plausible right length len' ∈ [len−d,
    *    len+d] and every segment slot k, the substrings at the slot's
    *    start ± d — a constant (2d+1)²·(d+1) keys per row;
    *  - the equi-join on (len, k, segment) yields candidates, verified
    *    with the banded `levenshtein(a, b, maxDist)`.
    * Unlike q-gram count/prefix filtering (whose buckets degenerate on
    * low-diversity text — a corpus with a few hundred distinct trigrams
    * puts thousands of strings in even its rarest gram), segment keys are
    * len/(d+1) chars long, so bucket mass falls off with corpus diversity
    * at the SEGMENT grain: measured 3.5 M → 50 k candidates on the
    * documents corpus at sf0.1.
    *
    * Segment scheme (mirrored by oracles): m = d+1 segments, the first
    * m − (len mod m) of width ⌊len/m⌋, the rest one wider. Right strings
    * shorter than m chars can't fill m segments — they cross-match
    * exactly against the (bounded) left subset within d of their length,
    * the same guard shape as [[fuzzyPairs]].
    *
    * Scale: segment/substring generation is columnar; the candidate join
    * shuffles on (len, k, segment) — candidate volume is Σ bucket
    * products over segment content, never |left| × |right|.
    */
  /** `maxBucket` (default 4096 — the 100 TB-safe path): per-(clen, k,
    * segment) key cap on EACH side of the candidate join. A corpus whose
    * names share a popular prefix ("report of the …") puts a large slice
    * of both sides into one segment bucket, and candidate volume is the
    * bucket PRODUCT — the measured 100× probe wall (~350× time, one
    * ENOSPC DNF) is exactly this mass, with the verified output growing
    * only linearly. Capping drops keys whose bucket exceeds the limit —
    * far softer than an LSH bucket cap: a pair meets once per SHARED
    * segment key among its (2d+1)²·(d+1) generated keys, so only pairs
    * whose EVERY shared segment is degenerate are lost; a single rare
    * aligned segment still recalls the pair. The exact completeness
    * guarantee LinkageSpec proves is the explicit opt-in
    * (`maxBucket = Int.MaxValue`) — an audit mode, not the default a
    * crawl-scale caller should stumble into.
    */
  def fuzzyPairsSegment(left: DataFrame, leftId: String, leftName: String,
                        right: DataFrame, rightId: String, rightName: String,
                        maxDist: Int, maxBucket: Int = 4096): DataFrame = {
    val d = maxDist
    val m = d + 1
    // the lsub enumeration below is a 75-way explode + substring per row:
    // row-dominated scan-stage work — fan out (no-op at production splits)
    val l = graft.ops.Hints.spread(
        left.select(col(leftId).as("i"), col(leftName).as("li")))
      .localCheckpoint(eager = false)
    val r = graft.ops.Hints.spread(
        right.select(col(rightId).as("j"), col(rightName).as("rj")))
      .localCheckpoint(eager = false)
    // right side: m segments of its own length's scheme
    val rseg = r.withColumn("clen", length(col("rj")))
      .filter(col("clen") >= m)
      .select(col("j"), col("clen"), col("rj"),
        explode(expr(
          s"transform(sequence(1, $m), k -> named_struct(" +
            s"'k', k, " +
            s"'st', 1 + (k - 1) * (clen DIV $m) + greatest(0, k - 1 - ($m - clen % $m)), " +
            s"'sl', clen DIV $m + IF(k > $m - clen % $m, 1, 0)))")).as("s"))
      .select(col("j"), col("rj"), col("clen"), col("s.k").as("k"),
        expr("substring(rj, CAST(s.st AS INT), CAST(s.sl AS INT))").as("seg"))
    // left side: for every plausible right length and slot, the slot's
    // window shifted ±d, clamped to real substrings
    val lsub = l.withColumn("dlen", length(col("li")))
      .select(col("i"), col("li"), col("dlen"),
        explode(expr(
          s"flatten(flatten(transform(sequence(-$d, $d), dl -> " +
            s"transform(sequence(1, $m), k -> " +
            s"transform(sequence(-$d, $d), sh -> named_struct(" +
            s"'clen', dlen + dl, 'k', k, " +
            s"'st', 1 + (k - 1) * ((dlen + dl) DIV $m) + " +
            s"greatest(0, k - 1 - ($m - (dlen + dl) % $m)) + sh, " +
            s"'sl', (dlen + dl) DIV $m + IF(k > $m - (dlen + dl) % $m, 1, 0)))))))")).as("s"))
      .filter(col("s.clen") >= m && col("s.st") >= 1 &&
        col("s.st") + col("s.sl") - lit(1) <= col("dlen"))
      .select(col("i"), col("li"), col("s.clen").as("clen"), col("s.k").as("k"),
        expr("substring(li, CAST(s.st AS INT), CAST(s.sl AS INT))").as("seg"))
    // BUCKET-GRAIN candidate join (the 100× fix): grouping each side to
    // one array row per (clen, k, seg) key makes the exchange volume the
    // INPUT mass (enumeration rows), not the candidate-pair mass — the
    // measured 100× probe spent its ~350× wall shuffling Σ bucket-product
    // pair rows through the old pair-grain distinct + two name join-backs.
    // Here the pairing double-explode and the banded verification run
    // INSIDE the joined partition (whole-stage codegen streams the pairs;
    // nothing pair-grain ever hits an exchange), so the only pair-grain
    // shuffle left is the final distinct over VERIFIED matches — linear
    // in the true output at any corpus size. The cap is now a plain
    // size() filter on the grouped arrays (no window pass), which also
    // bounds per-row memory: capped buckets are ≤ maxBucket·(id+name)
    // bytes; the uncapped default is the exact audit path.
    def bucket(df: DataFrame, idc: String, namec: String,
               arr: String): DataFrame = {
      val g = df.groupBy(col("clen"), col("k"), col("seg"))
        .agg(collect_list(struct(col(idc), col(namec))).as(arr))
      if (maxBucket == Int.MaxValue) g
      else g.filter(size(col(arr)) <= maxBucket)
    }
    val blockedPairs = bucket(lsub, "i", "li", "ds")
      .join(bucket(rseg, "j", "rj", "cs"), Seq("clen", "k", "seg"))
      .select(explode(col("ds")).as("dl"), col("cs"))
      .select(col("dl.i").as("i"), col("dl.li").as("li"),
        explode(col("cs")).as("cl"))
      .select(col("i"), col("cl.j").as("j"),
        levenshtein(col("li"), col("cl.rj"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    // short-right guard: < m chars can't fill m segments; partners sit
    // within d of that length, so both subsets are bounded
    val shortPairs = l.filter(length(col("li")) <= m - 1 + d)
      .crossJoin(broadcast(r.filter(length(col("rj")) <= m - 1)))
      .select(col("i"), col("j"),
        levenshtein(col("li"), col("rj"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    blockedPairs.unionByName(shortPairs).distinct()
  }
}
