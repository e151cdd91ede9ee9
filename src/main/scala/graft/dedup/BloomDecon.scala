package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination: the eval suite's shingle set
  * is folded into an m-bit Bloom bitset (k deterministic md5-derived hash
  * functions), the bitset rides a broadcast literal, and the training
  * corpus is probed columnar-side — no shuffle of the corpus, no join
  * against the (much larger) shingle table except for the exact-verify
  * pass, which only ever touches Bloom candidates.
  *
  * Contrast with `Dedup.contamination` (broadcast hash-set semi-join):
  * the Bloom bitset is O(m) bits regardless of eval-set size, so it
  * stays broadcastable when the eval suite grows past what a literal
  * in-set can carry; the price is a measurable false-positive rate that
  * the exact-verify pass then removes. The md5 hash family keeps every
  * bit position SQL-replayable (same trick as `ops.Sampling`'s md5 gate).
  */
object BloomDecon {

  /** Hash-i bit position of shingle `g`: first 4 md5 hex chars of
    * "g#i" → [0, 65536) → mod m. Deterministic across engines.
    */
  def position(g: Column, i: Int, m: Int): Column =
    pmod(conv(substring(md5(concat(g, lit(s"#$i"))), 1, 4), 16, 10).cast("int"), lit(m))

  /** Build the bitset (m/64 longs) from a single-column frame of
    * distinct shingles. Runs as one distributed aggregation over the
    * eval shingles; the collect is the filter itself (m bits — 512 bytes
    * at m=4096), i.e. the object that would be broadcast to executors.
    */
  def buildBits(evalShingles: DataFrame, gCol: String, m: Int, k: Int): Array[Long] = {
    require(m % 64 == 0, "m must be a multiple of 64")
    val posArr = array((1 to k).map(i => position(col(gCol), i, m)): _*)
    val words = evalShingles
      .select(explode(posArr).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("p") % 64).cast("int")).as("bit"))
      .groupBy(col("w"))
      .agg(expr("bit_or(bit)").as("word"))
      .collect()
    val bits = new Array[Long](m / 64)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    bits
  }

  /** Probe column: true iff ANY shingle in `shArr` has all k bits set in
    * `bits`. Since r13 this routes through the native
    * [[graft.functions.BloomProbeExpr]] loop: the declarative HOF form
    * (kept below as [[probeDeclarative]], parity-pinned by spec)
    * materialized all k md5 positions per key as hex strings before any
    * bit test — the native loop interleaves digest and test, so a
    * non-member pays ~1 digest instead of k, with no hex round-trip
    * (r13 opt, guide §1.2 per-task work).
    */
  def probe(shArr: Column, bits: Array[Long], m: Int, k: Int): Column =
    graft.functions.bloom_probe(shArr, bits.toIndexedSeq, m, k)

  /** The original declarative probe — the SQL-replayable rendering the
    * parity spec pins [[probe]] against; not used on hot paths.
    * Kept: declarative parity rendering of the native Bloom probe, pinned by
    * CorpusOpsSpec.
    */
  def probeDeclarative(shArr: Column, bits: Array[Long], m: Int, k: Int): Column = {
    val bitsLit = typedLit(bits.toSeq)
    exists(shArr, g =>
      forall(array((1 to k).map(i => position(g, i, m)): _*), p =>
        (element_at(bitsLit, (p / 64).cast("int") + 1)
          .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int")))) =!= 0L))
  }

  /** End-to-end decontamination summary: candidates by Bloom probe,
    * exact-verified against the true eval shingle set (semi-join runs
    * only over candidate docs), plus the false-positive count — the
    * operating-point observable for sizing m and k.
    * `train`/`eval` must carry `idCol` and a distinct-shingle array
    * column `shCol`. Returns one row:
    * (n_train, n_candidates, n_true, n_false_pos).
    */
  def summary(train: DataFrame, eval: DataFrame, idCol: String, shCol: String,
              m: Int, k: Int): DataFrame = {
    val evalSh = eval.select(explode(col(shCol)).as("g")).distinct()
    val bits = buildBits(evalSh, "g", m, k)
    val cand = train.select(col(idCol).as("id"),
      probe(col(shCol), bits, m, k).as("candidate"), col(shCol).as("sh"))
      // both the exact-verify branch and the final tally read this frame;
      // materialize so the shingling + 3·|shingles| md5 probe runs once
      .localCheckpoint(eager = false)
    val hits = cand.filter(col("candidate"))
      .select(col("id"), explode(col("sh")).as("g"))
      .join(broadcast(evalSh), Seq("g"))
      .select(col("id")).distinct()
      .withColumn("hit", lit(true))
    cand.join(hits, Seq("id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(false)))
      .agg(
        count(lit(1)).as("n_train"),
        sum(col("candidate").cast("long")).as("n_candidates"),
        sum(col("hit").cast("long")).as("n_true"),
        sum((col("candidate") && !col("hit")).cast("long")).as("n_false_pos"))
  }
}
