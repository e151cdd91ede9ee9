package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poisson bootstrap — Efron's bootstrap at corpus scale (Chamandy,
  * Muralidharan, Najmi & Naidu, "Estimating uncertainty for massive
  * data streams", Google TR 2012). A classical bootstrap replicate
  * resamples n rows WITH replacement, which a distributed engine cannot
  * do (it needs a global index and n draws per replicate); but each
  * row's multiplicity in a replicate is Binomial(n, 1/n) → Poisson(1)
  * as n grows, so every row instead draws an INDEPENDENT Poisson(1)
  * weight per replicate. One scan, R map-side weight draws per row,
  * and the per-replicate means fold through one map-combined aggregate
  * — no global state, no second pass, at any corpus size.
  *
  * Draw cost is ONE md5 per ROW, not one per (row, replicate): the
  * 128-bit row digest md5("seed|id") splits into four 31-bit lanes, and
  * replicate r mixes lane r mod 4 with a Carter–Wegman hash
  * u_r = (a_r·lane + b_r) mod P (P = 2³¹−1, Mersenne; a_r, b_r derived
  * driver-side from md5("seed|cw|r") and baked into the plan as
  * LITERALS). The weight is the number of exceeded cumulative cuts
  * floor(CDF_Poisson(1)(k)·P) (k = 0..7, truncating the ~1e-6 tail
  * mass at 8 — identically on both engines). Every product stays below
  * 2⁶², so the arithmetic is exact 64-bit integer end to end: a DuckDB
  * oracle replays every draw bit-for-bit (same lanes, same literal
  * constants), and a re-run on any cluster shape reproduces the same
  * replicate means. This is the same one-hash-plus-integer-mixes
  * pattern as the OPH MinHash family in functions/MinHashSig.scala —
  * measured ~32× fewer md5 evaluations at the 32-replicate gates.
  */
object Bootstrap {

  /** Mersenne-prime modulus of the Carter–Wegman replicate mixes. */
  val P: Long = 2147483647L // 2³¹ − 1

  /** floor(P(Poisson(1) ≤ k) · P) for k = 0..7 (P = 2³¹−1). */
  val poissonCuts: Seq[Long] = Seq(790015083L, 1580030167L, 1975037709L,
    2106706890L, 2139624185L, 2146207644L, 2147304887L, 2147461637L)

  /** Poisson(1) weight from a uniform column on [0, P). */
  def poissonWeight(u: Column): Column =
    poissonCuts.map(c => when(u >= c, 1L).otherwise(0L)).reduce(_ + _)

  /** Per-replicate Carter–Wegman constants a_r ∈ [1, P−1], b_r ∈ [0, P−1],
    * derived from md5("seed|cw|r") — computed ONCE driver-side and baked
    * into both the Spark plan and the rendered oracle SQL as literals.
    */
  def cwConsts(seed: String, rep: Int): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|cw|$rep".getBytes("UTF-8"))
    def u64(off: Int) = BigInt(1, d.slice(off, off + 8))
    ((u64(0) mod BigInt(P - 1)).toLong + 1L, (u64(8) mod BigInt(P)).toLong)
  }

  /** The four 31-bit row lanes of md5("seed|id"): 8 hex digits each,
    * reduced mod P (bias 2⁻³¹ — two residues appear 3× in 2³² instead
    * of 2×; immaterial at these scales).
    */
  private def laneCols(seed: String, id: Column): Seq[Column] = {
    val h = md5(concat(lit(s"$seed|"), id.cast("string")))
    (0 until 4).map(g =>
      conv(substring(h, g * 8 + 1, 8), 16, 10).cast("long") % lit(P))
  }

  /** (pos=rep, col=u) rows — R uniform draws per input row from one
    * digest: posexplodes the length-R array of Carter–Wegman mixes
    * (lane (r mod 4) with the literal (a_r, b_r)); each element is three
    * integer ops, so the generator stays small enough for whole-stage
    * codegen. The 8-cut inverse-CDF weight is applied AFTER the explode,
    * over the plain scalar draw column — inlining it per array element
    * (8 CASE WHENs × R replicates in one Generate) blew the generated
    * method past the codegen limit, fell back to interpreted eval, and
    * measured 2× SLOWER than the 32-md5 path it replaced. Wrapper frames
    * must carry `lane0..lane3`.
    */
  private def explodedDraws(seed: String, replicates: Int): Column = {
    val us = (0 until replicates).map { r =>
      val (a, b) = cwConsts(seed, r)
      (lit(a) * col(s"lane${r % 4}") + lit(b)) % lit(P)
    }
    posexplode(array(us: _*))
  }

  /** Per-replicate WEIGHTED bucket histogram (rep, bucket, n) — the
    * reusable grain for bootstrap quantiles: resampled order statistics
    * fold from one scan into R tiny histograms; quantile selection then
    * runs per-replicate windows over the bucket frame (partitioned by
    * rep — never a corpus-grain sort).
    */
  def poissonBucketCounts(df: DataFrame, idCol: String, bucketCol: String,
                          replicates: Int, seed: String): DataFrame = {
    require(replicates >= 1 && replicates <= 1024, "replicates in [1, 1024]")
    val lanes = laneCols(seed, col(idCol))
    // per-row md5 + R draws + R weights: row-dominated stage work — fan
    // the scan out (no-op at production split counts; Tables doc)
    graft.ops.Hints.spread(df)
      .select(Seq(col(bucketCol).cast("long").as("bkt")) ++
        lanes.zipWithIndex.map { case (c, g) => c.as(s"lane$g") }: _*)
      .select(col("bkt"), explodedDraws(seed, replicates))
      .select(col("bkt"), col("pos").as("rep"), poissonWeight(col("col")).as("w"))
      .groupBy(col("rep"), col("bkt"))
      .agg(sum(col("w")).as("n"))
      .filter(col("n") > 0)
      .select(col("rep").cast("int").as("rep"), col("bkt"), col("n"))
  }

  /** Per-replicate bootstrap means of an integer-valued column:
    * (rep, n_eff, mean_micro) — mean in micro-units of `valueCol`
    * (`sum·10⁶ DIV n_eff`, exact integer). The spread of the R means IS
    * the sampling uncertainty of the corpus mean; quantiles of this
    * R-row frame give the CI (post-processing of a tiny frame).
    * Replicates whose total weight is zero are dropped (possible only
    * for degenerate ≤ a-few-row inputs).
    */
  def poissonMeans(df: DataFrame, idCol: String, valueCol: String,
                   replicates: Int, seed: String): DataFrame = {
    require(replicates >= 1 && replicates <= 1024, "replicates in [1, 1024]")
    val lanes = laneCols(seed, col(idCol))
    // same row-dominated draw stage as poissonBucketCounts
    graft.ops.Hints.spread(df)
      .select(Seq(col(valueCol).cast("long").as("x")) ++
        lanes.zipWithIndex.map { case (c, g) => c.as(s"lane$g") }: _*)
      .select(col("x"), explodedDraws(seed, replicates))
      .select(col("x"), col("pos").as("rep"), poissonWeight(col("col")).as("w"))
      .groupBy(col("rep"))
      // the replicate sum accumulates in decimal(38,0): a 10¹²-row
      // corpus of ~10⁷-unit values overflows int64 (DuckDB's HUGEINT
      // matches); the released mean_micro is back in int64 range
      .agg(sum(col("w")).as("n_eff"),
        sum((col("w") * col("x")).cast("decimal(38,0)")).as("s"))
      .filter(col("n_eff") > 0)
      .select(col("rep").cast("int").as("rep"), col("n_eff"),
        expr("CAST((s * 1000000) DIV n_eff AS BIGINT)").as("mean_micro"))
  }

  // ── oracle-side renderings (DuckDB) — kept next to the draw logic so
  //    the two sides can't drift ──

  /** `consts(rep, a, b)` VALUES body replaying [[cwConsts]]. */
  def cwConstsSqlValues(seed: String, replicates: Int): String =
    (0 until replicates).map { r =>
      val (a, b) = cwConsts(seed, r); s"($r, ${a}, ${b})"
    }.mkString(", ")

  /** SQL for one 31-bit lane of md5 column `m` (DuckDB; 1-based hex
    * offset, exact in DOUBLE below 2³² then reduced mod P in BIGINT).
    */
  def laneSql(m: String, g: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 8),
       |      i -> (strpos('0123456789abcdef', substr($m, ${g * 8} + i, 1)) - 1)
       |           * (16 ** (8 - i)))) AS BIGINT) % $P""".stripMargin

  /** SQL Poisson(1) weight over a `u` column on [0, P). */
  def poissonWeightSql(u: String): String =
    poissonCuts.map(c => s"CASE WHEN $u >= $c THEN 1 ELSE 0 END")
      .mkString(" + ")
}
