package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the driver-generated TESTDATA star schema (TESTDATA.md).
  * One parquet file per table under `\$sfDir/<name>.parquet`.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** OPT-IN scale-adaptive fan-out for compute-dense operators.
    *
    * A parquet scan's task count is ⌈bytes / maxPartitionBytes⌉, and each
    * test-SF table is ONE file with one row group — one task no matter
    * the split size, which serializes scan-stage compute onto a single
    * core while the rest of `local[N]` idles. For operators whose
    * per-row work dwarfs an exchange (shingle explodes + digest mixes,
    * vector dots, edit-distance verification, image codecs, per-row
    * bootstrap draws), round-robining the input across
    * defaultParallelism buys ~N× on that stage for a few-MB shuffle.
    *
    * Deliberately NOT applied at the shared table readers: a blanket
    * fan-out was measured (same-JVM A/B, this round) to cost 0.5-5 s on
    * scan-light and iterative queries — every downstream stage and every
    * loop round inherits `target` tasks whose scheduling overhead
    * exceeds the compute they carry. Each call site below this helper is
    * an operator whose stage work is provably row-dominated.
    *
    * Scale posture: the trigger derives from input size and session
    * parallelism — when the Catalyst size estimate says the scan already
    * splits ≥ parallelism ways (any production input), this is a no-op.
    * Sub-100 KB inputs are left alone. To A/B a change to it, run the
    * parent and the change each from its own worktree.
    * Determinism: gated results are partitioning-invariant by the
    * repo's oracle design, and `repartition(n)` is deterministic under
    * retries (sort-before-repartition, SPARK-23207).
    */
  def fanOutForCompute(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val bytes =
      try BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
      // NonFatal (r14, ADVICE item): a blanket Throwable would swallow
      // OutOfMemoryError/fatal JVM errors into "skip the fan-out"
      catch { case scala.util.control.NonFatal(_) => BigInt(-1) }
    val splitBytes = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val splits = (bytes + splitBytes - 1) / splitBytes
    if (bytes >= 100000 && splits < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` arrives either as parquet TIMESTAMP(NANOS) — which Spark
    * only reads as a long (`spark.sql.legacy.parquet.nanosAsLong=true`,
    * set by the Verify/Bench sessions) — or as TIMESTAMP(MICROS) without
    * UTC adjustment, which Spark 4 reads as TIMESTAMP_NTZ. Normalize both
    * to the same shape: `ts` as a proper UTC timestamp plus the raw
    * `ts_ns` epoch-nanos long — mirroring the reference's epoch-nanos
    * event timestamps held as integers
    * (lib/tre_lib/tre_lib/message.py:125-126).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer DIV, not `/`: Column `/` is DOUBLE division, and at
        // epoch-nanos magnitude (~1.7e18) the quotient is inexact in a
        // double — cast("long") then lands ±1 µs off the true floor on a
        // measurable fraction of rows (observed 127/1000 at sf0.001)
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        // NTZ→TIMESTAMP cast is lossless under the session's UTC zone
        // (Sessions.builder pins spark.sql.session.timeZone=UTC);
        // unix_micros itself rejects TIMESTAMP_NTZ input in Spark 4.
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every TESTDATA table as a temp view so the whole engine
    * surface is reachable from `spark.sql(...)` — `events` keeps its
    * normalized (ts timestamp, ts_ns long) shape.
    * Kept: the ad-hoc `spark.sql` surface over TESTDATA; SqlSurfaceSpec
    * drives it.
    */
  def registerAll(s: SparkSession, d: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(s, d) else table(s, d, n)
      df.createOrReplaceTempView(n)
    }
}
