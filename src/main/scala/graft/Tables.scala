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
