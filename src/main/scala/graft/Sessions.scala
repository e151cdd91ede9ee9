package graft

import graft.core.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.spark.sql.SparkSession

/** Canonical session builder: every graft entry point (Verify, Bench,
  * demos, user code) needs the same base configuration — UTC, AQE,
  * shuffle partitions sized to the machine, the TIMESTAMP(NANOS) legacy
  * read for `events.parquet`, µs parquet output for oracle parity.
  *
  * It also binds `file:` to the fork-free local file system for both the
  * `FileSystem` and the `FileContext` API (`graft.core.io.LocalFs`), so
  * bundles, retry state, parquet output and streaming offsets/commits
  * fork no `chmod`/`readlink` per file. The binding reaches everything
  * that builds its Hadoop conf from the session. It does not reach a
  * `FileSystem.get` that finds a stock instance already cached in the
  * JVM: that cache is keyed by scheme, authority and user, not by conf
  * (`FileSystem.newInstance` bypasses it).
  */
object Sessions {

  /** Core count for graft's mains: `SPARK_GRAFT_CPUS`, default every
    * processor the JVM sees.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  /** Local session sized to N cores, with graft's SQL functions registered. */
  def local(cores: Int): SparkSession = {
    val spark = builder(s"local[$cores]", cores).getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
