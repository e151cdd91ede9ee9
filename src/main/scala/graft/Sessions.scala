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
  * bundles, retry state, parquet output, streaming offsets/commits and
  * state-store deltas fork no `chmod`/`readlink` per file. The binding
  * reaches everything that builds its Hadoop conf from the session. It
  * does not reach a `FileSystem.get` that finds a stock instance already
  * cached in the JVM: that cache is keyed by scheme, authority and user,
  * not by conf (`FileSystem.newInstance` bypasses it).
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

  /** Fully-qualified class of Spark's bundled RocksDB state store provider
    * (rocksdbjni ships in Spark's jars — no extra dependency).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch streaming state to the RocksDB provider for queries started
    * AFTER this call (the provider is read from the session conf at query
    * start; running queries keep the store they started with).
    *
    * Why this exists: the default HDFSBackedStateStoreProvider keeps every
    * key's state as deserialized JVM objects on the executor heap — at
    * 100 TB corpus cardinality (hundreds of millions of live sessionize /
    * retry / trending keys per partition group) that's an OOM, not a
    * tuning problem. RocksDB keeps state off-heap/on-disk with block-cache
    * reads, so per-executor state is bounded by disk, not heap, and
    * changelog checkpointing uploads per-batch deltas instead of
    * re-snapshotting the full store (`Trending`/`Sessionize`/
    * `EventStream.retryTracker` state survives key-cardinality growth
    * without executor sizing changes).
    *
    * All `mapGroupsWithState`/`dropDuplicates*` legs in `graft.streaming`
    * are provider-agnostic (state is Tungsten-row encoded either way);
    * RocksDbStateSpec pins a planted hot-key + wide-cardinality run on
    * this provider and asserts the rocksdb metrics fired.
    * Kept: the state-store switch for long-running streams; RocksDbStateSpec
    * pins it.
    */
  def useRocksDbState(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    // per-batch delta uploads instead of full-store snapshots at commit
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark
  }
}
