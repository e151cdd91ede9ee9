package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What the query-sweep mains share (Bench, Verify and the dev-loop tools
  * under `graft.tools`): one session, one between-query cleanup, one timed
  * call that reports a failure instead of timing it.
  */
object Runner {

  /** `Sessions.local(Sessions.cpus)` plus incremental cleaning: a sweep of
    * hundreds of queries accumulates broadcast/shuffle state, and the
    * default periodic GC (30 min) lets it pile into one multi-second stall
    * that lands on an arbitrary query.
    */
  def session(): SparkSession = {
    val spark = Sessions.builder(s"local[${Sessions.cpus}]", Sessions.cpus)
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cached plan and persisted RDD, blocking, then GC.
    *
    * localCheckpoint frames persist MEMORY_AND_DISK blocks that outlive
    * the query (nothing unpersists them), so a sweep accumulates gigabytes
    * of dead blocks whose eviction and GC pressure land on whichever query
    * runs next; a non-blocking drop races the next query's allocation
    * storm (spurious GCLocker OOMs at 8 g). JVM-wide: a caller that caches
    * a frame across queries loses it.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Seconds `body` took, or the class of the non-fatal error it threw
    * (logged to stderr under `what`); then [[isolate]], outside the timed
    * window. Fatal errors propagate.
    */
  def time(spark: SparkSession, what: String)(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    val result =
      try { body; Right((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) =>
        System.err.println(s"[run] $what failed: $e")
        Left(e.getClass.getName)
      }
    isolate(spark)
    result
  }

  /** [[time]] query `name` of [[SparkEntry.queries]] over `sfDir`: its
    * construction plus `sink` over the result.
    */
  def run(spark: SparkSession, name: String, sfDir: String)(
      sink: DataFrame => Unit): Either[String, Double] =
    time(spark, name)(sink(SparkEntry.queries(name)(spark, sfDir)))

  /** Materializes every column; count() would let Catalyst prune the
    * projections and under-report.
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
}
