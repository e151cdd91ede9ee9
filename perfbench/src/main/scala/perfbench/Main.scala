package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What one run measured: operations attempted and failed, and metric
  * values by name (the unit comes from the metric tables below).
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double],
                         info: Map[String, String] = Map.empty)

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Starts the session users get (`graft.Sessions.local(nproc)`), runs one
  * workload, checks its outputs and prints one JSON result line last. With
  * `--trace 0` the line carries the end-to-end metrics, with `--trace 1`
  * the per-layer ones. The exit code is 1 when any output check failed.
  */
object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "consignments_per_s" -> "1/s",
    "payload_mb_per_s" -> "MB/s",
    "latency_p50_s" -> "s")

  val stages: Seq[String] = Seq("archive.explode", "validate.checksums", "validate.reconcile",
    "validate.verdicts", "model.events", "editorial.prepare", "archive.package",
    "editorial.messages")

  val perLayer: Seq[(String, String)] =
    stages.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.task_s" -> "s", s"$s.jobs" -> "count",
      s"$s.shuffle_mb" -> "MB")) ++ Seq(
      "pipeline.wall_s" -> "s",
      "pipeline.traced_wall_s" -> "s",
      "pipeline.build_s" -> "s",
      "pipeline.plan_s" -> "s",
      "pipeline.jobs" -> "count",
      "pipeline.tasks" -> "count",
      "archive.entries" -> "count",
      "archive.bytes_in_mb" -> "MB",
      "archive.bytes_out_mb" -> "MB",
      "jvm.heap_after_gc_max_mb" -> "MB",
      "jvm.gc_s" -> "s",
      "leak.persisted_rdds_after" -> "count",
      "streaming.pickup_s" -> "s",
      "streaming.handler_s" -> "s",
      "streaming.retry_batch_latency_s" -> "s",
      "pipeline.jobs_per_clean_batch" -> "count",
      "pipeline.jobs_per_retry_batch" -> "count",
      "editorial.retry_rounds" -> "count",
      "editorial.retry_round_s" -> "s",
      "editorial.state_files" -> "count",
      "tracing.overhead_s" -> "s",
      "latency.samples" -> "count")

  val workloads: Map[String, Run => Outcome] = Map(
    "tre_small_bags" -> (r => new BatchWorkload(r, BatchWorkload.smallBags).run()),
    "tre_stream" -> (r => new StreamWorkload(r).run()))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val body = workloads.getOrElse(name, {
      System.err.println(s"unknown workload $name; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val work = Paths.get(opt("work")).toAbsolutePath.resolve(name)
    Files.createDirectories(work.getParent)
    Fs.delete(work)
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Stats.since(t0)
    Stats.log(s"session started in $sessionS s")

    val run = Run(spark, seed, opt("seconds").toDouble, trace, work, sessionS)
    val outcome =
      try body(run)
      catch { case NonFatal(e) =>
        e.printStackTrace()
        Outcome(1, 1, Map.empty)
      } finally {
        Run.isolate(spark)
        spark.stop()
        Fs.delete(work)
        Stats.log("session stopped")
      }

    val env = Map(
      "workload" -> name, "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> cores.toString, "master" -> s"local[$cores]",
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "load_avg_start" -> loadStart.toString, "load_avg_end" -> loadAvg().toString) ++
      outcome.info
    println(Json.obj(Map("env" -> Json.obj(env.map { case (k, v) => k -> Json.str(v) }))))

    val table = if (trace) perLayer else endToEnd
    val missing = table.map(_._1).filterNot(outcome.metrics.contains)
    val correct = outcome.failed == 0 && missing.isEmpty
    if (missing.nonEmpty) System.err.println(s"metrics not measured: ${missing.mkString(", ")}")
    val metrics = table.filter(m => outcome.metrics.contains(m._1)).map { case (m, unit) =>
      m -> Json.obj(Map("value" -> Json.num(outcome.metrics(m)), "unit" -> Json.str(unit)))
    }
    println(Json.obj(Map(
      "correct" -> correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.toMap))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** One run's fixed inputs. */
final case class Run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, sessionS: Double)

object Run {
  /** Between passes, outside any timed window: drop cached frames, every
    * persisted RDD and any streaming query left running.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q => q.stop(); q.awaitTermination() }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def persistedRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size
}

object Stats {
  private val start = System.nanoTime()

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${since(start)}%7.2f s: $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median, or 0 when the layer was not exercised in this workload. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Total GC time so far, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after the most recent collection, MB. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def files(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def obj(fields: Map[String, String]): String =
    fields.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
