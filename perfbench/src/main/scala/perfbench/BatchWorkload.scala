package perfbench

import graft.pipeline.TrePipeline
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.util.control.NonFatal

/** Input shape of a batch workload: `bags` consignments with `minFiles` to
  * `maxFiles` payload documents of `docBytes` ± `jitter` bytes each, and
  * `faultShare` of the bags carrying a planted fault.
  */
final case class BatchShape(bags: Int, minFiles: Int, maxFiles: Int, docBytes: Int,
                            jitter: Int, faultShare: Double)

/** A directory of generated bags and the oracle's record of them. */
final case class Input(dir: java.nio.file.Path, expected: Seq[Expected]) {
  def glob: String = s"$dir/*.tar.gz"
}

object BatchWorkload {
  /** Many small bags: per-bag and per-job costs dominate, not bytes. */
  val smallBags = BatchShape(bags = 80, minFiles = 1, maxFiles = 3, docBytes = 4096,
    jitter = 1024, faultShare = 0.05)
}

/** `TrePipeline.runFull` over a fixed set of generated bags, repeated in
  * passes for the run's duration (a closed loop with one client: the next
  * pass starts when the previous one has returned every result).
  *
  * An untraced pass times `runFull` plus collecting what a caller reads:
  * the result events and the output messages (which writes the bundles).
  * A traced pass (every other pass under `--trace 1`) materialises the
  * result fields in pipeline order, persisting each after it is computed,
  * so each stage's time is its own work, not its predecessors'.
  */
final class BatchWorkload(cfg: Run, shape: BatchShape) {
  private val spark = cfg.spark
  import spark.implicits._

  private val tracer = new Tracer(spark)

  private var attempted = 0L
  private var failed = 0L
  private var leak = 0
  private val untracedWall = mutable.ArrayBuffer.empty[Double]
  private val tracedWall = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var passes = 0
  private var bytesOutMb = 0.0
  private var entries = 0L

  private def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def write(): Input = {
    val dir = cfg.work.resolve("bags")
    val refs = (0 until shape.bags).map(i => f"TDR-2023-${cfg.seed % 10000}%04d-$i%05d")
    Fs.delete(dir)
    val sizes = Gen.sizes(cfg.seed, refs, shape.minFiles, shape.maxFiles, shape.docBytes, shape.jitter)
    Input(dir, Gen.writeBags(dir, cfg.seed, refs, Gen.plantFaults(cfg.seed, refs, shape.faultShare),
      sizes, Runtime.getRuntime.availableProcessors))
  }

  def run(): Outcome = {
    // set-up: input generation three times (median), then one warm-up pass
    val gens = (1 to 3).map { _ =>
      val t = System.nanoTime()
      val in = write()
      (Stats.since(t), in)
    }
    val input = gens.last._2
    Stats.log(s"inputs written in ${gens.map(_._1).mkString(", ")} s")
    val t = System.nanoTime()
    pass(input, traced = false)
    val setupS = cfg.sessionS + Stats.median(gens.map(_._1)) + Stats.since(t)
    untracedWall.clear()

    // passes until the next one would end past `seconds`, and at least
    // three untraced (and under --trace 1 two traced) samples
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    def short = failed == 0 && (untracedWall.size < 3 || cfg.trace && tracedWall.size < 2)
    while (short || failed == 0 && Stats.since(t0) + last <= cfg.seconds) {
      val t = System.nanoTime()
      pass(input, traced = cfg.trace && i % 2 == 1)
      last = Stats.since(t)
      i += 1
    }
    outcome(input.expected, setupS)
  }

  private def outcome(expected: Seq[Expected], setupS: Double): Outcome = {
    val payloadMb = expected.map(_.payloadBytes).sum / 1e6
    val med = if (untracedWall.isEmpty) Double.NaN else Stats.median(untracedWall.toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "consignments_per_s" -> shape.bags / med,
      "payload_mb_per_s" -> payloadMb / med,
      "latency_p50_s" -> med)
    val pl: Map[String, Double] = if (!cfg.trace) Map.empty else {
      val m = layer.map { case (k, v) =>
        k -> (if (k == "jvm.heap_after_gc_max_mb") v.max else Stats.median(v.toSeq))
      }.toMap
      Main.perLayer.map(_._1).map(k => k -> m.getOrElse(k, 0.0)).toMap ++ Map(
        "pipeline.wall_s" -> med,
        "pipeline.traced_wall_s" -> Stats.median(tracedWall.toSeq),
        "tracing.overhead_s" -> (Stats.median(tracedWall.toSeq) - med),
        "archive.entries" -> entries.toDouble,
        "archive.bytes_in_mb" -> expected.map(_.archiveBytes).sum / 1e6,
        "archive.bytes_out_mb" -> bytesOutMb,
        "leak.persisted_rdds_after" -> leak.toDouble,
        "latency.samples" -> untracedWall.size.toDouble)
    }
    Outcome(attempted, failed,
      (if (cfg.trace) pl else e2e).filterNot(_._2.isNaN),
      Map("passes" -> passes.toString, "latency_samples" -> untracedWall.mkString(","),
        "traced_passes" -> tracedWall.size.toString, "bags_per_pass" -> shape.bags.toString,
        "payload_mb_per_pass" -> payloadMb.toString))
  }

  /** One pass; its wall time is kept only when every output checks out. */
  private def pass(in: Input, traced: Boolean): Unit = {
    passes += 1
    val out = cfg.work.resolve(s"out-$passes")
    attempted += in.expected.size
    val gc0 = Stats.gcSeconds()
    try {
      val t0 = System.nanoTime()
      val (events, messages) =
        if (traced) tracedPass(in.glob, out.toString) else untracedPass(in.glob, out.toString)
      val wall = Stats.since(t0)
      val gc = Stats.gcSeconds() - gc0
      if (!traced) leak = math.max(leak, Run.persistedRdds(spark))
      val bad = Check.full(in.expected, events, messages, out)
      failed += bad.size
      if (bad.nonEmpty) System.err.println(s"pass $passes: wrong outcome for ${bad.toSeq.sorted.take(5)}")
      else {
        record("jvm.gc_s", gc)
        record("jvm.heap_after_gc_max_mb", Stats.heapAfterGcMb())
        bytesOutMb = Fs.files(out).filter(_.toString.endsWith(".tar.gz"))
          .map(Files.size(_)).sum / 1e6
        (if (traced) tracedWall else untracedWall) += wall
      }
      Stats.log(s"pass $passes (traced: $traced) took $wall s, ${bad.size} wrong")
    } catch { case NonFatal(e) =>
      System.err.println(s"pass $passes failed: $e")
      failed += in.expected.size
    } finally {
      if (traced) tracer.detach()
      Run.isolate(spark)
      Fs.delete(out)
    }
  }

  private type Results = (Seq[(String, Boolean, Seq[String], String)], Seq[(String, String)])

  /** What a caller reads: the result events (which carry each bag's
    * verdict) and the output messages (whose computation writes the bundles).
    */
  private def collectResults(r: graft.pipeline.FullPipelineResult): Results = (
    r.validation.events.select($"bagId", $"ok", $"errors", $"event_name")
      .as[(String, Boolean, Seq[String], String)].collect().toSeq,
    r.outputMessages.select($"bagId", $"sha256").as[(String, String)].collect().toSeq)

  private def untracedPass(glob: String, out: String): Results =
    collectResults(TrePipeline.runFull(spark, glob, out))

  private def tracedPass(glob: String, out: String): Results = {
    tracer.attach()
    tracer.reset()
    def stage[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      tracer.tagged(name) { val x = body; record(s"$name.wall_s", Stats.since(t)); x }
    }
    def persist(df: DataFrame): Unit = { df.persist(); df.count() }

    val t = System.nanoTime()
    val r = tracer.tagged("pipeline.build") {
      val x = TrePipeline.runFull(spark, glob, out); record("pipeline.build_s", Stats.since(t)); x
    }
    val v = r.validation
    entries = stage("archive.explode")(v.entries.count())
    stage("validate.checksums")(persist(v.checksums))
    stage("validate.reconcile")(persist(v.reconciliation))
    stage("validate.verdicts")(persist(v.verdicts))
    stage("model.events")(persist(v.events))
    stage("editorial.prepare") {
      persist(r.parserInputs); persist(r.parserOutputs); persist(r.editorial)
    }
    stage("archive.package")(persist(r.bundles))
    stage("editorial.messages")(persist(r.outputMessages))
    val res = tracer.tagged("results")(collectResults(r))

    val work = tracer.snapshot()
    Main.stages.foreach { s =>
      val w = work.getOrElse(s, new Work)
      record(s"$s.task_s", w.taskMs / 1e3)
      record(s"$s.jobs", w.jobs.toDouble)
      record(s"$s.shuffle_mb", w.shuffleBytes / 1e6)
    }
    record("pipeline.jobs", work.values.map(_.jobs).sum.toDouble)
    record("pipeline.tasks", work.values.map(_.tasks).sum.toDouble)
    record("pipeline.plan_s", work.values.map(_.planMs).sum / 1e3)
    res
  }
}
