package perfbench

import graft.pipeline.TrePipeline
import graft.streaming.EventStream
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.util.control.NonFatal

/** What the stream handler saw for one micro-batch. */
final case class Handled(refs: Seq[String], dlq: Int, rows: Seq[(String, Int, String)],
                         startNs: Long, doneNs: Long, buildS: Double, attemptNs: Seq[Long],
                         error: Option[Throwable])

/** The queue front end in a closed loop with one client. The client drops
  * one file of 10 `bagit-available` events (one SQS-sized batch) into the
  * watched directory and waits until all 10 consignments reach a terminal
  * route before dropping the next. Every third batch holds exactly one
  * corrupt bag, so that batch runs every retry round.
  *
  * The stream is `EventStream.readRaw` → `decoded` → `withRetryRoute` with
  * `Trigger.ProcessingTime(0)`; its `foreachBatch` handler runs
  * `TrePipeline.runWithRetries` on a `{ref1,…,ref10}.tar.gz` glob.
  * Latency is file drop to the last terminal route, split into clean and
  * retry batches.
  */
final class StreamWorkload(cfg: Run) {
  private val spark = cfg.spark
  import spark.implicits._

  private val batchSize = 10
  private val bagsDir = cfg.work.resolve("bags")
  private val queueDir = cfg.work.resolve("queue")
  private val stagingDir = cfg.work.resolve("staging")
  private val stateDir = cfg.work.resolve("state")
  private val tracer = new Tracer(spark)
  private val handled = new LinkedBlockingQueue[Handled]()
  private val rnd = new java.util.SplittableRandom(cfg.seed)

  private var attempted = 0L
  private var failed = 0L
  private var leak = 0
  private val cleanLatency = mutable.ArrayBuffer.empty[Double]
  private val retryLatency = mutable.ArrayBuffer.empty[Double]
  private val tracedCleanLatency = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Batches come in cycles of three: clean, clean, retry (one corrupt
    * bag). The first cycle warms up; the measured loop runs whole cycles,
    * so every run holds the same mix of batches.
    */
  private def isRetry(batch: Int): Boolean = batch % 3 == 2

  private def refsOf(batch: Int): Seq[String] =
    (0 until batchSize).map(i => f"TDR-2023-S${cfg.seed % 10000}%04d-$batch%04d-$i%02d")

  /** Bags of one batch; a retry batch has one seeded corrupt bag. */
  private def writeBatch(batch: Int, retry: Boolean): Seq[Expected] = {
    val refs = refsOf(batch)
    val corrupt = new java.util.SplittableRandom(cfg.seed * 1000003L + batch).nextInt(batchSize)
    val faulty = if (retry) Map(refs(corrupt) -> 0) else Map.empty[String, Int]
    Gen.writeBags(bagsDir, cfg.seed, refs, faulty, Gen.sizes(cfg.seed + batch, refs, 1, 1, 4096, 1024), 2)
  }

  private def event(ref: String): String = {
    val uuid = new java.util.UUID(rnd.nextLong(), rnd.nextLong())
    s"""{"version":"1.0.0","timestamp":1660000000000000000,""" +
      s""""UUIDs":[{"TDR-UUID":"$uuid"}],""" +
      """"producer":{"name":"TDR","process":"export","type":"judgment",""" +
      """"environment":"dev","event-name":"bagit-available"},""" +
      s""""parameters":{"bagit-available":{"reference":"$ref"}}}"""
  }

  private def handler(batch: Dataset[Row], id: Long): Unit = {
    val start = System.nanoTime()
    var refs = Seq.empty[String]
    var dlq = 0
    try {
      val routed = tracer.tagged("stream.dispatch") {
        batch.select(get_json_object(
            element_at($"event.parameters", $"event.producer.event-name"),
            "$.reference").as("ref"), $"route")
          .as[(String, String)].collect().toSeq
      }
      refs = routed.filter(_._2 != "dlq").map(_._1)
      dlq = routed.count(_._2 == "dlq")
      if (refs.nonEmpty) {
        val attempts = mutable.ArrayBuffer.empty[Long]
        val t = System.nanoTime()
        val history = tracer.tagged("pipeline.retries") {
          TrePipeline.runWithRetries(spark, s"$bagsDir/{${refs.mkString(",")}}.tar.gz",
            stateDir.toString, onAttempt = _ => attempts += System.nanoTime())
        }
        val buildS = Stats.since(t)
        val rows = tracer.tagged("results") {
          history.select($"bagId", $"attempt", $"route").as[(String, Int, String)].collect().toSeq
        }
        val done = System.nanoTime()
        leak = math.max(leak, Run.persistedRdds(spark))
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        handled.put(Handled(refs, dlq, rows, start, done, buildS, attempts.toSeq, None))
      } else if (dlq > 0) handled.put(Handled(Nil, dlq, Nil, start, start, 0, Nil, None))
    } catch { case NonFatal(e) =>
      handled.put(Handled(refs, dlq, Nil, start, System.nanoTime(), 0, Nil, Some(e)))
    }
  }

  private def startStream(): StreamingQuery = {
    val decoded = EventStream.decoded(EventStream.readRaw(spark, queueDir.toString))
    EventStream.withRetryRoute(decoded).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", cfg.work.resolve("checkpoint").toString)
      .foreachBatch((b: Dataset[Row], id: Long) => handler(b, id))
      .start()
  }

  /** Drop batch `k`'s events and wait for every consignment's terminal
    * route. Returns false when the batch failed its check or timed out.
    */
  private def roundTrip(k: Int, expected: Seq[Expected], retry: Boolean, traced: Boolean,
                        measured: Boolean): Boolean = {
    val staged = stagingDir.resolve(s"batch-$k.jsonl")
    Files.write(staged, expected.map(e => event(e.ref)).mkString("", "\n", "\n").getBytes("UTF-8"))
    if (traced) { tracer.attach(); tracer.reset() }
    val drop = System.nanoTime()
    Files.move(staged, queueDir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val want = expected.map(_.ref).toSet
    val got = mutable.ArrayBuffer.empty[Handled]
    val deadline = drop + 60L * 1000000000L
    while (!want.subsetOf(got.flatMap(_.refs).toSet) && got.forall(_.error.isEmpty) &&
        System.nanoTime() < deadline) {
      Option(handled.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)).foreach(got += _)
    }
    if (traced) tracer.detach()
    attempted += batchSize
    val bad = Check.routes(expected, got.flatMap(_.rows).toSeq)
    val dlq = got.map(_.dlq).sum
    got.flatMap(_.error).foreach(e => System.err.println(s"batch $k failed: $e"))
    if (bad.nonEmpty || dlq > 0) {
      System.err.println(s"batch $k: wrong routes for ${bad.toSeq.sorted.take(5)}, $dlq dead-lettered")
      failed += math.max(bad.size, 1)
      return false
    }
    val latency = (got.map(_.doneNs).max - drop) / 1e9
    Stats.log(s"batch $k (retry: $retry, traced: $traced) took $latency s")
    if (measured) {
      (if (retry) retryLatency else if (traced) tracedCleanLatency else cleanLatency) += latency
      if (!traced) {
        record("streaming.pickup_s", (got.map(_.startNs).min - drop) / 1e9)
        record("jvm.heap_after_gc_max_mb", Stats.heapAfterGcMb())
        if (!retry) {
          record("streaming.handler_s", got.map(h => (h.doneNs - h.startNs) / 1e9).sum)
          record("pipeline.build_s", got.map(_.buildS).sum)
        } else {
          val a = got.flatMap(_.attemptNs).sorted
          record("editorial.retry_rounds", a.size.toDouble)
          a.zip(a.drop(1)).foreach { case (x, y) => record("editorial.retry_round_s", (y - x) / 1e9) }
          // message files only, not the local file system's .crc sidecars
          record("editorial.state_files", expected.map(e =>
            Fs.files(stateDir.resolve(s"judgment/${e.ref}"))
              .count(!_.getFileName.toString.startsWith("."))).sum.toDouble)
        }
      } else {
        val work = tracer.snapshot()
        val jobs = work.values.map(_.jobs).sum.toDouble
        record(if (retry) "pipeline.jobs_per_retry_batch" else "pipeline.jobs_per_clean_batch", jobs)
        if (!retry) {
          record("pipeline.jobs", jobs)
          record("pipeline.tasks", work.values.map(_.tasks).sum.toDouble)
          record("pipeline.plan_s", work.values.map(_.planMs).sum / 1e3)
        }
      }
    }
    true
  }

  def run(): Outcome = {
    Seq(bagsDir, queueDir, stagingDir, stateDir).foreach(Files.createDirectories(_))
    // set-up: write the first batches' bags three times (median), start the
    // stream, then one warm-up cycle
    val gens = (1 to 3).map { _ =>
      Fs.delete(bagsDir)
      val t = System.nanoTime()
      val exp = (0 until 12).map(k => writeBatch(k, isRetry(k)))
      (Stats.since(t), exp)
    }
    val expected = mutable.ArrayBuffer.from(gens.last._2)
    val t = System.nanoTime()
    val query = startStream()
    try {
      val warm = (0 to 2).forall(k =>
        roundTrip(k, expected(k), isRetry(k), traced = false, measured = false))
      val setupS = cfg.sessionS + Stats.median(gens.map(_._1)) + Stats.since(t)
      val gc0 = Stats.gcSeconds()
      val t0 = System.nanoTime()
      var k = 3
      var ok = warm
      def short = cleanLatency.isEmpty || retryLatency.isEmpty || cfg.trace &&
        (tracedCleanLatency.isEmpty || !layer.contains("pipeline.jobs_per_retry_batch"))
      while (ok && (k % 3 != 0 || Stats.since(t0) < cfg.seconds || short)) {
        if (k >= expected.size) expected += writeBatch(k, isRetry(k))
        ok = roundTrip(k, expected(k), isRetry(k), traced = cfg.trace && k % 2 == 0, measured = true)
        k += 1
      }
      record("jvm.gc_s", (Stats.gcSeconds() - gc0) / math.max(1, k - 3))
      outcome(setupS, expected.slice(3, k).flatten.map(_.payloadBytes).sum, k - 3)
    } finally {
      query.stop()
      query.awaitTermination()
    }
  }

  private def outcome(setupS: Double, payload: Long, batches: Int): Outcome = {
    val clean = if (cleanLatency.nonEmpty) Stats.median(cleanLatency.toSeq) else Double.NaN
    // one client: consignments completed per second of loop time
    val loopS = cleanLatency.sum + retryLatency.sum + tracedCleanLatency.sum
    val done = batchSize.toDouble * (cleanLatency.size + retryLatency.size + tracedCleanLatency.size)
    val e2e = Map(
      "setup_s" -> setupS,
      "consignments_per_s" -> done / loopS,
      "payload_mb_per_s" -> payload / 1e6 / loopS,
      "latency_p50_s" -> clean)
    val pl: Map[String, Double] = if (!cfg.trace) Map.empty else {
      val m = layer.map { case (k, v) =>
        k -> (if (k == "jvm.heap_after_gc_max_mb") v.max else Stats.median(v.toSeq))
      }.toMap
      Main.perLayer.map(_._1).map(k => k -> m.getOrElse(k, 0.0)).toMap ++ Map(
        "pipeline.wall_s" -> clean,
        "pipeline.traced_wall_s" -> Stats.medianOr0(tracedCleanLatency.toSeq),
        "tracing.overhead_s" -> (Stats.medianOr0(tracedCleanLatency.toSeq) - clean),
        "streaming.retry_batch_latency_s" -> Stats.medianOr0(retryLatency.toSeq),
        "leak.persisted_rdds_after" -> leak.toDouble,
        "latency.samples" -> cleanLatency.size.toDouble)
    }
    Outcome(attempted, failed, (if (cfg.trace) pl else e2e).filterNot(_._2.isNaN),
      Map("batches" -> batches.toString, "clean_samples" -> cleanLatency.mkString(","),
        "retry_samples" -> retryLatency.mkString(","),
        "traced_clean_samples" -> tracedCleanLatency.size.toString,
        "retry_batch_latency_p50_s" -> Stats.medianOr0(retryLatency.toSeq).toString))
  }
}
