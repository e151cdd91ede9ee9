package graft.ops.editorial

import graft.SparkSpec
import graft.pipeline.TrePipeline
import java.nio.file.Files
import org.apache.spark.sql.functions._

class RetryLoopSpec extends SparkSpec {
  import spark.implicits._

  test("retryStateMachine: accepts last+1, rejects gaps, hard-fails at the limit") {
    // A: clean 1,2,3 → retry, retry, fail(limit)
    // B: first message claims retry 2 (no prior accepted) → error; then 1 → retry
    // C: 1 ok, then gap to 3 → fail fires before the gap check (limit first)
    val msgs = Seq(
      ("A", 1, 1), ("A", 2, 2), ("A", 3, 3),
      ("B", 1, 2), ("B", 2, 1),
      ("C", 1, 1), ("C", 2, 4)
    ).toDF("reference", "seq", "incoming")
    val got = RetryLoop.retryStateMachine(msgs, "reference", "seq", "incoming", 3)
      .orderBy($"reference", $"seq")
      .select($"reference", $"seq", $"expected", $"route")
      .as[(String, Int, Int, String)].collect().toSeq
    assert(got == Seq(
      ("A", 1, 1, "retry"), ("A", 2, 2, "retry"), ("A", 3, 3, "fail"),
      ("B", 1, 1, "error"), ("B", 2, 1, "retry"),
      ("C", 1, 1, "retry"), ("C", 2, 2, "fail")))
  }

  test("handleRetry: reload → bump → save round trip, reference error texts") {
    val conf = spark.sparkContext.hadoopConfiguration
    val state = Files.createTempDirectory("retrystate").toString

    // no state at all → the RetryHandler abort
    assert(RetryLoop.handleRetry(conf, state, "judgment", "TDR-X", 1) ==
      Left("No TDR output data found"))

    val seed = """{"editorial-output":{"consignment-reference":"TDR-X","s3-folder-url":"file://orig.tar.gz","consignment-type":"judgment","number-of-retries":1},"tar-gz":{"bucket":"local","key":"k","items":"[]"}}"""
    RetryLoop.seedState(conf, state, "judgment", "TDR-X", seed)

    // wrong incoming (expected 1) → reference error text, state unchanged
    val bad = RetryLoop.handleRetry(conf, state, "judgment", "TDR-X", 5)
    assert(bad == Left("""Expected number-of-retries to be "1" but got "5""""))

    // correct incoming → reloaded message (orig URL preserved), saved at /0/1/
    val r1 = RetryLoop.handleRetry(conf, state, "judgment", "TDR-X", 1)
    assert(r1.isRight)
    assert(r1.toOption.get._2.contains(""""s3-folder-url":"file://orig.tar.gz""""))
    val p1 = RetryLoop.messagePath(state, "judgment", "TDR-X", 0, 1)
    assert(r1.toOption.get._1 == p1.toString)
    assert(p1.getFileSystem(conf).exists(p1))

    // next round: expected advances to 2, bump lands in the saved copy
    val r2 = RetryLoop.handleRetry(conf, state, "judgment", "TDR-X", 2)
    assert(r2.toOption.get._2.contains(""""number-of-retries":2"""))
    assert(RetryLoop.handleRetry(conf, state, "judgment", "TDR-X", 2) ==
      Left("""Expected number-of-retries to be "3" but got "2""""))
  }

  private def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes).map("%02x".format(_)).mkString

  private def writeBag(dir: java.nio.file.Path, name: String,
                       files: Seq[(String, String)]): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val out = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(Files.newOutputStream(dir.resolve(name))))
    files.foreach { case (n, c) =>
      val b = c.getBytes; val e = new TarArchiveEntry(n)
      e.setSize(b.length.toLong); out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    }
    out.close()
  }

  /** A bag whose manifest digest never matches its payload. */
  private def writeCorrupt(dir: java.nio.file.Path): Unit =
    writeBag(dir, "TDR-CORRUPT.tar.gz", Seq(
      "./TDR-CORRUPT/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-CORRUPT/manifest-sha256.txt" -> (("0" * 64) + "  data/doc.docx"),
      "./TDR-CORRUPT/data/doc.docx" -> "BROKEN"))

  test("runWithRetries drives a corrupt bag 0→1→2→FAILED with persisted state") {
    val dir = Files.createTempDirectory("retrybags")
    val state = Files.createTempDirectory("retrystate2")
    writeBag(dir, "TDR-OK.tar.gz", Seq(
      "./TDR-OK/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-OK/manifest-sha256.txt" -> (sha("FINE") + "  data/doc.docx"),
      "./TDR-OK/data/doc.docx" -> "FINE"))
    writeCorrupt(dir)

    val history = TrePipeline.runWithRetries(
      spark, dir.toString + "/*.tar.gz", state.toString, maxRetries = 3)
    val routes = history.orderBy($"bagId", $"attempt")
      .select($"bagId", $"attempt", $"route")
      .as[(String, Int, String)].collect().toSeq

    // valid bag settles at attempt 0; corrupt bag retries through the
    // protocol and hard-fails when incoming reaches the limit
    assert(routes == Seq(
      ("TDR-CORRUPT", 0, "retry"), ("TDR-CORRUPT", 1, "retry"),
      ("TDR-CORRUPT", 2, "retry"), ("TDR-CORRUPT", 3, "fail"),
      ("TDR-OK", 0, "ok")))

    // saved/reloaded state: folders 0/0, 0/1, 0/2 exist; the final saved
    // message carries the bumped count AND the attempt-0 URL (reloaded,
    // not regenerated)
    val conf = spark.sparkContext.hadoopConfiguration
    (0 to 2).foreach { k =>
      val p = RetryLoop.messagePath(state.toString, "judgment", "TDR-CORRUPT", 0, k)
      assert(p.getFileSystem(conf).exists(p), s"missing state folder $k")
    }
    val last = history.filter($"attempt" === 2 && $"bagId" === "TDR-CORRUPT")
      .select($"message").as[String].head()
    assert(last.contains(""""number-of-retries":2"""))
    assert(last.contains(""""s3-folder-url":"file://TDR-CORRUPT.tar.gz""""))
    // no state folder for the failed attempt (limit check fires before save)
    val p3 = RetryLoop.messagePath(state.toString, "judgment", "TDR-CORRUPT", 0, 3)
    assert(!p3.getFileSystem(conf).exists(p3))
  }

  test("retry re-reads the failing archives: a bag repaired upstream recovers") {
    val dir = Files.createTempDirectory("retryrepair")
    val state = Files.createTempDirectory("retrystate3")
    // manifest claims the GOOD digest but the bag ships broken bytes —
    // the upstream re-export (simulated in onAttempt) fixes the payload
    writeBag(dir, "TDR-FLAKY.tar.gz", Seq(
      "./TDR-FLAKY/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-FLAKY/manifest-sha256.txt" -> (sha("GOOD") + "  data/doc.docx"),
      "./TDR-FLAKY/data/doc.docx" -> "BROKEN"))
    val history = TrePipeline.runWithRetries(
      spark, dir.toString + "/*.tar.gz", state.toString, maxRetries = 3,
      onAttempt = a => if (a == 2) writeBag(dir, "TDR-FLAKY.tar.gz", Seq(
        "./TDR-FLAKY/bagit.txt" -> "BagIt-Version: 0.97",
        "./TDR-FLAKY/manifest-sha256.txt" -> (sha("GOOD") + "  data/doc.docx"),
        "./TDR-FLAKY/data/doc.docx" -> "GOOD")))
    val routes = history.orderBy($"attempt")
      .select($"attempt", $"route").as[(Int, String)].collect().toSeq
    // fails at 0, retries at 1 (still broken), recovers at 2 after repair
    assert(routes == Seq((0, "retry"), (1, "retry"), (2, "ok")))
  }

  test("runWithRetries runs one plain job per attempt, no SQL query, and caches nothing") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftbridge.drainListeners
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("retryjobs")
    val state = Files.createTempDirectory("retryjobsstate")
    writeCorrupt(dir)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val jobs, queries = new AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        queries.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet()
    }
    drainListeners(spark)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    val history = try {
      val h = TrePipeline.runWithRetries(
        spark, dir.toString + "/*.tar.gz", state.toString, maxRetries = 3)
      drainListeners(spark)
      h
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
    val rounds = history.filter($"attempt" > 0).count()
    assert(rounds == 3)
    // attempt 0 and every retry round are one plain job each
    assert((jobs.get, queries.get) == (1 + rounds, 0))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("history reports each retry path under the TDR folder handleRetry wrote") {
    val dir = Files.createTempDirectory("retrytdr")
    val state = Files.createTempDirectory("retrytdrstate")
    writeCorrupt(dir)
    // a TDR re-export left retry folder 1: RetryHandler continues under it
    val conf = spark.sparkContext.hadoopConfiguration
    val tdr1 = RetryLoop.messagePath(state.toString, "judgment", "TDR-CORRUPT", 1, 0)
    graft.core.io.Storage.writeString(tdr1.getFileSystem(conf), tdr1,
      """{"editorial-output":{"number-of-retries":0}}""", overwrite = false)
    val paths = TrePipeline.runWithRetries(spark, dir.toString + "/*.tar.gz", state.toString)
      .filter($"route" === "retry" && $"attempt" > 0).orderBy($"attempt")
      .select($"msg_path").as[String].collect().toSeq
    val want = (1 to 2).map(k => RetryLoop.messagePath(state.toString, "judgment", "TDR-CORRUPT", 1, k))
    assert(paths == want.map(_.toString))
    want.foreach(p => assert(p.getFileSystem(conf).exists(p), s"missing $p"))
  }

  test("a seed whose rename-in fails raises, and a re-delivery starts afresh") {
    import graft.core.io.FaultyFs
    FaultyFs.bind(spark)
    Seq(FaultyFs.Throw, FaultyFs.ReturnFalse).foreach { mode =>
      val dir = Files.createTempDirectory("retryseedfault")
      val state = Files.createTempDirectory("retryseedfaultstate").toString
      writeCorrupt(dir)
      val glob = dir.toString + "/*.tar.gz"
      val seedDir = RetryLoop.messagePath(state, "judgment", "TDR-CORRUPT", 0, 0).getParent
      val (failure, steps) = FaultyFs.armed(seedDir.toString, 1, mode)(
        TrePipeline.runWithRetries(spark, glob, FaultyFs.uri(state)))
      assert(failure.nonEmpty, s"$mode: runWithRetries reported success after a failed seed")
      assert(steps >= 1, s"$mode: the seed was not renamed in")
      val routes = TrePipeline.runWithRetries(spark, glob, state)
        .orderBy($"attempt").select($"attempt", $"route").as[(Int, String)].collect().toSeq
      assert(routes == Seq((0, "retry"), (1, "retry"), (2, "retry"), (3, "fail")), s"$mode")
    }
  }

  test("a retry folder whose rename-in fails raises, and the same retry then succeeds") {
    import graft.core.io.FaultyFs
    FaultyFs.bind(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val seed = """{"editorial-output":{"consignment-reference":"TDR-X","number-of-retries":0}}"""
    Seq(FaultyFs.Throw, FaultyFs.ReturnFalse).foreach { mode =>
      val state = Files.createTempDirectory("retryfolderfault").toString
      RetryLoop.seedState(conf, state, "judgment", "TDR-X", seed)
      val edRoot = RetryLoop.messagePath(state, "judgment", "TDR-X", 0, 0).getParent.getParent
      val (failure, steps) = FaultyFs.armed(edRoot.toString, 1, mode)(
        RetryLoop.handleRetry(conf, FaultyFs.uri(state), "judgment", "TDR-X", 1))
      assert(failure.nonEmpty, s"$mode: handleRetry reported success after a failed rename")
      assert(steps >= 1, s"$mode: the retry folder was not renamed in")
      // neither folder 1 nor its stage is left beside the seed
      val fs = edRoot.getFileSystem(conf)
      assert(fs.listStatus(edRoot).map(_.getPath.getName).toSeq == Seq("0"), s"$mode")
      val p1 = RetryLoop.messagePath(state, "judgment", "TDR-X", 0, 1)
      val again = RetryLoop.handleRetry(conf, state, "judgment", "TDR-X", 1)
      assert(again.map(_._1) == Right(p1.toString), s"$mode: $again")
      assert(again.toOption.get._2.contains(""""number-of-retries":1"""), s"$mode")
      assert(fs.exists(p1), s"$mode")
    }
  }

  test("a bag whose saved state vanished takes the error route and stops") {
    val dir = Files.createTempDirectory("retrylost")
    val state = Files.createTempDirectory("retryloststate")
    writeCorrupt(dir)
    val saved = new org.apache.hadoop.fs.Path(state.toString, "judgment/TDR-CORRUPT")
    val history = TrePipeline.runWithRetries(
      spark, dir.toString + "/*.tar.gz", state.toString, maxRetries = 3,
      onAttempt = a => if (a == 2)
        saved.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(saved, true))
    val routes = history.orderBy($"attempt")
      .select($"attempt", $"route").as[(Int, String)].collect().toSeq
    assert(routes == Seq((0, "retry"), (1, "retry"), (2, "error: No TDR output data found")))
  }
}
