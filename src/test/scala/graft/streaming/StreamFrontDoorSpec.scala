package graft.streaming

import graft.SparkSpec
import graft.ops.editorial.RetryLoop
import graft.pipeline.TrePipeline
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The stream front door as the `tre_stream` benchmark drives it: file
  * drops → `EventStream.decoded` → `withRetryRoute` → a `foreachBatch`
  * that runs `TrePipeline.runWithRetries` on the batch's references. The
  * stream keeps no state; a re-delivered consignment is caught by the K1
  * seed guard (`RetryLoop.seedState`).
  */
class StreamFrontDoorSpec extends SparkSpec {
  import spark.implicits._

  private def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes).map("%02x".format(_)).mkString

  private def writeBag(dir: java.nio.file.Path, ref: String, doc: String): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val out = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(Files.newOutputStream(dir.resolve(s"$ref.tar.gz"))))
    Seq(s"./$ref/bagit.txt" -> "BagIt-Version: 0.97",
      s"./$ref/manifest-sha256.txt" -> (sha("GOOD") + "  data/doc.docx"),
      s"./$ref/data/doc.docx" -> doc).foreach { case (n, c) =>
      val b = c.getBytes; val e = new TarArchiveEntry(n)
      e.setSize(b.length.toLong); out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    }
    out.close()
  }

  private def event(uuid: String, ref: String): String =
    s"""{"version":"1.0.0","timestamp":1660000000000000000,""" +
      s""""UUIDs":[{"TDR-UUID":"$uuid"}],""" +
      """"producer":{"name":"TDR","process":"export","type":"judgment",""" +
      """"environment":"dev","event-name":"bagit-available"},""" +
      s""""parameters":{"bagit-available":{"reference":"$ref"}}}"""

  test("a stateless stream routes re-deliveries duplicate and leaves their seed alone") {
    val bags = Files.createTempDirectory("frontbags")
    val queue = Files.createTempDirectory("frontqueue")
    val staging = Files.createTempDirectory("frontstaging")
    val state = Files.createTempDirectory("frontstate")
    val checkpoint = Files.createTempDirectory("frontcheckpoint")
    val ref = "TDR-2023-FRONT"
    writeBag(bags, ref, "BROKEN")   // fails its checksum on first delivery

    // per batch: the history's (attempt, route) rows and the rounds run
    val handled = new ConcurrentLinkedQueue[(Seq[(Int, String)], Int)]()
    val q = EventStream.withRetryRoute(EventStream.decoded(EventStream.readRaw(spark, queue.toString)))
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val refs = batch.filter($"route" =!= "dlq").select(get_json_object(
            element_at($"event.parameters", $"event.producer.event-name"), "$.reference"))
          .as[String].collect().toSeq
        if (refs.nonEmpty) {
          var rounds = 0
          val rows = TrePipeline.runWithRetries(spark, s"$bags/{${refs.mkString(",")}}.tar.gz",
              state.toString, onAttempt = _ => rounds += 1)
            .select($"attempt", $"route").as[(Int, String)].collect().toSeq
          handled.add(rows -> rounds)
        }
        ()
      }
      .start()
    def deliver(file: String, uuid: String): (Seq[(Int, String)], Int) = {
      val staged = staging.resolve(file)
      Files.write(staged, (event(uuid, ref) + "\n").getBytes("UTF-8"))
      Files.move(staged, queue.resolve(file), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      handled.poll()
    }
    try {
      assert(deliver("b1.jsonl", "9717f66c-9e1f-4b0d-8289-6a0b2a32a2a5") ==
        (Seq((0, "retry"), (1, "retry"), (2, "retry"), (3, "fail")), 3))
      val seed = Paths.get(RetryLoop.messagePath(state.toString, "judgment", ref, 0, 0).toUri.getPath)
      val seeded = Files.readAllBytes(seed)
      // repaired upstream: a fresh seed would now carry retries 0, not 1
      writeBag(bags, ref, "GOOD")
      // the same UUID again, then a new UUID for the same reference
      Seq("b2.jsonl" -> "9717f66c-9e1f-4b0d-8289-6a0b2a32a2a5",
        "b3.jsonl" -> "2d421b33-5cd2-45b1-a169-d0a6e743b9b4").foreach { case (file, uuid) =>
        assert(deliver(file, uuid) == (Seq((0, "duplicate")), 0), file)
        assert(java.util.Arrays.equals(Files.readAllBytes(seed), seeded), file)
      }
      val progress = q.recentProgress
      assert(progress.nonEmpty)
      progress.foreach(p => assert(p.stateOperators.isEmpty, p.json))
    } finally {
      q.stop()   // shared SparkContext: never leak a query into later suites
    }
  }
}
