package graft.streaming

import graft.SparkSpec
import graft.pipeline.TrePipeline
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** K5 end-to-end at full fidelity: a stream of `bagit-available` events
  * drives per-batch validation of the REFERENCED bags (the reference's
  * SQS → Step Function dispatch), with ok/error result events emitted per
  * bag — the streaming front door and the batch pipeline composed.
  */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes).map("%02x".format(_)).mkString

  private def writeBag(dir: java.nio.file.Path, ref: String, doc: String,
                       digest: String): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val out = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(Files.newOutputStream(dir.resolve(s"$ref.tar.gz"))))
    Seq(s"./$ref/bagit.txt" -> "BagIt-Version: 0.97",
      s"./$ref/manifest-sha256.txt" -> (digest + "  data/doc.docx"),
      s"./$ref/data/doc.docx" -> doc).foreach { case (n, c) =>
      val b = c.getBytes; val e = new TarArchiveEntry(n)
      e.setSize(b.length.toLong); out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    }
    out.close()
  }

  private def event(uuid: String, ref: String): String =
    s"""{"version":"0.0.2","timestamp":1660000000000000000,
       |"UUIDs":[{"TDR-UUID":"$uuid"}],
       |"producer":{"name":"TDR","process":"export","type":"judgment",
       |"environment":"dev","event-name":"bagit-available"},
       |"parameters":{"bagit-available":{"reference":"$ref"}}}"""
      .stripMargin.replaceAll("\n", "")

  test("streamed bagit-available events validate the referenced bags per batch") {
    val bags = Files.createTempDirectory("streambags")
    val queue = Files.createTempDirectory("streamqueue")
    writeBag(bags, "TDR-S-OK", "FINE", sha("FINE"))
    writeBag(bags, "TDR-S-BAD", "BROKEN", "0" * 64)
    Files.write(queue.resolve("b1.jsonl"), java.util.Arrays.asList(
      event("9717f66c-9e1f-4b0d-8289-6a0b2a32a2a5", "TDR-S-OK"),
      event("2d421b33-5cd2-45b1-a169-d0a6e743b9b4", "TDR-S-BAD")))

    var results: Map[String, (Boolean, String)] = Map.empty
    val q = EventStream.writer(
      EventStream.decoded(EventStream.readRaw(spark, queue.toString)),
      (ok, _, _) => {
        // dispatch: validate exactly the bags this batch references
        val refs = ok.select(get_json_object(
            element_at($"event.parameters", $"event.producer.event-name"),
            "$.reference").as("ref"))
          .as[String].collect().toSet
        if (refs.nonEmpty) {
          val r = TrePipeline.runFull(spark, bags.toString + "/*.tar.gz",
            Files.createTempDirectory("streamsips").toString).validation
          results = results ++ r.events
            .filter($"bagId".isin(refs.toSeq: _*))
            .select($"bagId", $"ok", $"event_name")
            .as[(String, Boolean, String)].collect()
            .map(t => t._1 -> (t._2, t._3))
        }
      }).start()
    q.awaitTermination(60000)
    if (q.isActive) q.stop()  // shared SparkContext: never leak a query into later suites

    assert(results("TDR-S-OK") == (true, "bagit-validated"))
    assert(results("TDR-S-BAD") == (false, "bagit-validation-error"))
  }
}
