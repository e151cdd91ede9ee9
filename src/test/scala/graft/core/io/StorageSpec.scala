package graft.core.io

import graft.SparkSpec
import graft.sinks.{CollectingEmitter, SlackAlerts}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StorageSpec extends SparkSpec {
  import spark.implicits._

  test("list + exists + maxNumericChildFolder (S4/S5)") {
    val dir = Files.createTempDirectory("store")
    Files.createDirectories(dir.resolve("bags/0"))
    Files.createDirectories(dir.resolve("bags/9"))
    Files.createDirectories(dir.resolve("bags/10"))
    Files.createDirectories(dir.resolve("bags/misc"))
    Files.write(dir.resolve("bags/a.txt"), "x".getBytes)
    val listed = Storage.list(spark, dir.toString + "/bags/*")
    assert(listed.count() == 5)
    assert(Storage.exists(spark, dir.toString + "/bags/a.txt"))
    assert(!Storage.exists(spark, dir.toString + "/bags/zz.txt"))
    // int max, not the reference's lexicographic-string max ('9' > '10')
    assert(Storage.maxNumericChildFolder(spark, dir.toString + "/bags") == Some(10))
    assert(Storage.maxNumericChildFolder(spark, dir.toString + "/nope") == None)
  }

  test("writeStringErrorIfExists enforces the K1 idempotency guard") {
    val dir = Files.createTempDirectory("k1")
    val p = dir.toString + "/out.json"
    Storage.writeStringErrorIfExists(spark, p, "first")
    intercept[Exception] {
      Storage.writeStringErrorIfExists(spark, p, "second")
    }
    assert(Storage.readStringOrError(spark, p) == Right("first"))
    assert(Storage.readStringOrError(spark, p + ".missing").isLeft)
  }

  test("ChunkedSha256 folds chunks in order and matches whole-object sha2 (A5)") {
    val content = ("A" * 100) + ("B" * 100) + "tail"
    val chunks = Seq(
      ("f1", 1L, ("B" * 100).getBytes),   // out of order on purpose
      ("f1", 0L, ("A" * 100).getBytes),
      ("f1", 2L, "tail".getBytes),
      ("f2", 0L, "small".getBytes)
    ).toDF("file", "chunk_idx", "bytes")
    val got = ChunkedSha256.forChunks(chunks)
      .as[(String, String)].collect().toMap
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(content.getBytes).map("%02x".format(_)).mkString
    assert(got("f1") == expected)
    assert(got("f2") == java.security.MessageDigest.getInstance("SHA-256")
      .digest("small".getBytes).map("%02x".format(_)).mkString)
  }

  test("Slack alert formatting + DLQ arn decode (K6/K7)") {
    val alerts = SlackAlerts.format(
      Seq(("exec-1", "SUCCEEDED", null), ("exec-2", "FAILED", "boom"))
        .toDF("name", "status", "detail"), "dev")
      .select($"alert").as[String].collect()
    assert(alerts(0) == ":white_check_mark: dev `exec-1`: SUCCEEDED")
    assert(alerts(1) == ":x: dev `exec-2`: FAILED — boom")

    val dlq = SlackAlerts.dlqAlert(
      Seq(("arn:aws:sqs:eu-west-2:1:tre-dlq", "arn:aws:sns:eu-west-2:1:tre-out"))
        .toDF("event_source_arn", "topic_arn"), "dev")
      .select($"alert").as[String].head()
    assert(dlq == ":x: dev DLQ `tre-dlq` received from `tre-out`")

    val em = new CollectingEmitter
    em.publish("topic-a", "hello", Map("k" -> "v"))
    assert(em.sent.toSeq == Seq(("topic-a", "hello", Map("k" -> "v"))))
  }

  test("taskConf carries keys set on the session's Hadoop conf before the call") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("graft.storagespec.key", "visible")
    val b = Storage.taskConf(spark)
    try assert(b.value.value.get("graft.storagespec.key") == "visible")
    finally { conf.unset("graft.storagespec.key"); b.destroy() }
  }
}
