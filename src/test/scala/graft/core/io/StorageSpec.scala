package graft.core.io

import graft.SparkSpec
import graft.sinks.SlackAlerts
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}

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
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(Storage.maxNumericChildFolder(fs, new Path(dir.toString + "/bags")) == Some(10))
    assert(Storage.maxNumericChildFolder(fs, new Path(dir.toString + "/nope")) == None)
  }

  test("writeString without overwrite enforces the K1 idempotency guard") {
    val dir = Files.createTempDirectory("k1")
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir.toString + "/out.json")
    Storage.writeString(fs, p, "first", overwrite = false)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Storage.writeString(fs, p, "second", overwrite = false)
    }
    assert(Storage.readString(fs, p) == Right("first"))
    assert(Storage.readString(fs, p.suffix(".missing")).isLeft)
    Storage.writeString(fs, p, "third", overwrite = true)
    assert(Storage.readString(fs, p) == Right("third"))
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
  }

  test("taskConf carries keys set on the session's Hadoop conf before the call") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("graft.storagespec.key", "visible")
    val b = Storage.taskConf(spark)
    try assert(b.value.value.get("graft.storagespec.key") == "visible")
    finally { conf.unset("graft.storagespec.key"); b.destroy() }
  }
}
