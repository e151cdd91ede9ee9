package graft.core.io

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def read(path: String): Either[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    Storage.readString(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("fetchToStorage streams URLs with on-the-fly sha256 + error channel (S6)") {
    val src = Files.createTempDirectory("ingest-src")
    val dst = Files.createTempDirectory("ingest-dst")
    val content = "A" * (1024 * 64)
    Files.write(src.resolve("bag.tar.gz"), content.getBytes)
    val reqs = Seq(
      (src.resolve("bag.tar.gz").toUri.toString, dst.toString + "/bag.tar.gz"),
      ("file:///nonexistent/missing.tar.gz", dst.toString + "/missing.tar.gz"))
      .toDF("url", "target")
    val got = Ingest.fetchToStorage(reqs).collect()
      .map(r => r.getAs[String]("target") -> r).toMap

    val ok = got(dst.toString + "/bag.tar.gz")
    assert(ok.getAs[String]("error") == null)
    assert(ok.getAs[Long]("bytes") == content.length.toLong)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(content.getBytes).map("%02x".format(_)).mkString
    assert(ok.getAs[String]("sha256") == expected)
    assert(read(dst.toString + "/bag.tar.gz") == Right(content))

    val bad = got(dst.toString + "/missing.tar.gz")
    assert(bad.getAs[String]("error") != null)
    // partial object aborted
    assert(!Storage.exists(spark, dst.toString + "/missing.tar.gz"))
  }

  test("no-overwrite guard reports instead of clobbering") {
    val src = Files.createTempDirectory("g-src")
    val dst = Files.createTempDirectory("g-dst")
    Files.write(src.resolve("x.txt"), "new".getBytes)
    Files.write(java.nio.file.Paths.get(dst.toString, "x.txt"), "old".getBytes)
    val reqs = Seq((src.resolve("x.txt").toUri.toString, dst.toString + "/x.txt"))
      .toDF("url", "target")
    val r = Ingest.fetchToStorage(reqs).head()
    assert(r.getAs[String]("error").contains("target exists"))
    assert(read(dst.toString + "/x.txt") == Right("old"))
  }

  test("a fetch that fails before writing leaves an existing target alone under overwrite") {
    val dst = Files.createTempDirectory("o-dst")
    Files.write(java.nio.file.Paths.get(dst.toString, "x.txt"), "old".getBytes)
    val reqs = Seq(("file:///nonexistent/missing.txt", dst.toString + "/x.txt"))
      .toDF("url", "target")
    val r = Ingest.fetchToStorage(reqs, overwrite = true).head()
    assert(r.getAs[String]("error") != null)
    assert(read(dst.toString + "/x.txt") == Right("old"))
  }
}
