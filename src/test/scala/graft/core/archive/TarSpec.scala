package graft.core.archive

import graft.SparkSpec
import graft.core.io.Storage
import java.nio.file.Files

class TarSpec extends SparkSpec {
  import spark.implicits._

  private def explode(glob: String) =
    Tar.explodePath(spark, Storage.listFiles(spark, glob), Storage.taskConf(spark))

  /** Build a small .tar.gz on disk with commons-compress (fixture bag). */
  private def makeTarGz(dir: java.nio.file.Path, name: String,
                        files: Seq[(String, String)]): java.nio.file.Path = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val p = dir.resolve(name)
    val out = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(Files.newOutputStream(p)))
    files.foreach { case (n, content) =>
      val bytes = content.getBytes("UTF-8")
      val e = new TarArchiveEntry(n)
      e.setSize(bytes.length.toLong)
      e.setModTime(1660000000000L)
      out.putArchiveEntry(e); out.write(bytes); out.closeArchiveEntry()
    }
    out.close()
    p
  }

  val bagFiles = Seq(
    "./TDR-2022-AA1/bagit.txt" -> "BagIt-Version: 0.97",
    "./TDR-2022-AA1/manifest-sha256.txt" -> "abc  data/doc.docx",
    "./TDR-2022-AA1/data/doc.docx" -> "DOCX BYTES")

  test("explode streams tar.gz entries as rows, './' stripped (S7)") {
    val dir = Files.createTempDirectory("tar")
    makeTarGz(dir, "TDR-2022-AA1.tar.gz", bagFiles)
    val got = explode(dir.toString + "/*.tar.gz").collect()
    assert(got.length == 3)
    assert(got.forall(_.source == "TDR-2022-AA1.tar.gz"))
    assert(got.map(_.name).sorted.toSeq == Seq(
      "TDR-2022-AA1/bagit.txt", "TDR-2022-AA1/data/doc.docx",
      "TDR-2022-AA1/manifest-sha256.txt"))
    val doc = got.find(_.name.endsWith("doc.docx")).get
    assert(new String(doc.bytes, "UTF-8") == "DOCX BYTES")
  }

  test("explode of an empty tar.gz yields zero rows, no error") {
    val dir = Files.createTempDirectory("emptytar")
    makeTarGz(dir, "empty.tar.gz", Seq.empty)
    assert(explode(dir.toString + "/*.tar.gz").count() == 0)
  }

  test("writeArchive round-trips entries with prefix substitution (K2/K3)") {
    val dir = Files.createTempDirectory("tarpack")
    val entries = Seq(
      TarEntry("bagA", "TDR-2022-AA1/data/doc.docx", "DOCX".getBytes, 1660000000L, isDir = false),
      TarEntry("bagA", "TDR-2022-AA1/bag-info.txt", "k: v".getBytes, 1660000000L, isDir = false),
      TarEntry("bagB", "other/x.txt", "X".getBytes, 1660000000L, isDir = false))
    val packed = entries.groupBy(_.source).toSeq.map { case (bag, es) =>
      Tar.writeArchive(spark.sparkContext.hadoopConfiguration, dir.toString, bag,
        es.map(e => e.copy(name = Tar.substitutePrefix(e.name, "TDR-2022-AA1/", "BATCH/SERIES/")))
          .sortBy(_.name).iterator)
    }
    assert(packed.length == 2)
    val bagA = packed.find(_.bagId == "bagA").get
    // items are recorded in the order written (name order here)
    assert(bagA.items.map(_.name) ==
      Seq("BATCH/SERIES/bag-info.txt", "BATCH/SERIES/data/doc.docx"))
    assert(bagA.items.map(_.size).sum == 8)
    // reference semantics: add prefix is prepended even when drop didn't match
    val bagB = packed.find(_.bagId == "bagB").get
    assert(bagB.items.map(_.name) == Seq("BATCH/SERIES/other/x.txt"))
    // re-explode what we packed: round trip
    val back = explode(dir.toString + "/bagA.tar.gz").collect()
    assert(back.map(_.name).sorted.toSeq ==
      Seq("BATCH/SERIES/bag-info.txt", "BATCH/SERIES/data/doc.docx"))
    assert(new String(back.find(_.name.endsWith("doc.docx")).get.bytes) == "DOCX")
    // recorded sha256 is the digest of the final archive bytes, and the
    // .sha256 sidecar holds "<hex>  <name>"
    val fileSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(dir.resolve("bagA.tar.gz")))
      .map("%02x".format(_)).mkString
    assert(bagA.sha256 == fileSha)
    val sidecar = new String(Files.readAllBytes(dir.resolve("bagA.tar.gz.sha256")), "UTF-8")
    assert(sidecar == s"$fileSha  bagA.tar.gz\n")
  }

  test("explodePath (FSDataInputStream scan) matches the binaryFile explode") {
    val dir = Files.createTempDirectory("tarstream")
    makeTarGz(dir, "A.tar.gz", Seq("./A/x.txt" -> "XX", "./A/data/y.txt" -> "YY"))
    makeTarGz(dir, "B.tar.gz", Seq("./B/z.txt" -> "ZZ"))
    def norm(es: Array[TarEntry]) =
      es.map(e => (e.source, e.name, new String(e.bytes, "UTF-8"), e.mtime)).sorted.toSeq
    val streamed = norm(explode(dir.toString + "/*.tar.gz").collect())
    val viaBytes = norm(spark.read.format("binaryFile").load(dir.toString + "/*.tar.gz")
      .select($"path", $"content").as[(String, Array[Byte])].collect()
      .flatMap { case (path, bytes) => Tar.entries(path.split('/').last, bytes) })
    assert(streamed == viaBytes)
    assert(streamed.size == 3)
  }

  test("streaming scan decodes a many-entry archive one entry at a time") {
    val dir = Files.createTempDirectory("tarmany")
    val many = (0 until 2000).map(i => s"./big/f$i.txt" -> s"payload-$i")
    makeTarGz(dir, "big.tar.gz", many)
    val got = explode(dir.toString + "/*.tar.gz")
    assert(got.count() == 2000)
    val one = got.filter((e: TarEntry) => e.name == "big/f1234.txt").collect()
    assert(new String(one.head.bytes, "UTF-8") == "payload-1234")
  }

  test("substitutePrefix matches tar_lib replace-first-anywhere semantics") {
    // drop matched at the start
    assert(Tar.substitutePrefix("TDR/a.txt", "TDR/", "X/") == "X/a.txt")
    // drop matched mid-string: first occurrence removed, add still prepended
    assert(Tar.substitutePrefix("pre/TDR/a.txt", "TDR/", "X/") == "X/pre/a.txt")
    // only the FIRST occurrence is removed
    assert(Tar.substitutePrefix("TDR/TDR/a", "TDR/", "") == "TDR/a")
    // no match: name unchanged but add prefix is still prepended
    assert(Tar.substitutePrefix("other/x.txt", "TDR/", "X/") == "X/other/x.txt")
    // empty drop: pure prepend
    assert(Tar.substitutePrefix("a.txt", "", "X/") == "X/a.txt")
  }

  test("writeArchive archive bytes are deterministic across runs") {
    val dir1 = Files.createTempDirectory("tardet1")
    val dir2 = Files.createTempDirectory("tardet2")
    // reversed input order must not change the packed archive once the
    // entries are put in name order (the order runFull writes bundles in)
    val es = Seq(
      TarEntry("bag", "z.txt", "Z".getBytes, 1660000000L, isDir = false),
      TarEntry("bag", "a.txt", "A".getBytes, 1660000000L, isDir = false),
      TarEntry("bag", "m.txt", "M".getBytes, 1660000000L, isDir = false))
    val conf = spark.sparkContext.hadoopConfiguration
    Tar.writeArchive(conf, dir1.toString, "bag", es.sortBy(_.name).iterator)
    Tar.writeArchive(conf, dir2.toString, "bag", es.reverse.sortBy(_.name).iterator)
    val b1 = Files.readAllBytes(dir1.resolve("bag.tar.gz"))
    val b2 = Files.readAllBytes(dir2.resolve("bag.tar.gz"))
    assert(java.util.Arrays.equals(b1, b2))
  }

  test("mapArchives ships the Hadoop conf by broadcast, not in each task closure") {
    val dir = Files.createTempDirectory("tarconf")
    makeTarGz(dir, "TDR-2022-AA1.tar.gz", bagFiles)
    val rdd = Tar.mapArchives(spark, Storage.listFiles(spark, dir.toString + "/*.tar.gz"),
      Storage.taskConf(spark))(
      (name, _) => name)
    // what the scheduler serializes into every task of the stage
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      .serialize(rdd).limit()
    assert(bytes < 16 * 1024, s"closure of $bytes bytes")
    assert(rdd.collect().toSeq == Seq("TDR-2022-AA1.tar.gz"))
  }

  test("an entry over 2 GiB fails with an IOException naming archive and entry") {
    import org.apache.commons.compress.archivers.tar.TarArchiveEntry
    // a header-only tar: the entry claims 3 GiB and carries no data
    val header = new Array[Byte](512)
    val e = new TarArchiveEntry("TDR-BIG/data/huge.bin")
    e.setSize(3L << 30)
    e.writeEntryHeader(header)
    val err = intercept[java.io.IOException](Tar.entries("TDR-BIG.tar", header).toList)
    assert(err.getMessage.contains("TDR-BIG.tar"), err.getMessage)
    assert(err.getMessage.contains("TDR-BIG/data/huge.bin"), err.getMessage)
  }
}
