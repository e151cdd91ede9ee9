package graft.tools

import graft.Sessions
import graft.core.archive.Tar
import graft.core.io.TextTables
import graft.ops.drisip.{CsvRender, DriSip}
import graft.ops.validate.BagitValidate
import org.apache.spark.sql.functions._

/** Executable end-to-end demo of the reference pipeline slice (SURVEY §3.2):
  * build a fixture bag tar.gz on disk → explode (S7) → parse manifests
  * (S1/S2/S3) → checksum validation (J3) → DRI transform (P1-P8, J1, J2)
  * → byte-exact CSV render → repackage (K3).
  *
  * Run: `sbt "runMain graft.tools.BagPipelineDemo"`.
  */
object BagPipelineDemo {

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1. fixture bag on disk, shaped like a TDR consignment (FIXTURES.md §1)
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    import java.nio.file.Files
    val dir = Files.createTempDirectory("bagdemo")
    val doc = "JUDGMENT DOCX CONTENT"
    val meta =
      "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,HeldBy,Language,FoiExemptionCode,LastModified\n" +
      "data/doc.docx,doc.docx,File,21,Crown Copyright,Public Record,TNA,English,open,2022-09-29T15:10:20\n" +
      "data,data,Folder,,Crown Copyright,Public Record,TNA,English,open,"
    val baginfo = "Consignment-Series: MOCKA 101\nConsignment-Export-Datetime: 2022-07-18T12:45:45Z\nInternal-Sender-Identifier: TDR-2022-AA1"
    val files = Seq(
      "./TDR-2022-AA1/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-2022-AA1/bag-info.txt" -> baginfo,
      "./TDR-2022-AA1/manifest-sha256.txt" -> (sha(doc) + "  data/doc.docx"),
      "./TDR-2022-AA1/file-metadata.csv" -> meta,
      "./TDR-2022-AA1/data/doc.docx" -> doc)
    val out = new TarArchiveOutputStream(new GzipCompressorOutputStream(
      Files.newOutputStream(dir.resolve("TDR-2022-AA1.tar.gz"))))
    files.foreach { case (n, c) =>
      val b = c.getBytes("UTF-8"); val e = new TarArchiveEntry(n)
      e.setSize(b.length.toLong); out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    }
    out.close()

    // 2. explode via the engine
    val entries = Tar.explodePath(spark, dir.toString + "/*.tar.gz").cache()
    println("EXPLODED=" + entries.count())

    // 3. checksum validation from the exploded bytes
    val man = TextTables.parseManifest(
      entries.filter(_.name.endsWith("manifest-sha256.txt"))
        .map(e => new String(e.bytes, "UTF-8")).toDF("line"))
      .withColumn("bagId", lit("TDR-2022-AA1"))
    val dataFiles = entries.filter(_.name.startsWith("TDR-2022-AA1/data/"))
      .map(e => ("TDR-2022-AA1", e.name.stripPrefix("TDR-2022-AA1/"), e.bytes))
      .toDF("bagId", "name", "content")
    BagitValidate.verifyChecksums(dataFiles, man).show(false)

    // 4. DRI transform
    val csvPath = dir.resolve("fm.csv")
    Files.write(csvPath, entries.filter(_.name.endsWith("file-metadata.csv")).collect().head.bytes)
    val csv = TextTables.readHeaderCsv(spark, csvPath.toString)
      .withColumn("_row", monotonically_increasing_id())
    val bagInfo = new String(
      entries.filter(_.name.endsWith("bag-info.txt")).collect().head.bytes, "UTF-8")
      .split("\n").map(_.split(": ", 2)).map(a => a(0) -> a(1)).toMap
    val md = DriSip.metadataRows(csv, man, bagInfo, Some("_row"))
    print("METADATA.CSV >>>\n" + CsvRender.csvString(md, DriSip.metadataFields, Some("_row")))
    print("CLOSURE.CSV >>>\n" + CsvRender.csvString(
      DriSip.closureRows(csv, bagInfo, Some("_row")), DriSip.closureFields, Some("_row")))

    // 5. probe: corrupted manifest digest surfaces as checksum_mismatch
    val badman = man.withColumn("checksum", lit("0" * 64))
    println("PROBE_CORRUPT=" + BagitValidate.verifyChecksums(dataFiles, badman)
      .filter(col("status") === "checksum_mismatch").count())

    // 6. probe: out-of-domain FOI code lands in the error channel
    val badcsv = csv.withColumn("FoiExemptionCode", lit("closed"))
    println("PROBE_FOI_ERRS=" + DriSip.closureRows(badcsv, bagInfo, Some("_row"))
      .filter(size(col("errors")) > 0).count())

    // 7. repackage with prefix substitution (K3) and show the item list
    val packed = Tar.packageBags(entries.filter(!_.isDir), dir.toString + "/out",
      "TDR-2022-AA1/", "MOCKA101Y22TBAA1/MOCKA_101/").collect()
    println("PACKED=" + packed.head.items.map(_.name).sorted.mkString("|"))
    spark.stop()
  }
}
