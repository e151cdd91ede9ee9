package graft.ops.drisip

import graft.SparkSpec
import graft.core.io.TextTables
import org.apache.spark.sql.functions._

/** Golden byte-exact targets from the reference suite
  * (testing/tre_bagit_to_dri_sip/test_bagit_transforms.py:17-79 and the
  * BDD features testing/features/bagit_transform_v_1_2.feature) — both
  * v1.1 and v1.2 inputs must render identical metadata.csv/closure.csv.
  */
class DriSipSpec extends SparkSpec {
  import spark.implicits._

  val bagInfo = Map(
    "Consignment-Series" -> "MOCKA 101",
    "Consignment-Export-Datetime" -> "2022-07-18T12:45:45Z",
    "Internal-Sender-Identifier" -> "TDR-2022-AA1")

  val manifestLines = Seq(
    "5bd8879fba139fed98c048261cb2a91d727ceafb27414cc54e21c26915e9e40f  data/content/file-c1.txt")

  val v12Header = "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,HeldBy,Language,FoiExemptionCode,LastModified,OriginalFilePath"
  val v12Rows = Seq(
    """data/content/file-c1.txt,file-c1.txt,File,36,Crown Copyright,Public Record(s),"The National Archives, Kew",English,,2022-09-29T15:10:20,""",
    """data/content,content,Folder,,Crown Copyright,Public Record(s),"The National Archives, Kew",English,,,""")

  val v11Header = "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,HeldBy,Language,FoiExemptionCode,LastModified"
  val v11Rows = Seq(
    "data/content/file-c1.txt,file-c1.txt,File,36,Crown Copyright,Public Record,TNA,English,open,2022-09-29T15:10:20",
    "data/content,content,Folder,,Crown Copyright,Public Record,TNA,English,open,")

  val goldenMetadata =
    """identifier,file_name,folder,date_last_modified,checksum,rights_copyright,legal_status,held_by,language,TDR_consignment_ref
      |file:/MOCKA101Y22TBAA1/MOCKA_101/content/file-c1.txt,file-c1.txt,file,2022-09-29T15:10:20,5bd8879fba139fed98c048261cb2a91d727ceafb27414cc54e21c26915e9e40f,Crown Copyright,Public Record(s),"The National Archives, Kew",English,TDR-2022-AA1
      |file:/MOCKA101Y22TBAA1/MOCKA_101/content/,content,folder,2022-07-18T12:45:45,,Crown Copyright,Public Record(s),"The National Archives, Kew",English,TDR-2022-AA1
      |""".stripMargin

  val goldenClosure =
    """identifier,folder,closure_start_date,closure_period,foi_exemption_code,foi_exemption_asserted,title_public,title_alternate,closure_type
      |file:/MOCKA101Y22TBAA1/MOCKA_101/content/file-c1.txt,file,,0,open,,TRUE,,open_on_transfer
      |file:/MOCKA101Y22TBAA1/MOCKA_101/content/,folder,,0,open,,TRUE,,open_on_transfer
      |""".stripMargin

  private def csvDf(header: String, rows: Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Files.createTempFile("file-metadata", ".csv")
    java.nio.file.Files.write(path, (header +: rows).asJava)
    TextTables.readHeaderCsv(spark, path.toString)
      .withColumn("_row", monotonically_increasing_id())
  }

  private def manifestDf = TextTables.parseManifest(manifestLines.toDF("line"))

  test("dri config derivation (P6)") {
    val cfg = DriConfig("TDR-2022-AA1", "MOCKA 101")
    assert(cfg.batch == "MOCKA101Y22TBAA1")
    assert(cfg.series == "MOCKA_101")
    assert(cfg.identifierPrefix == "file:/MOCKA101Y22TBAA1/MOCKA_101/")
    assert(cfg.internalPrefix == "MOCKA101Y22TBAA1/MOCKA_101/")
  }

  test("v1.2 input → golden metadata.csv, byte-exact") {
    val df = DriSip.metadataRows(csvDf(v12Header, v12Rows), manifestDf, bagInfo, Some("_row"))
    assert(df.filter(size($"errors") > 0).count() == 0)
    val got = CsvRender.csvString(df, DriSip.metadataFields, Some("_row"))
    assert(got == goldenMetadata)
  }

  test("v1.1 input → same golden metadata.csv (domain canonicalization)") {
    val df = DriSip.metadataRows(csvDf(v11Header, v11Rows), manifestDf, bagInfo, Some("_row"))
    assert(df.filter(size($"errors") > 0).count() == 0)
    assert(CsvRender.csvString(df, DriSip.metadataFields, Some("_row")) == goldenMetadata)
  }

  test("v1.2 input → golden closure.csv, byte-exact") {
    val df = DriSip.closureRows(csvDf(v12Header, v12Rows), bagInfo, Some("_row"))
    assert(df.filter(size($"errors") > 0).count() == 0)
    assert(CsvRender.csvString(df, DriSip.closureFields, Some("_row")) == goldenClosure)
  }

  test("v1.1 input → golden closure.csv ('open' FoiExemptionCode canonicalized)") {
    val df = DriSip.closureRows(csvDf(v11Header, v11Rows), bagInfo, Some("_row"))
    assert(CsvRender.csvString(df, DriSip.closureFields, Some("_row")) == goldenClosure)
  }

  test("bad domain value → error channel, not silent drop (reference bug fixed)") {
    val rows = Seq(
      "data/x.txt,x.txt,File,1,Crown Copyright,Public Record,TNA,Welsh,open,2022-09-29T15:10:20")
    val df = DriSip.metadataRows(csvDf(v11Header, rows), manifestDf, bagInfo, Some("_row"))
    val errs = df.select(explode($"errors")).as[String].collect()
    assert(errs.toSeq == Seq("value Welsh not expected for key Language"))
    // observable output still matches the reference (missing key → empty field)
    val line = CsvRender.csvString(df, DriSip.metadataFields, Some("_row")).split("\n")(1)
    assert(line.contains(",,TDR-2022-AA1"))
  }

  test("unknown input column is reported (schema check)") {
    val df = csvDf(v11Header + ",Mystery", v11Rows.map(_ + ",zz"))
    assert(DriSip.unknownColumns(df, Some("_row")) == Seq("Mystery"))
  }

  test("duplicate manifest entries for one path → empty checksum (exactly-one rule)") {
    val dupManifest = TextTables.parseManifest(
      (manifestLines ++ manifestLines).toDF("line"))
    val df = DriSip.metadataRows(csvDf(v12Header, v12Rows), dupManifest, bagInfo, Some("_row"))
    val checksums = df.orderBy($"_row").select($"checksum").as[String].collect()
    assert(checksums.toSeq == Seq("", ""))
  }
}
