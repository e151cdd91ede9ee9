package graft.ops.editorial

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixtures follow FIXTURES.md §7 (reference parser contract and
  * function_input_v2_ok_1.json shapes).
  */
class EditorialSpec extends SparkSpec {
  import spark.implicits._

  val ctxBlock =
    """{"context":{"number-of-retries":"0","s3-bagit-name":"bagit-info.txt",
      |"judgment-document":"test.docx","consignment-type":"judgment",
      |"bag-info-txt":"bag-info.txt"},
      |"parser-inputs":{"consignment-reference":"ABC-123","s3-bucket":"b",
      |"document-url":"https://x","attachment-urls":[],
      |"s3-output-prefix":"parsed/judgment/ABC-123/0/"}}"""
      .stripMargin.replaceAll("\n", "")

  val outBlock =
    """{"parser-outputs":{"xml":"ABC-123.xml","metadata":"metadata.json",
      |"images":["world-1.png","world-2.png"],"attachments":[],
      |"log":"parser.log","error-messages":[]}}"""
      .stripMargin.replaceAll("\n", "")

  // parser event: a LIST mixing a dict and a nested list of dicts
  val okEvent = s"""[$ctxBlock,[$outBlock]]"""

  test("locateBlocks: finds both blocks through one nesting level (J4)") {
    val df = Editorial.locateBlocks(Seq(okEvent).toDF("json"), "json")
    val row = df.select(size($"block_errors"),
      $"context.judgment-document", $"parser_inputs.consignment-reference",
      $"parser_outputs.xml", size($"parser_outputs.images")).head()
    assert(row.getInt(0) == 0)
    assert(row.getString(1) == "test.docx")
    assert(row.getString(2) == "ABC-123")
    assert(row.getString(3) == "ABC-123.xml")
    assert(row.getInt(4) == 2)
  }

  test("locateBlocks: cardinality violations land in block_errors") {
    val twoCtx = s"""[$ctxBlock,$ctxBlock,[$outBlock]]"""
    val noOut = s"""[$ctxBlock]"""
    val errs = Editorial.locateBlocks(Seq(twoCtx, noOut).toDF("json"), "json")
      .select(explode($"block_errors")).as[String].collect().toSet
    assert(errs.exists(_.contains("context/parser-inputs")))
    assert(errs.exists(_.contains("parser-outputs")))
  }

  test("fieldErrors flags missing mandatory fields") {
    val missing = s"""[{"context":{"consignment-type":"judgment"},
      |"parser-inputs":{"s3-bucket":"b"}},[$outBlock]]"""
      .stripMargin.replaceAll("\n", "")
    val errs = Editorial.locateBlocks(Seq(missing).toDF("json"), "json")
      .select(explode(Editorial.fieldErrors)).as[String].collect().toSet
    assert(errs.contains("missing context.judgment-document"))
    assert(errs.contains("missing parser-inputs.consignment-reference"))
    assert(errs.contains("missing parser-inputs.s3-output-prefix"))
  }

  test("tarList: metadata + xml + log + judgment doc + images, nulls skipped") {
    val df = Editorial.locateBlocks(Seq(okEvent).toDF("json"), "json")
    val prefix = $"parser_inputs.s3-output-prefix"
    val got = df.select(Editorial.tarList(prefix,
      concat(prefix, lit("metadata.json"))).as("l")).as[Seq[String]].head()
    assert(got == Seq(
      "parsed/judgment/ABC-123/0/metadata.json",
      "parsed/judgment/ABC-123/0/ABC-123.xml",
      "parsed/judgment/ABC-123/0/parser.log",
      "parsed/judgment/ABC-123/0/test.docx",
      "parsed/judgment/ABC-123/0/world-1.png",
      "parsed/judgment/ABC-123/0/world-2.png"))
  }

  test("treMetadata merges producer + TRE payload + PARSER content + TDR bag-info") {
    val parserMeta =
      """{"uri":"https://caselaw/id","court":"UKSC","cite":"[2022] UKSC 1",
        |"date":"1970-01-01","name":"A v B","attachments":[]}"""
        .stripMargin.replaceAll("\n", "")
    val df = Editorial.locateBlocks(Seq(okEvent).toDF("json"), "json")
      .withColumn("pm", lit(parserMeta))
      .withColumn("bi", lit("""{"Consignment-Series":"MOCKA 101"}"""))
    val json = df.select(Editorial.treMetadata(lit("metadata.json"), $"pm", $"bi",
      "dev", "v1.2.3", Map("lambda-functions-version" -> "9.9.9")).as("m"))
      .as[String].head()
    assert(get(json, "$.producer.name") == "TRE")
    assert(get(json, "$.producer.type") == "judgment")
    assert(get(json, "$.parameters.TRE.reference") == "TRE-ABC-123")
    assert(get(json, "$['parameters']['TRE']['dev-tre-version']") == "v1.2.3")
    assert(get(json, "$.parameters.TRE.payload.filename") == "test.docx")
    assert(get(json, "$['parameters']['TRE']['lambda-functions-version']") == "9.9.9")
    assert(get(get(json, "$.parameters.PARSER"), "$.court") == "UKSC")
    assert(get(get(json, "$.parameters.TDR"), "$['Consignment-Series']") == "MOCKA 101")
  }

  test("outputMessage carries presigned urls, retry number, tar record") {
    val json = Editorial.outputMessage("ABC-123", "judgment", Editorial.presignUrl("https://tar"),
      Editorial.presignUrl("/out/ABC-123.tar.gz.sha256"), "b",
      "parsed/judgment/ABC-123/0/0/TRE-ABC-123.tar.gz", """[{"name":"x","size":1}]""", 0)
    assert(get(json, "$['editorial-output']['consignment-reference']") == "ABC-123")
    assert(get(json, "$['editorial-output']['s3-folder-url']") == "https://tar")
    assert(get(json, "$['editorial-output']['s3-sha256-url']") == "file:///out/ABC-123.tar.gz.sha256")
    assert(get(json, "$['editorial-output']['number-of-retries']") == "0")
    assert(get(json, "$['tar-gz'].key").endsWith("TRE-ABC-123.tar.gz"))
    assert(get(json, "$['tar-gz'].items") == """[{"name":"x","size":1}]""")

    // the bytes are to_json's over the same struct, escapes included
    val odd = "q\"b\\s/n\nt\t\u0001é☃"
    val f = Seq("consignment-reference", "s3-folder-url", "s3-sha256-url", "consignment-type")
    val viaSql = Seq(odd).toDF("s").select(to_json(struct(
      struct(f.map($"s".as(_)) :+ lit(2).as("number-of-retries"): _*).as("editorial-output"),
      struct($"s".as("bucket"), $"s".as("key"), $"s".as("items")).as("tar-gz"))))
      .as[String].head()
    assert(Editorial.outputMessage(odd, odd, odd, odd, odd, odd, odd, 2) == viaSql)
    val items = Seq(graft.core.archive.TarItem(odd, 3L), graft.core.archive.TarItem("b", 0L))
    Seq(items, Nil).foreach { is =>
      assert(Editorial.itemsJson(is) ==
        Seq(is).toDF("items").select(to_json($"items")).as[String].head())
    }
  }

  test("parser stub honours the parser-outputs contract, error path included") {
    val invalid = ctxBlock.replace("test.docx", "invalid.docx")
    val located = Editorial.locateBlocks(
      Seq(okEvent, s"""[$invalid,[$outBlock]]""").toDF("json"), "json")
    val rows = located.select($"parser_inputs.consignment-reference", $"context.judgment-document")
      .as[(String, String)].collect().map { case (ref, doc) => ParserStub.outputs(ref, doc) }
    // ok corpus: xml/metadata/log populated, no errors
    val ok = rows.find(_.error_messages.isEmpty).get
    assert(ok.xml.contains("ABC-123.xml"))
    assert(ok.metadata.contains("metadata.json"))
    // fail corpus: error-messages populated, outputs null (reference
    // error-path shape, test_parser_error_path.py:23-60)
    val bad = rows.find(_.error_messages.nonEmpty).get
    assert(bad.xml.isEmpty)
    assert(bad.error_messages.head.contains("invalid.docx"))
  }

  private def get(json: String, path: String): String = {
    val df0 = Seq(json).toDF("j")
    df0.select(get_json_object(col("j"), path)).head().getString(0)
  }
}
