package graft.ops.editorial

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reference's parser contract drive
  * (testing/parser_testing/test_parser_lambda_fn.py:98-211): run a corpus
  * of should-parse and should-fail documents through the parser; a document
  * passes iff `parser-outputs.error-messages` is non-empty EXACTLY when an
  * error was expected; the suite fails if any document misbehaves or if no
  * documents were tested at all.
  */
class ParserContractSpec extends SparkSpec {
  import spark.implicits._

  /** One parser event list in the reference fixture shape
    * (function_input_v2_ok_1.json / _err_1.json): a {context,
    * parser-inputs} dict, then a NESTED LIST holding an SQS SDK-metadata
    * noise dict (neither block kind — must be ignored by shape
    * discrimination) and the {parser-outputs} dict.
    */
  private def fixture(ref: String, doc: String, outputsOk: Boolean): String = {
    val outputs =
      if (outputsOk)
        s"""{"parser-outputs":{"xml":"$ref.xml","metadata":"metadata.json",
           |"images":["world-1.png","world-2.png"],"attachments":[],
           |"log":"parser.log","error-messages":[]}}""".stripMargin
      else
        """{"parser-outputs":{"xml":null,"metadata":null,"images":null,
          |"log":null,"error-messages":["error parsing document"]}}""".stripMargin
    s"""[
       |{"context":{"number-of-retries":"0","bag-info-txt":"bag-info.txt",
       |"judgment-document":"$doc","consignment-type":"judgment"},
       |"parser-inputs":{"consignment-reference":"$ref","s3-bucket":"bucket",
       |"attachment-urls":[],"s3-output-prefix":"parsed/judgment/$ref/0/"}},
       |[
       |{"MessageId":"","SdkHttpMetadata":{"HttpHeaders":{"Content-Length":"",
       |"Content-Type":""},"HttpStatusCode":200},"SdkResponseMetadata":{"RequestId":""}},
       |$outputs
       |]
       |]""".stripMargin.replaceAll("\n", "")
  }

  // ok docs should parse clean; names containing "invalid" take the
  // ParserStub error path (the stub's deterministic fail corpus)
  private val corpus = Seq(
    ("TDR-OK-1", "judgment-a.docx", false),
    ("TDR-OK-2", "judgment-b.docx", false),
    ("TDR-ERR-1", "invalid-corrupt.docx", true),
    ("TDR-ERR-2", "invalid-empty.docx", true))

  test("fail-corpus drive: parser errors appear exactly where expected") {
    val located = Editorial.locateBlocks(
      corpus.map { case (ref, doc, expect) => (ref, doc, expect, fixture(ref, doc, expect)) }
        .toDF("ref", "doc", "expect_error", "json"),
      "json")
    val out = located.select(col("parser_inputs.consignment-reference"), col("context.judgment-document"))
      .as[(String, String)].collect().toSeq
      .map { case (ref, doc) => (ref, ParserStub.outputs(ref, doc).error_messages.nonEmpty) }
      .toDF("ref", "got_error")
    val joined = corpus.toDF("ref", "doc", "expect_error")
      .join(out, Seq("ref"))
      .withColumn("ran_ok", col("got_error") === col("expect_error"))
      .select(col("ref"), col("ran_ok"))
      .as[(String, Boolean)].collect().toSeq

    // reference main(): fail on any misbehaving document, fail on empty run
    assert(joined.nonEmpty, "no documents were tested")
    val misbehaved = joined.filterNot(_._2)
    assert(misbehaved.isEmpty, s"unexpected document result: $misbehaved")
    assert(joined.size == corpus.size)
  }

  test("fixture-shaped event lists (with SDK noise blocks) locate cleanly") {
    val located = Editorial.locateBlocks(
      Seq(fixture("TDR-OK-1", "a.docx", outputsOk = true),
        fixture("TDR-ERR-1", "invalid.docx", outputsOk = false))
        .toDF("json"), "json")
      .select(
        col("parser_inputs.consignment-reference").as("ref"),
        col("context.judgment-document").as("doc"),
        size(col("block_errors")).as("n_block_errors"),
        size(col("parser_outputs.error-messages")).as("n_parser_errors"),
        col("parser_outputs.xml").as("xml"))
      .orderBy(col("ref"))
      .collect()
    // the SDK-metadata dict is neither block kind — cardinality still 1+1
    assert(located.map(_.getInt(2)).toSeq == Seq(0, 0))
    val ok = located.find(_.getString(0) == "TDR-OK-1").get
    assert(ok.getString(1) == "a.docx")
    assert(ok.getInt(3) == 0)
    assert(ok.getString(4) == "TDR-OK-1.xml")
    val err = located.find(_.getString(0) == "TDR-ERR-1").get
    assert(err.getInt(3) == 1)
    assert(err.getString(4) == null)
  }
}
