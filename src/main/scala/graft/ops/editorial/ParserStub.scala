package graft.ops.editorial

/** The `{parser-outputs}` block of one parsed document
  * (test_parser_lambda_fn.py:82-134): `xml` and `metadata` are None on the
  * error path.
  */
final case class ParserOutputs(xml: Option[String], metadata: Option[String],
                               images: Seq[String], attachments: Seq[String],
                               log: String, error_messages: Seq[String])

/** Step-6 parser contract (the reference's .NET judgment parser behind a
  * Lambda; contract visible at
  * lambda_functions/tre-prepare-parser-input/prepare_parser_input.py:174-188
  * and testing/parser_testing/test_parser_lambda_fn.py:82-134).
  *
  * The engine treats the parser as an exchangeable per-document service:
  * in → (consignment reference, judgment document), out → the
  * `{parser-outputs}` block (xml/metadata/images/log/error-messages). This
  * deterministic STUB honours the output schema exactly; a real docx→XML
  * invocation replaces `outputs` in the task that holds the document.
  * Documents whose name contains "invalid" produce the error-path shape
  * (error-messages non-empty, nullable outputs None), mirroring the
  * reference's fail-corpus tests (test_parser_error_path.py:23-60).
  */
object ParserStub {

  /** The parser outputs for one (reference, judgment document name). */
  def outputs(reference: String, judgmentDoc: String): ParserOutputs =
    if (judgmentDoc.contains("invalid"))
      ParserOutputs(None, None, Nil, Nil, "parser.log",
        Seq(s"Unable to parse document '$judgmentDoc'"))
    else
      ParserOutputs(Some(s"$reference.xml"), Some("metadata.json"), Seq("image-1.png"), Nil,
        "parser.log", Nil)
}
