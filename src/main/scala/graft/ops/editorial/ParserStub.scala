package graft.ops.editorial

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Step-6 parser contract (the reference's .NET judgment parser behind a
  * Lambda; contract visible at
  * lambda_functions/tre-prepare-parser-input/prepare_parser_input.py:174-188
  * and testing/parser_testing/test_parser_lambda_fn.py:82-134).
  *
  * The engine treats the parser as an exchangeable per-row service: in →
  * (consignment reference, judgment document), out → a `{parser-outputs}`
  * struct (xml/metadata/images/log/error-messages). This deterministic
  * STUB honours the output schema exactly; a real docx→XML invocation
  * replaces `outputStruct` (e.g. batch-wise in `mapPartitions`) without
  * touching the rest of the plan.
  * Documents whose name contains "invalid" produce the error-path shape
  * (error-messages non-empty, nullable outputs null), mirroring the
  * reference's fail-corpus tests (test_parser_error_path.py:23-60).
  */
object ParserStub {

  /** The parser-outputs struct for one (reference, judgment document). */
  def outputStruct(reference: Column, judgmentDoc: Column): Column = {
    val err = struct(
      lit(null).cast(StringType).as("xml"),
      lit(null).cast(StringType).as("metadata"),
      array().cast(ArrayType(StringType)).as("images"),
      array().cast(ArrayType(StringType)).as("attachments"),
      lit("parser.log").as("log"),
      array(concat(lit("Unable to parse document '"), judgmentDoc, lit("'")))
        .as("error_messages"))
    val ok = struct(
      concat(reference, lit(".xml")).as("xml"),
      lit("metadata.json").as("metadata"),
      array(lit("image-1.png")).as("images"),
      array().cast(ArrayType(StringType)).as("attachments"),
      lit("parser.log").as("log"),
      array().cast(ArrayType(StringType)).as("error_messages"))
    when(judgmentDoc.contains("invalid"), err).otherwise(ok)
  }
}
