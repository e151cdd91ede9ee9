package graft.ops.editorial

import com.fasterxml.jackson.core.io.JsonStringEncoder
import graft.core.archive.TarItem
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Editorial-integration operators (SURVEY §3.1 steps 5–7; reference
  * lambda_functions/tre-editorial-integration/tre_editorial_integration.py).
  * Each row is one consignment — thousands of judgments process in one
  * distributed pass, vs one Lambda invoke per judgment in the reference.
  */
object Editorial {

  val contextSchema: StructType = StructType(Seq(
    StructField("number-of-retries", StringType),
    StructField("s3-bagit-name", StringType),
    StructField("judgment-document", StringType),
    StructField("consignment-type", StringType),
    StructField("bag-info-txt", StringType)))

  val parserInputsSchema: StructType = StructType(Seq(
    StructField("consignment-reference", StringType),
    StructField("s3-bucket", StringType),
    StructField("document-url", StringType),
    StructField("attachment-urls", ArrayType(StringType)),
    StructField("s3-output-prefix", StringType)))

  val parserOutputsSchema: StructType = StructType(Seq(
    StructField("xml", StringType),
    StructField("metadata", StringType),
    StructField("images", ArrayType(StringType)),
    StructField("attachments", ArrayType(StringType)),
    StructField("log", StringType),
    StructField("error-messages", ArrayType(StringType))))

  /** Parser `metadata.json` payload (FIXTURES.md §7). */
  val parserMetadataSchema: StructType = StructType(Seq(
    StructField("uri", StringType), StructField("court", StringType),
    StructField("cite", StringType), StructField("date", StringType),
    StructField("name", StringType),
    StructField("attachments", ArrayType(StringType))))

  /** J4: locate the `{context, parser-inputs}` block and the
    * `{parser-outputs}` block inside the heterogeneous parser event list
    * (elements may be dicts or nested lists of dicts —
    * tre_editorial_integration.py:146-165). Elements are held as raw JSON
    * strings and discriminated by shape; cardinality violations land in
    * `block_errors` instead of raising.
    */
  def locateBlocks(df: DataFrame, jsonCol: String): DataFrame = {
    // flatten one nesting level: [ {...}, [ {...} ] ] → all dict-level blocks
    val elements = from_json(col(jsonCol), ArrayType(StringType))
    val flattened = flatten(transform(elements,
      e => coalesce(from_json(e, ArrayType(StringType)), array(e))))
    val ctxBlocks = filter(flattened, e =>
      get_json_object(e, "$.context").isNotNull &&
        get_json_object(e, "$['parser-inputs']").isNotNull)
    val outBlocks = filter(flattened, e =>
      get_json_object(e, "$['parser-outputs']").isNotNull)
    df.withColumn("_ctx_blocks", ctxBlocks)
      .withColumn("_out_blocks", outBlocks)
      .withColumn("block_errors", array_compact(array(
        when(size(col("_ctx_blocks")) =!= 1,
          concat(lit("expected 1 context/parser-inputs block, found "),
            size(col("_ctx_blocks")))),
        when(size(col("_out_blocks")) =!= 1,
          concat(lit("expected 1 parser-outputs block, found "),
            size(col("_out_blocks")))))))
      .withColumn("context",
        from_json(get_json_object(try_element_at(col("_ctx_blocks"), lit(1)), "$.context"),
          contextSchema))
      .withColumn("parser_inputs",
        from_json(get_json_object(try_element_at(col("_ctx_blocks"), lit(1)), "$['parser-inputs']"),
          parserInputsSchema))
      .withColumn("parser_outputs",
        from_json(get_json_object(try_element_at(col("_out_blocks"), lit(1)), "$['parser-outputs']"),
          parserOutputsSchema))
      .drop("_ctx_blocks", "_out_blocks")
  }

  /** Mandatory-field validation (tre_editorial_integration.py:197-242).
    * Kept: the reference's check over located parser events; `runFull`
    * sets these fields itself, so only EditorialSpec calls it.
    */
  def fieldErrors: Column = {
    def miss(c: Column, name: String) = when(c.isNull, lit(s"missing $name"))
    array_compact(array(
      miss(col("context.consignment-type"), "context.consignment-type"),
      miss(col("context.judgment-document"), "context.judgment-document"),
      miss(col("parser_inputs.consignment-reference"), "parser-inputs.consignment-reference"),
      miss(col("parser_inputs.s3-bucket"), "parser-inputs.s3-bucket"),
      miss(col("parser_inputs.s3-output-prefix"), "parser-inputs.s3-output-prefix"),
      miss(col("parser_outputs.error-messages"), "parser-outputs.error-messages")))
  }

  /** Step-5 payload: the `{context, parser-inputs}` message built from a
    * validated-bag event (prepare_parser_input.py:174-188).
    */
  def parserInputMessage(reference: Column, bucket: Column, documentUrl: Column,
                         outputPrefix: Column, judgmentDoc: Column,
                         consignmentType: Column, retries: Column): Column =
    to_json(struct(
      struct(
        retries.cast("string").as("number-of-retries"),
        lit("bagit-info.txt").as("s3-bagit-name"),
        judgmentDoc.as("judgment-document"),
        consignmentType.as("consignment-type"),
        lit("bag-info.txt").as("bag-info-txt")).as("context"),
      struct(
        reference.as("consignment-reference"),
        bucket.as("s3-bucket"),
        documentUrl.as("document-url"),
        array().cast(ArrayType(StringType)).as("attachment-urls"),
        outputPrefix.as("s3-output-prefix")).as("parser-inputs")))

  /** TRE metadata JSON (build_tre_metadata,
    * tre_editorial_integration.py:386-430): producer block + parameters
    * {TRE: versions+payload, PARSER: parser metadata ⊕ error-messages,
    * TDR: bag-info}. `parserMetadataJson` is the raw metadata.json string;
    * `bagInfoJson` the bag-info key/value map as JSON.
    * Kept: the full build_tre_metadata over located parser events; `runFull`
    * writes the reduced stub-parser form, `treMetadataJson`.
    */
  def treMetadata(metadataFilename: Column, parserMetadataJson: Column,
                  bagInfoJson: Column, environment: String, version: String,
                  lambdaVersions: Map[String, String] = Map.empty): Column = {
    val parserContent = to_json(struct(
      (parserMetadataSchema.fields.map(f =>
        get_json_object(parserMetadataJson, s"$$.${f.name}").as(f.name)).toSeq :+
        to_json(col("parser_outputs.error-messages")).as("error-messages")): _*))
    val treParams = struct(
      (Seq(
        concat(lit("TRE-"), col("parser_inputs.consignment-reference")).as("reference"),
        lit(version).as(s"$environment-tre-version"),
        struct(
          col("context.judgment-document").as("filename"),
          col("parser_outputs.xml").as("xml"),
          metadataFilename.as("metadata"),
          col("parser_outputs.images").as("images"),
          col("parser_outputs.log").as("log")).as("payload")) ++
        lambdaVersions.map { case (k, v) => lit(v).as(k) }): _*)
    to_json(struct(
      struct(
        lit("TRE").as("name"),
        lit("transform").as("process"),
        col("context.consignment-type").as("type"),
        lit(environment).as("environment")).as("producer"),
      struct(
        treParams.as("TRE"),
        parserContent.as("PARSER"),
        bagInfoJson.as("TDR")).as("parameters")))
  }

  /** Files to bundle into the editorial tar.gz (process(),
    * tre_editorial_integration.py:253-279): metadata file, xml, log,
    * judgment doc, images — nulls skipped.
    * Kept: the reference's bundle list with parser xml/log/images; the stub
    * parser emits none, so `runFull` bundles metadata + judgment doc.
    */
  def tarList(prefix: Column, metadataKey: Column): Column =
    array_compact(concat(
      array(
        metadataKey,
        when(col("parser_outputs.xml").isNotNull,
          concat(prefix, col("parser_outputs.xml"))),
        when(col("parser_outputs.log").isNotNull,
          concat(prefix, col("parser_outputs.log"))),
        concat(prefix, col("context.judgment-document"))),
      coalesce(transform(col("parser_outputs.images"), i => concat(prefix, i)),
        array().cast(ArrayType(StringType)))))

  private val Scheme = "^[a-zA-Z][a-zA-Z0-9+.-]*:".r

  /** K8 presigned-URL seam (object_lib.py:244-258): generating a real
    * time-limited URL is one cloud-SDK call per object — plug a presigner
    * in here. The default renders the storage URL itself (scheme'd paths
    * pass through, bare paths get file://), which is shape-compatible with
    * everything downstream.
    */
  def presignUrl(path: String): String =
    if (Scheme.findPrefixOf(path).isDefined) path else "file://" + path

  /** A JSON string literal, escaped as Spark's `to_json` (Jackson) escapes. */
  private def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** A packed archive's items as `to_json` renders `array<struct<name,size>>`. */
  def itemsJson(items: Seq[TarItem]): String =
    items.map(i => s"""{"name":${quote(i.name)},"size":${i.size}}""").mkString("[", ",", "]")

  /** The TRE `metadata.json` `runFull` bundles: build_tre_metadata
    * (tre_editorial_integration.py:386-430) reduced to the stub parser's
    * outputs, the bytes `to_json` gives the same struct (a None field is
    * left out). Plain Scala, so the task that writes the bundle renders it.
    */
  def treMetadataJson(reference: String, environment: String, version: String,
                      po: ParserOutputs): String = {
    def field(name: String, value: Option[String]) = value.map(v => s"${quote(name)}:${quote(v)}")
    val parameters = Seq(
      field("reference", Some(s"TRE-$reference")),
      field(s"$environment-tre-version", Some(version)),
      field("xml", po.xml),
      field("log", Some(po.log)),
      Some(s"${quote("error-messages")}:${po.error_messages.map(quote).mkString("[", ",", "]")}"))
    s"""{"producer":{"name":"TRE","process":"transform","type":"judgment",""" +
      s""""environment":${quote(environment)}},"parameters":""" +
      parameters.flatten.mkString("{", ",", "}") + "}"
  }

  /** Editorial output message (tre_editorial_integration.py:311-324), the
    * bytes `to_json` gives the same struct: `itemsJson` is embedded as a
    * string, `retries` as a number. Plain Scala, so a task renders it
    * without a query plan.
    */
  def outputMessage(reference: String, consignmentType: String, tarGzUrl: String,
                    tarGzSha256Url: String, bucket: String, tarGzKey: String,
                    itemsJson: String, retries: Int): String =
    s"""{"editorial-output":{"consignment-reference":${quote(reference)},""" +
      s""""s3-folder-url":${quote(tarGzUrl)},"s3-sha256-url":${quote(tarGzSha256Url)},""" +
      s""""consignment-type":${quote(consignmentType)},"number-of-retries":$retries},""" +
      s""""tar-gz":{"bucket":${quote(bucket)},"key":${quote(tarGzKey)},""" +
      s""""items":${quote(itemsJson)}}}"""
}
