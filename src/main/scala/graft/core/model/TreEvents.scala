package graft.core.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The v2 TRE event envelope (reference: lib/tre_lib/tre_lib/schema.json:4-112,
  * builder lib/tre_lib/tre_lib/message.py:31-170) as a Spark schema plus
  * column-level codecs.
  *
  * Timestamps are epoch-NANOseconds kept as Long (Spark timestamps are µs;
  * SURVEY §1.2). Per-event parameter payloads stay as JSON strings inside
  * `parameters` and are parsed per event type with `from_json`, mirroring
  * the per-event JSON Schemas (schema_param_*.json).
  */
object TreEvents {

  val producerSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("process", StringType),
    StructField("type", StringType),          // nullable enum {judgment, standard, null}
    StructField("environment", StringType),
    StructField("event-name", StringType)))

  val schema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("timestamp", LongType),        // epoch nanos
    StructField("UUIDs", ArrayType(MapType(StringType, StringType))),
    StructField("producer", producerSchema),
    // event-name -> raw JSON payload; parsed per event type on demand
    StructField("parameters", MapType(StringType, StringType))))

  /** Reference MESSAGE_VERSION (message.py:35). */
  val Version = "0.0.2"

  private val uuidKeyPattern = "^[a-zA-Z0-9_-]+-UUID$"
  /** schema.json:19 accepts ANY UUID version (the builder generates v4 but
    * the schema doesn't pin it) — validating stricter than the schema would
    * DLQ-route reference-valid events.
    */
  private val uuidPattern =
    "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"

  /** v1 "raw dict" message (the flat 5-field generation consumed by
    * tre-bagit-checksum-validation,
    * lambda_functions/tre-bagit-checksum-validation/tre_bagit_checksum_validation.py:52-59).
    */
  val v1Schema: StructType = StructType(Seq(
    StructField("consignment-reference", StringType),
    StructField("s3-bagit-url", StringType),
    StructField("s3-sha-url", StringType),
    StructField("consignment-type", StringType),
    StructField("number-of-retries", IntegerType)))

  /** Kept: the v1 flat message of PAPER.md §0; the stream decode reads v2
    * events only, TreEventsSpec pins this one.
    */
  def parseV1(jsonCol: Column): Column = from_json(jsonCol, v1Schema)

  /** Kept: the validation half of the v1 decode (see `parseV1`). */
  def v1ValidationErrors(m: Column): Column = array_compact(array(
    when(m.isNull, lit("message: not valid JSON")),
    when(m.getField("consignment-reference").isNull, lit("consignment-reference: missing")),
    when(m.getField("s3-bagit-url").isNull, lit("s3-bagit-url: missing")),
    when(m.getField("s3-sha-url").isNull, lit("s3-sha-url: missing")),
    when(m.getField("consignment-type").isNull, lit("consignment-type: missing")),
    when(m.getField("number-of-retries").isNull, lit("number-of-retries: missing"))))

  /** Decode a JSON-string column into the envelope struct. The `parameters`
    * values come back as raw JSON via the MapType(String,String) schema
    * (Spark keeps unparsed nested objects as strings when the target type
    * is StringType).
    */
  def parse(jsonCol: Column): Column = from_json(jsonCol, schema)

  /** SQS record body → SNS Message → TRE event: the double JSON decode of
    * the stream intake (S9; tre_forward.py:55-59).
    * Kept: the SQS→SNS→TRE double decode (S9); the file-drop stream carries
    * bare events, TreEventsSpec pins this one.
    */
  def parseSqsRecord(bodyCol: Column): Column = {
    val snsSchema = StructType(Seq(
      StructField("Message", StringType),
      StructField("MessageAttributes", MapType(StringType,
        StructType(Seq(StructField("Type", StringType), StructField("Value", StringType)))))))
    parse(from_json(bodyCol, snsSchema).getField("Message"))
  }

  /** Latest UUID value = single value of the last `UUIDs` entry
    * (tre_sqs_sf_trigger.py:68-88: asserts exactly one key).
    */
  def latestUuid(eventCol: Column): Column = {
    val last = element_at(eventCol.getField("UUIDs"), -1)
    when(size(map_keys(last)) === 1, element_at(map_values(last), 1))
  }

  /** New-event derivation (message.py:133-164): copy the prior UUID chain
    * and append `{<producer>-UUID: uuid4}`, inherit `producer.type` when
    * not overridden, restamp producer/event-name, keep parameters supplied
    * by the caller. Returns the new envelope struct column.
    *
    * Reference bug NOT replicated: message.py:155-160 reads `type` from the
    * TOP level of the prior message dict, where it never exists (the schema
    * nests it under `producer`), so the reference always falls through to
    * null. The stated intent ("Default to type of prior_message") is
    * honoured here by reading `prior.producer.type`.
    */
  def createFrom(priorEvent: Column, producerName: String, process: String,
                 environment: String, eventName: String,
                 parameters: Column): Column =
    createFromCol(priorEvent, producerName, process, environment,
      lit(eventName), parameters, None)

  def createFrom(priorEvent: Column, producerName: String, process: String,
                 environment: String, eventName: String,
                 parameters: Column, producerType: Option[String]): Column =
    createFromCol(priorEvent, producerName, process, environment,
      lit(eventName), parameters, producerType)

  /** Column-typed event name: lets one select emit ok/error events per row
    * (dual outputs, tre_vb_validate_bagit.py:124-161).
    */
  def createFromCol(priorEvent: Column, producerName: String, process: String,
                    environment: String, eventName: Column,
                    parameters: Column, producerType: Option[String] = None): Column = {
    val newUuids = concat(
      coalesce(priorEvent.getField("UUIDs"), array()),
      array(map(lit(s"$producerName-UUID"), uuid())))
    val inheritedType = producerType.map(lit(_): Column)
      .getOrElse(priorEvent.getField("producer").getField("type"))
    struct(
      lit(Version).as("version"),
      (unix_micros(current_timestamp()) * 1000L).as("timestamp"),
      newUuids.as("UUIDs"),
      struct(
        lit(producerName).as("name"),
        lit(process).as("process"),
        inheritedType.as("type"),
        lit(environment).as("environment"),
        eventName.as("event-name")).as("producer"),
      parameters.as("parameters"))
  }

  /** Structural validation per schema.json: returns an array of error
    * strings (empty = valid). Enum/regex checks are plain columns — no
    * custom expression needed (SURVEY §2.10.5).
    */
  def validationErrors(e: Column): Column = array_compact(array(
    when(e.isNull, lit("event: not valid JSON")),
    when(e.getField("version").isNull, lit("version: missing")),
    when(e.getField("timestamp").isNull, lit("timestamp: missing")),
    when(e.getField("UUIDs").isNull || size(e.getField("UUIDs")) === 0,
      lit("UUIDs: missing or empty")),
    when(exists(e.getField("UUIDs"),
      m => size(filter(map_keys(m), k => k.rlike(uuidKeyPattern))) =!= size(map_keys(m))),
      lit("UUIDs: key must match <name>-UUID")),
    when(exists(e.getField("UUIDs"),
      m => exists(map_values(m), v => !v.rlike(uuidPattern))),
      lit("UUIDs: value must be a UUID")),
    when(e.getField("producer").isNull, lit("producer: missing")),
    when(e.getField("producer").getField("event-name").isNull,
      lit("producer.event-name: missing")),
    when(e.getField("producer").getField("type").isNotNull &&
      !e.getField("producer").getField("type").isin("judgment", "standard"),
      lit("producer.type: must be judgment|standard|null")),
    when(e.getField("parameters").isNull, lit("parameters: missing"))))

  /** Attach `event` (struct) + `event_errors` columns to a DataFrame of raw
    * JSON messages.
    */
  def decode(df: DataFrame, jsonCol: String): DataFrame = {
    val e = parse(col(jsonCol))
    df.withColumn("event", e)
      .withColumn("event_errors", validationErrors(col("event")))
      .withColumn("latest_uuid", latestUuid(col("event")))
  }
}
