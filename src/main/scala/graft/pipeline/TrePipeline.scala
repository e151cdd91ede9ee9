package graft.pipeline

import graft.core.archive.{Tar, TarEntry}
import graft.core.io.Storage
import graft.core.model.TreEvents
import graft.ops.validate.{BagCheck, BagitValidate}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** The integrated batch pipeline (SURVEY §3.1 / §7.1 module 7): what the
  * reference runs as a Step Function of Lambdas, one invocation per bag,
  * becomes ONE Spark job over a batch of consignments. Every TRE check is
  * bag-local, so each task streams its archives into one `BagCheck` row
  * per bag, and every stage below is a narrow projection or map of that
  * one cached Dataset — no `bagId` join, group or shuffle.
  *
  *   scan(tar) → checksum verify (J3) + count reconciliation (A1) +
  *   per-bag verdict with error channel → provenance-chained result event
  *
  * Every stage result is exposed so tests/operators can inspect the
  * "execution history" (the reference's per-step inputs/outputs,
  * tre_module_test consignment_tester.py:147-259); `entries` re-reads the
  * archives lazily, one row per entry.
  */
final case class PipelineResult(
    entries: Dataset[TarEntry],
    checksums: DataFrame,
    reconciliation: DataFrame,
    verdicts: DataFrame,
    events: DataFrame)

/** Full main-path result (§3.1 steps 3–7). `outputMessages` carries the
  * editorial output message per bag with the archive + sha256-sidecar URLs
  * threaded through the K8 presign seam.
  */
final case class FullPipelineResult(
    validation: PipelineResult,
    parserInputs: DataFrame,
    parserOutputs: DataFrame,
    editorial: DataFrame,
    bundles: DataFrame,
    outputMessages: DataFrame)

/** One row of `runWithRetries`' attempt history. */
final case class RetryAttempt(bagId: String, attempt: Int, incoming: Int, route: String,
                              msg_path: String, message: String)

object TrePipeline {

  private def bagId(path: String): String = path.split('/').last.stripSuffix(".tar.gz")

  /** One `BagCheck` per archive in `paths`, bagId = archive basename. */
  private def scan(spark: SparkSession, paths: Seq[String],
                   conf: Broadcast[SerializableConfiguration]): Dataset[BagCheck] = {
    import spark.implicits._
    spark.createDataset(Tar.mapArchives(spark, paths, conf)(
      (name, entries) => BagitValidate.checkBag(bagId(name), entries)))
  }

  /** Made once: deriving a product encoder takes a reflection pass. */
  private val attemptEncoder = Encoders.product[RetryAttempt]

  /** Run validation over a directory of `<reference>.tar.gz` bags.
    * Kept: the validation-only entry (§3.1 steps 3–4) the stream specs drive.
    */
  def run(spark: SparkSession, bagsGlob: String,
          environment: String = "dev"): PipelineResult = {
    val conf = Storage.taskConf(spark)
    val paths = Storage.listFiles(spark, bagsGlob)
    validation(spark, paths, conf, scan(spark, paths, conf).cache(), environment)
  }

  private def validation(spark: SparkSession, paths: Seq[String],
                         conf: Broadcast[SerializableConfiguration], bags: Dataset[BagCheck],
                         environment: String): PipelineResult = {
    import spark.implicits._
    val entries = Tar.explodePath(spark, paths, conf)
      .map(e => e.copy(source = e.source.stripSuffix(".tar.gz")))
    val checksums = bags.select(col("bagId"), explode(col("checks")).as("c"))
      .select(col("bagId"), col("c.file"), col("c.expected"), col("c.computed"), col("c.status"))
    val reconciliation = bags.select("bagId", "n_extracted", "n_extracted_data",
      "n_root", "n_data", "counts_ok", "data_counts_ok")
    val verdicts = bags.select("bagId", "ok", "errors", "n_root", "n_data", "n_extracted")

    // result event with provenance chain: prior TDR event → TRE event
    // (dual ok/error outputs, tre_vb_validate_bagit.py:124-161)
    val prior = struct(
      lit(TreEvents.Version).as("version"),
      lit(0L).as("timestamp"),
      array(map_from_arrays(array(lit("TDR-UUID")),
        array(md5(col("bagId"))))).as("UUIDs"),
      struct(lit("TDR").as("name"), lit("export").as("process"),
        lit("judgment").as("type"), lit(environment).as("environment"),
        lit("bagit-available").as("event-name")).as("producer"),
      map_from_arrays(array(lit("bagit-available")), array(lit("{}")))
        .as("parameters"))
    val eventName = when(col("ok"), lit("bagit-validated"))
      .otherwise(lit("bagit-validation-error"))
    val events = verdicts.withColumn("event",
      TreEvents.createFromCol(prior, "TRE", "tre-validate-bagit", environment,
        eventName,
        map_from_arrays(
          array(eventName),
          array(to_json(struct(col("bagId").as("reference"),
            col("errors").as("errors")))))))
      .withColumn("event_name", eventName)

    PipelineResult(entries, checksums, reconciliation, verdicts, events)
  }

  /** The complete §3.1 main path in one job: validate → prepare parser
    * input (step 5: first data file, prepare_parser_input.py:124-131) →
    * parser contract (step 6, stub seam) → TRE metadata + editorial bundle
    * tar.gz per consignment (step 7) under `<outDir>/<ref>/0/`.
    */
  def runFull(spark: SparkSession, bagsGlob: String, outDir: String,
              environment: String = "dev", version: String = "0.1.0"): FullPipelineResult = {
    import spark.implicits._
    import graft.ops.editorial.{Editorial, ParserStub}

    val hadoopConf = Storage.taskConf(spark)
    val paths = Storage.listFiles(spark, bagsGlob)
    val bags = scan(spark, paths, hadoopConf).cache()

    // step 5: judgment doc = FIRST data file (compat with the reference's
    // data[0] assumption; generalized inventory kept in `entries`). An ok
    // bag without a data file gets no parser input and no bundle.
    val docName = element_at(split(col("judgment_doc"), "/"), -1)
    val docs = bags.filter(col("ok") && col("judgment_doc").isNotNull)
      .withColumn("msg", Editorial.parserInputMessage(
        col("bagId"), lit("local"), concat(lit("file://"), col("judgment_doc")),
        concat(lit("parsed/judgment/"), col("bagId"), lit("/0/")),
        docName, lit("judgment"), lit(0)))
      // step 6: parser contract (stub seam — swap for the real parser)
      .withColumn("po", ParserStub.outputStruct(col("bagId"), docName))
      // step 7: TRE metadata JSON
      .withColumn("tre_metadata", to_json(struct(
        struct(lit("TRE").as("name"), lit("transform").as("process"),
          lit("judgment").as("type"), lit(environment).as("environment")).as("producer"),
        struct(
          concat(lit("TRE-"), col("bagId")).as("reference"),
          lit(version).as(s"$environment-tre-version"),
          col("po.xml").as("xml"), col("po.log").as("log"),
          col("po.error_messages").as("error-messages")).as("parameters"))))
    val parserInputs = docs.select("bagId", "judgment_doc", "msg")
    val editorial = docs.select("bagId", "judgment_doc", "po", "tre_metadata")

    // step 7: bundle = metadata.json once + the step-5 judgment doc only (a
    // bag with k>1 data files must not bundle every data file), written in
    // name order by the task holding the bag's row
    val packed = docs.select("bagId", "judgment_doc", "doc_bytes", "tre_metadata")
      .as[(String, String, Array[Byte], String)]
      .map { case (bag, doc, bytes, meta) =>
        Tar.writeArchive(hadoopConf.value.value, outDir, bag, Seq(
          TarEntry(bag, s"$bag/0/metadata.json", meta.getBytes("UTF-8"), 0L, isDir = false),
          TarEntry(bag, s"$bag/0/" + doc.substring(doc.indexOf('/') + 1), bytes, 0L, isDir = false)
        ).sortBy(_.name).iterator)
      }

    // K8 demonstrated end-to-end: the per-bag output message carries the
    // packed archive's URL and its .sha256 sidecar URL through the presign
    // seam (outputMessage shape, tre_editorial_integration.py:311-324)
    val outputMessages = packed.map { b =>
      val url = Editorial.presignUrl(b.path)
      val shaUrl = Editorial.presignUrl(b.path + ".sha256")
      (b.bagId, url, shaUrl, b.sha256, Editorial.outputMessage(b.bagId, "judgment", url, shaUrl,
        "local", s"${b.bagId}.tar.gz", Editorial.itemsJson(b.items), 0))
    }.toDF("bagId", "s3_folder_url", "s3_sha256_url", "sha256", "output_message")

    FullPipelineResult(validation(spark, paths, hadoopConf, bags, environment), parserInputs,
      docs.select(col("bagId"), col("judgment_doc"), col("po").as("parser_outputs")),
      editorial, packed.toDF(), outputMessages)
  }

  /** §3.1 with the retry protocol wired end-to-end (RetryHandler
    * tre_editorial_integration.py:432-542 + the Step Function's retry-limit
    * hard fail, driven the way test_editorial_retry.py:33-60 and
    * test_tdr_bagit_retry.py:62-77 drive the reference):
    *
    *  - attempt 0 lists the bag glob once and validates every bag in one
    *    plain RDD job that seeds the per-consignment `output-message.json`
    *    under `<state>/<type>/<ref>/0/0/` — retries=0 when valid, bumped
    *    to 1 on failure (tre_bagit_checksum_validation.py:159-163). A
    *    consignment whose seed already exists was delivered before: it
    *    takes the route `duplicate`, its state is left as it is and it
    *    runs no retry round (the K1 guard, `RetryLoop.seedState`);
    *  - each later attempt k is one plain RDD job over ONLY the
    *    still-failing archives of that listing, re-read from storage, that
    *    checks each bag and performs the RetryHandler storage round trip
    *    per bag on executors: find latest retry folder → require
    *    incoming == last+1 → reload saved message → bump → save under
    *    folder k;
    *  - incoming ≥ maxRetries hard-fails the consignment (route `fail`).
    *
    * Every job is collected once; the failing ids and the history are
    * derived on the driver from those rows (at most bags × (maxRetries + 1),
    * bounded by the consignment count, not data volume), so nothing is
    * planned as a SQL query, cached or unioned. One `taskConf` serves
    * every job. Returns the attempt history as a local DataFrame:
    * (bagId, attempt, incoming, route, msg_path, message).
    */
  def runWithRetries(spark: SparkSession, bagsGlob: String, stateDir: String,
                     maxRetries: Int = 3,
                     consignmentType: String = "judgment",
                     onAttempt: Int => Unit = _ => ()): DataFrame = {
    import graft.ops.editorial.{Editorial, RetryLoop}

    val hadoopConf = Storage.taskConf(spark)
    val state = stateDir
    val ctype = consignmentType
    try {
      val paths = Storage.listFiles(spark, bagsGlob)
      // attempt 0: validate everything, seed state with the initial
      // editorial output message, retries bumped to 1 on error (ready for
      // resubmit)
      val history = Tar.mapArchives(spark, paths, hadoopConf) { (name, entries) =>
        val bag = bagId(name)
        val ok = BagitValidate.checkBag(bag, entries).ok
        val msg = Editorial.outputMessage(bag, ctype, s"file://$bag.tar.gz",
          s"file://$bag.tar.gz.sha256", "local", s"$bag.tar.gz", "[]", if (ok) 0 else 1)
        RetryLoop.seedState(hadoopConf.value.value, state, ctype, bag, msg) match {
          case Some(path) => RetryAttempt(bag, 0, 0, if (ok) "ok" else "retry", path, msg)
          case None => RetryAttempt(bag, 0, 0, "duplicate", "", "")
        }
      }.collect().toBuffer
      var round = history.toSeq
      var attempt = 1
      while (attempt <= maxRetries && round.exists(_.route == "retry")) {
        onAttempt(attempt)   // seam: the reference re-fetches fresh content
        // re-validation re-reads ONLY the failing archives from storage —
        // a bag repaired upstream between retries (the reference's
        // re-download path) is observed, unlike re-checking cached bytes.
        val a = attempt
        val failing = round.filter(_.route == "retry").map(_.bagId).toSet
        round = Tar.mapArchives(spark, paths.filter(p => failing.contains(bagId(p))), hadoopConf) {
          (name, entries) =>
            val bag = bagId(name)
            def row(route: String, path: String = "", msg: String = "") =
              RetryAttempt(bag, a, a, route, path, msg)
            if (BagitValidate.checkBag(bag, entries).ok) row("ok")
            else if (a >= maxRetries) row("fail")
            else RetryLoop.handleRetry(hadoopConf.value.value, state, ctype, bag, a) match {
              case Right((path, msg)) => row("retry", path, msg)
              case Left(err) => row(s"error: $err")
            }
        }.collect().toSeq
        history ++= round
        attempt += 1
      }
      spark.createDataset(history.toSeq)(attemptEncoder).toDF()
    } finally hadoopConf.destroy()
  }
}
