package graft.pipeline

import graft.core.archive.{PackedArchive, Tar, TarEntry}
import graft.core.io.Storage
import graft.core.model.TreEvents
import graft.ops.editorial.{Editorial, ParserOutputs, ParserStub, RetryLoop}
import graft.ops.validate.{BagCheck, BagitValidate}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** The integrated batch pipeline (SURVEY §3.1 / §7.1 module 7): what the
  * reference runs as a Step Function of Lambdas, one invocation per bag,
  * becomes ONE plain Spark job over a batch of consignments. Every TRE
  * step is bag-local, so the task that reads a bag's archive checks it,
  * writes its bundle and returns one payload-free row; the driver collects
  * those rows once (bounded by the bag count) and every stage below is a
  * projection of that local Dataset — no `bagId` join, group, shuffle or
  * cache.
  *
  *   scan(tar) → checksum verify (J3) + count reconciliation (A1) +
  *   per-bag verdict with error channel → provenance-chained result event
  *
  * These are the validation stages (§3.1 steps 3–4), which `runFull`
  * returns as its `validation` field.
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

/** Steps 6–7 of one ok bag with a judgment doc, as its task wrote them. */
final case class BagOutput(po: ParserOutputs, tre_metadata: String, bundle: PackedArchive,
                           s3_folder_url: String, s3_sha256_url: String, output_message: String)

/** One bag of `runFull`: its checks, and its outputs where it has any. */
final case class BagRun(check: BagCheck, out: Option[BagOutput])

object TrePipeline {

  private def bagId(path: String): String = path.split('/').last.stripSuffix(".tar.gz")

  /** Made once: deriving a product encoder takes a reflection pass. */
  private val attemptEncoder = Encoders.product[RetryAttempt]
  private val runEncoder = Encoders.product[BagRun]

  /** The validation stages as projections of `bags`, the local `BagCheck`
    * rows of `paths`.
    */
  private def validation(spark: SparkSession, paths: Seq[String],
                         conf: Broadcast[SerializableConfiguration], bags: DataFrame,
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

  /** The complete §3.1 main path in one plain job: each task validates
    * its bag, and for an ok bag prepares the parser input (step 5: first
    * data file, prepare_parser_input.py:124-131), runs the parser contract
    * (step 6, stub seam), renders the TRE metadata and writes the
    * editorial bundle tar.gz under `<outDir>/<ref>/0/` (step 7) and its
    * output message. The judgment doc's bytes never leave the task; the
    * rows are collected once and nothing is cached.
    */
  def runFull(spark: SparkSession, bagsGlob: String, outDir: String,
              environment: String = "dev", version: String = "0.1.0"): FullPipelineResult = {
    val hadoopConf = Storage.taskConf(spark)
    val paths = Storage.listFiles(spark, bagsGlob)
    val runs = Tar.mapArchives(spark, paths, hadoopConf) { (name, entries) =>
      val bag = bagId(name)
      val (check, docBytes) = BagitValidate.checkBag(bag, entries)
      // step 5: judgment doc = FIRST data file (compat with the reference's
      // data[0] assumption; generalized inventory kept in `entries`). An ok
      // bag without a data file gets no parser input and no bundle.
      val out = for (doc <- check.judgment_doc if check.ok; bytes <- docBytes) yield {
        // step 6: parser contract (stub seam — swap for the real parser)
        val po = ParserStub.outputs(bag, doc.substring(doc.lastIndexOf('/') + 1))
        val meta = Editorial.treMetadataJson(bag, environment, version, po)
        // step 7: bundle = metadata.json once + the step-5 judgment doc only
        // (a bag with k>1 data files must not bundle every data file), in
        // name order
        val packed = Tar.writeArchive(hadoopConf.value.value, outDir, bag, Seq(
          TarEntry(bag, s"$bag/0/metadata.json", meta.getBytes("UTF-8"), 0L, isDir = false),
          TarEntry(bag, s"$bag/0/" + doc.substring(doc.indexOf('/') + 1), bytes, 0L, isDir = false)
        ).sortBy(_.name).iterator)
        // K8 demonstrated end-to-end: the output message carries the packed
        // archive's URL and its .sha256 sidecar URL through the presign
        // seam (outputMessage shape, tre_editorial_integration.py:311-324)
        val url = Editorial.presignUrl(packed.path)
        val shaUrl = Editorial.presignUrl(packed.path + ".sha256")
        BagOutput(po, meta, packed, url, shaUrl, Editorial.outputMessage(bag, "judgment", url,
          shaUrl, "local", s"$bag.tar.gz", Editorial.itemsJson(packed.items), 0))
      }
      BagRun(check, out)
    }.collect()
    val local = spark.createDataset(runs.toSeq)(runEncoder)

    val docs = local.filter(col("out").isNotNull)
      .select(col("check.bagId").as("bagId"), col("check.judgment_doc").as("judgment_doc"),
        col("out.*"))
    val parserInputs = docs.select(col("bagId"), col("judgment_doc"),
      Editorial.parserInputMessage(
        col("bagId"), lit("local"), concat(lit("file://"), col("judgment_doc")),
        concat(lit("parsed/judgment/"), col("bagId"), lit("/0/")),
        element_at(split(col("judgment_doc"), "/"), -1), lit("judgment"), lit(0)).as("msg"))
    FullPipelineResult(
      validation(spark, paths, hadoopConf, local.select("check.*"), environment),
      parserInputs,
      docs.select(col("bagId"), col("judgment_doc"), col("po").as("parser_outputs")),
      docs.select("bagId", "judgment_doc", "po", "tre_metadata"),
      docs.select("bundle.*"),
      docs.select(col("bagId"), col("s3_folder_url"), col("s3_sha256_url"),
        col("bundle.sha256").as("sha256"), col("output_message")))
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
    *    takes the route `duplicate` without its archive being decoded,
    *    its state is left as it is and it runs no retry round (the K1
    *    guard, `RetryLoop.seedState`);
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
    val hadoopConf = Storage.taskConf(spark)
    val state = stateDir
    val ctype = consignmentType
    try {
      val paths = Storage.listFiles(spark, bagsGlob)
      // attempt 0: validate everything, seed state with the initial
      // editorial output message, retries bumped to 1 on error (ready for
      // resubmit)
      val history = Storage.mapFiles(spark, paths, hadoopConf) { (name, in) =>
        val bag = bagId(name)
        // decoded only once `seedState` has found no seed: a re-delivery's
        // archive is closed unread
        lazy val ok = BagitValidate.checkBag(bag, Tar.entriesFromStream(name, in))._1.ok
        lazy val msg = Editorial.outputMessage(bag, ctype, s"file://$bag.tar.gz",
          s"file://$bag.tar.gz.sha256", "local", s"$bag.tar.gz", "[]", if (ok) 0 else 1)
        RetryLoop.seedState(hadoopConf.value.value, state, ctype, bag, msg) match {
          case Some(path) => RetryAttempt(bag, 0, 0, if (ok) "ok" else "retry", path, msg)
          case None => in.close(); RetryAttempt(bag, 0, 0, "duplicate", "", "")
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
            if (BagitValidate.checkBag(bag, entries)._1.ok) row("ok")
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
