package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class TrePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes).map("%02x".format(_)).mkString

  /** Two bags: one valid, one with a corrupted manifest digest. */
  private def makeBags(dir: java.nio.file.Path): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    def write(name: String, files: Seq[(String, String)]): Unit = {
      val out = new TarArchiveOutputStream(
        new GzipCompressorOutputStream(Files.newOutputStream(dir.resolve(name))))
      files.foreach { case (n, c) =>
        val b = c.getBytes; val e = new TarArchiveEntry(n)
        e.setSize(b.length.toLong); out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
      }
      out.close()
    }
    val doc = "JUDGMENT ONE"
    write("TDR-2022-OK1.tar.gz", Seq(
      "./TDR-2022-OK1/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-2022-OK1/bag-info.txt" -> "Consignment-Series: S 1",
      "./TDR-2022-OK1/manifest-sha256.txt" -> (sha(doc) + "  data/doc.docx"),
      "./TDR-2022-OK1/data/doc.docx" -> doc))
    write("TDR-2022-BAD1.tar.gz", Seq(
      "./TDR-2022-BAD1/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-2022-BAD1/bag-info.txt" -> "Consignment-Series: S 1",
      "./TDR-2022-BAD1/manifest-sha256.txt" -> (("0" * 64) + "  data/doc.docx"),
      "./TDR-2022-BAD1/data/doc.docx" -> doc))
  }

  test("full main path: validate → parser input → parse → editorial bundle") {
    val dir = Files.createTempDirectory("bags2")
    val out = Files.createTempDirectory("sips")
    makeBags(dir)
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString)

    // only the valid bag advances past validation
    assert(r.parserInputs.count() == 1)
    val pi = r.parserInputs.select($"msg").as[String].head()
    assert(get_json(pi, "$['parser-inputs']['consignment-reference']") == "TDR-2022-OK1")
    assert(get_json(pi, "$.context['judgment-document']") == "doc.docx")

    val po = r.parserOutputs.select($"parser_outputs.xml").as[String].head()
    assert(po == "TDR-2022-OK1.xml")

    // bundle written: metadata.json + the judgment doc under <ref>/0/
    val b = r.bundles.collect().head
    assert(b.getAs[String]("bagId") == "TDR-2022-OK1")
    val names = b.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
      .map(_.getString(0)).sorted
    assert(names == Seq("TDR-2022-OK1/0/doc.docx", "TDR-2022-OK1/0/metadata.json"))
    // the packed archive is a readable tar.gz with the doc bytes intact
    val back = graft.core.archive.Tar.explodePath(spark, Seq(b.getAs[String]("path")),
      graft.core.io.Storage.taskConf(spark)).collect()
    assert(new String(back.find(_.name.endsWith("doc.docx")).get.bytes) == "JUDGMENT ONE")

    // K8: output message threads the archive + sha256-sidecar URLs
    val om = r.outputMessages.collect().head
    assert(om.getAs[String]("bagId") == "TDR-2022-OK1")
    val folderUrl = om.getAs[String]("s3_folder_url")
    val shaUrl = om.getAs[String]("s3_sha256_url")
    assert(folderUrl.endsWith("TDR-2022-OK1.tar.gz"))
    assert(shaUrl == folderUrl + ".sha256")
    val msg = om.getAs[String]("output_message")
    assert(get_json(msg, "$['editorial-output']['s3-folder-url']") == folderUrl)
    assert(get_json(msg, "$['tar-gz']['key']") == "TDR-2022-OK1.tar.gz")
    // the items string is the bytes to_json gives the bundle's items column
    assert(get_json(msg, "$['tar-gz']['items']") ==
      r.bundles.select(to_json($"items")).as[String].head())
    // the sidecar object exists and matches the recorded archive digest
    val shaPath = new org.apache.hadoop.fs.Path(b.getAs[String]("path") + ".sha256")
    val fs = shaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(shaPath))
    assert(om.getAs[String]("sha256").length == 64)
  }

  private def get_json(json: String, path: String): String =
    Seq(json).toDF("j").select(get_json_object($"j", path)).head().getString(0)

  test("bundle for a bag with k>1 data files: one metadata.json, judgment doc only") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val dir = Files.createTempDirectory("bagsmulti")
    val out = Files.createTempDirectory("sipsmulti")
    val doc = "JUDGMENT"; val annex = "ANNEX"; val extra = "EXTRA"
    val o = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(Files.newOutputStream(dir.resolve("TDR-2022-MULTI.tar.gz"))))
    Seq(
      "./TDR-2022-MULTI/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-2022-MULTI/bag-info.txt" -> "Consignment-Series: S 1",
      "./TDR-2022-MULTI/manifest-sha256.txt" ->
        (sha(doc) + "  data/a-judgment.docx\n" + sha(annex) + "  data/b-annex.pdf\n" +
          sha(extra) + "  data/c-extra.txt"),
      "./TDR-2022-MULTI/data/a-judgment.docx" -> doc,
      "./TDR-2022-MULTI/data/b-annex.pdf" -> annex,
      "./TDR-2022-MULTI/data/c-extra.txt" -> extra
    ).foreach { case (n, c) =>
      val b = c.getBytes; val e = new TarArchiveEntry(n)
      e.setSize(b.length.toLong); o.putArchiveEntry(e); o.write(b); o.closeArchiveEntry()
    }
    o.close()
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString)
    val b = r.bundles.collect().head
    val names = b.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
      .map(_.getString(0)).sorted
    // exactly ONE metadata.json + the judgment doc (first data file), no annexes
    assert(names == Seq("TDR-2022-MULTI/0/a-judgment.docx", "TDR-2022-MULTI/0/metadata.json"))
  }

  test("integrated pipeline: N bags in one job, per-bag verdicts + provenance events") {
    val dir = Files.createTempDirectory("bags")
    makeBags(dir)
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz",
      Files.createTempDirectory("sips").toString).validation

    assert(r.entries.count() == 8)

    val verdicts = r.verdicts.orderBy($"bagId").collect()
    val ok = verdicts.find(_.getString(0) == "TDR-2022-OK1").get
    val bad = verdicts.find(_.getString(0) == "TDR-2022-BAD1").get
    assert(ok.getAs[Boolean]("ok"))
    assert(!bad.getAs[Boolean]("ok"))
    assert(bad.getAs[scala.collection.Seq[String]]("errors")
      .exists(_.startsWith("checksum_mismatch")))

    // counts: 1 (manifest itself) + 2 root + 1 data = 4 extracted
    assert(ok.getAs[Long]("n_root") == 2L)
    assert(ok.getAs[Long]("n_data") == 1L)
    assert(ok.getAs[Long]("n_extracted") == 4L)

    // provenance: TDR-UUID chain extended with a fresh TRE-UUID
    val ev = r.events.orderBy($"bagId")
      .select($"event_name", size($"event.UUIDs"),
        element_at(map_keys(element_at($"event.UUIDs", -1)), 1))
      .as[(String, Int, String)].collect()
    assert(ev.toSeq.map(_._1).sorted ==
      Seq("bagit-validated", "bagit-validation-error"))
    assert(ev.forall(e => e._2 == 2 && e._3 == "TRE-UUID"))
  }

  private def writeTarGz(dir: java.nio.file.Path, name: String, files: Seq[(String, String)]): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val out = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(Files.newOutputStream(dir.resolve(name))))
    files.foreach { case (n, c) =>
      val b = c.getBytes; val e = new TarArchiveEntry(n)
      e.setSize(b.length.toLong); out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    }
    out.close()
  }

  /** Every physical node of an executed plan, through AQE stages and the
    * plans of cached relations it reads.
    */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
  }

  test("runFull validates and bundles without a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dir = Files.createTempDirectory("bagsnoshuffle")
    val out = Files.createTempDirectory("sipsnoshuffle")
    makeBags(dir)
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString)
    Seq(r.outputMessages, r.validation.events).foreach { df =>
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan
      assert(nodes(plan).collect { case s: ShuffleExchangeLike => s }.isEmpty, plan.treeString)
    }
  }

  test("a bag whose archive holds no file gets a verdict and an error event") {
    val dir = Files.createTempDirectory("bagsempty")
    makeBags(dir)
    writeTarGz(dir, "TDR-2022-EMPTY.tar.gz", Seq.empty)
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz",
      Files.createTempDirectory("sipsempty").toString).validation
    val ev = r.events.filter($"bagId" === "TDR-2022-EMPTY")
      .select($"ok", $"errors", $"event_name", $"n_extracted")
      .as[(Boolean, Seq[String], String, Long)].collect().toSeq
    // 1 + |root| + |data| = 1 ≠ 0 extracted files
    assert(ev == Seq((false, Seq("file count mismatch"), "bagit-validation-error", 0L)))
  }

  /** `body`'s result and the jobs and stages it started. */
  private def counted[T](body: => T): (T, Int, Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.graftbridge.drainListeners
    val jobs, stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
    }
    drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try { val x = body; drainListeners(spark); (x, jobs.get, stages.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("runFull builds one taskConf broadcast for its scan, entries and bundles") {
    val dir = Files.createTempDirectory("bagsconf")
    val out = Files.createTempDirectory("sipsconf")
    makeBags(dir)
    def nextId(): Long = { val b = spark.sparkContext.broadcast(0); b.destroy(); b.id }
    val before = nextId()
    val (_, _, stages) = counted(TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString))
    // every id taken in between is a taskConf or a submitted stage's task binary
    assert(nextId() - before - 1 - stages == 1)
  }

  test("runFull reads each archive in one job, and reading its results reads none") {
    val dir = Files.createTempDirectory("bagsonejob")
    val out = Files.createTempDirectory("sipsonejob")
    makeBags(dir)
    val (r, jobs, _) = counted(TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString))
    assert(jobs == 1)
    // with the archives gone, every result still reads back whole
    Files.list(dir).toArray.foreach(p => Files.delete(p.asInstanceOf[java.nio.file.Path]))
    assert(r.validation.events.select($"bagId", $"event_name").as[(String, String)]
      .collect().toSeq.sorted ==
      Seq(("TDR-2022-BAD1", "bagit-validation-error"), ("TDR-2022-OK1", "bagit-validated")))
    assert(r.validation.verdicts.select($"bagId", $"ok").as[(String, Boolean)]
      .collect().toSeq.sorted == Seq(("TDR-2022-BAD1", false), ("TDR-2022-OK1", true)))
    assert(r.outputMessages.select($"bagId").as[String].collect().toSeq == Seq("TDR-2022-OK1"))
    assert(r.bundles.select($"bagId").as[String].collect().toSeq == Seq("TDR-2022-OK1"))
  }

  test("runFull leaves nothing persisted once its results are read") {
    val dir = Files.createTempDirectory("bagspersist")
    val out = Files.createTempDirectory("sipspersist")
    makeBags(dir)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString)
    assert(r.validation.events.collect().length == 2)
    assert(r.outputMessages.collect().length == 1)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("metadata.json in each bundle is the to_json rendering of its struct") {
    import graft.core.archive.Tar
    val dir = Files.createTempDirectory("bagsmeta")
    val out = Files.createTempDirectory("sipsmeta")
    // `"` and `\` in the reference and the doc name; a doc named
    // "invalid…" takes the parser-error path
    val bags = Seq("TDR-q\"b\\s" -> "data/a\"b\\c.docx",
      "TDR-err\"\\" -> "data/invalid\"x\\y.docx")
    bags.foreach { case (ref, doc) =>
      writeTarGz(dir, s"$ref.tar.gz", Seq(
        s"./$ref/bagit.txt" -> "BagIt-Version: 0.97",
        s"./$ref/manifest-sha256.txt" -> (sha("DOC") + s"  $doc"),
        s"./$ref/$doc" -> "DOC"))
    }
    val r = TrePipeline.runFull(spark, dir.toString + "/*.tar.gz", out.toString)
    val rendered = r.editorial.select($"bagId", $"tre_metadata", to_json(struct(
      struct(lit("TRE").as("name"), lit("transform").as("process"),
        lit("judgment").as("type"), lit("dev").as("environment")).as("producer"),
      struct(concat(lit("TRE-"), $"bagId").as("reference"), lit("0.1.0").as("dev-tre-version"),
        $"po.xml".as("xml"), $"po.log".as("log"),
        $"po.error_messages".as("error-messages")).as("parameters"))))
      .as[(String, String, String)].collect().toSeq.sortBy(_._1)
    assert(rendered.map(_._1) == bags.map(_._1).sorted)
    val paths = r.bundles.select($"bagId", $"path").as[(String, String)].collect().toMap
    rendered.foreach { case (bag, meta, json) =>
      assert(meta == json, bag)
      val p = new org.apache.hadoop.fs.Path(paths(bag))
      val written = Tar.entriesFromStream(p.getName,
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p))
        .find(_.name == s"$bag/0/metadata.json").get.bytes
      assert(new String(written, "UTF-8") == json, bag)
    }
    // the ok path carries the parser's xml; the error path leaves it out
    // and carries the parser's error message
    val byBag = rendered.map(t => t._1 -> t._3).toMap
    assert(byBag("TDR-q\"b\\s").contains("\"xml\":\"TDR-q\\\"b\\\\s.xml\""))
    assert(!byBag("TDR-err\"\\").contains("\"xml\""))
    assert(byBag("TDR-err\"\\").contains("Unable to parse document"))
  }

  test("runWithRetries routes a re-delivery duplicate without reading its archive") {
    val dir = Files.createTempDirectory("redeliver")
    val state = Files.createTempDirectory("redeliverstate")
    val glob = dir.toString + "/*.tar.gz"
    writeTarGz(dir, "TDR-2022-AGAIN.tar.gz", Seq(
      "./TDR-2022-AGAIN/bagit.txt" -> "BagIt-Version: 0.97",
      "./TDR-2022-AGAIN/manifest-sha256.txt" -> (sha("DOC") + "  data/doc.docx"),
      "./TDR-2022-AGAIN/data/doc.docx" -> "DOC"))
    def routes() = TrePipeline.runWithRetries(spark, glob, state.toString)
      .select($"attempt", $"route").as[(Int, String)].collect().toSeq
    assert(routes() == Seq((0, "ok")))
    // the archive is no gzip stream any more: decoding it would throw
    Files.write(dir.resolve("TDR-2022-AGAIN.tar.gz"), "not a gzip stream".getBytes)
    assert(routes() == Seq((0, "duplicate")))
  }

  test("runWithRetries drives a bag with an empty archive to the retry limit") {
    val dir = Files.createTempDirectory("retryempty")
    val state = Files.createTempDirectory("retryemptystate")
    writeTarGz(dir, "TDR-2022-EMPTY.tar.gz", Seq.empty)
    val routes = TrePipeline.runWithRetries(spark, dir.toString + "/*.tar.gz", state.toString)
      .orderBy($"attempt").select($"attempt", $"route").as[(Int, String)].collect().toSeq
    assert(routes == Seq((0, "retry"), (1, "retry"), (2, "retry"), (3, "fail")))
  }

  test("runWithRetries returns a local history and leaves nothing persisted") {
    val dir = Files.createTempDirectory("retrycache")
    val state = Files.createTempDirectory("retrycachestate")
    makeBags(dir)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val history = TrePipeline.runWithRetries(spark, dir.toString + "/*.tar.gz", state.toString)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(history.isLocal)
    val routes = history.orderBy($"bagId", $"attempt")
      .select($"bagId", $"attempt", $"route").as[(String, Int, String)].collect().toSeq
    assert(routes == Seq(
      ("TDR-2022-BAD1", 0, "retry"), ("TDR-2022-BAD1", 1, "retry"),
      ("TDR-2022-BAD1", 2, "retry"), ("TDR-2022-BAD1", 3, "fail"),
      ("TDR-2022-OK1", 0, "ok")))
  }

  test("runWithRetries seeds attempt 0 with valid editorial JSON for any bag name") {
    val dir = Files.createTempDirectory("retryquote")
    val state = Files.createTempDirectory("retryquotestate")
    makeBags(dir)
    writeTarGz(dir, "q\"uote.tar.gz", Seq.empty)
    val history = TrePipeline.runWithRetries(spark, dir.toString + "/*.tar.gz", state.toString)
    val msgs = history.filter($"attempt" === 0).select($"bagId", $"message",
      get_json_object($"message", "$['editorial-output']['consignment-reference']"))
      .as[(String, String, String)].collect().toSeq
    assert(msgs.map(_._1).sorted == Seq("TDR-2022-BAD1", "TDR-2022-OK1", "q\"uote"))
    msgs.foreach { case (bag, _, ref) => assert(ref == bag) }
    // the message bytes of an ordinary bag name are the seeded state file
    assert(msgs.find(_._1 == "TDR-2022-OK1").get._2 ==
      """{"editorial-output":{"consignment-reference":"TDR-2022-OK1",""" +
      """"s3-folder-url":"file://TDR-2022-OK1.tar.gz","s3-sha256-url":"file://TDR-2022-OK1.tar.gz.sha256",""" +
      """"consignment-type":"judgment","number-of-retries":0},""" +
      """"tar-gz":{"bucket":"local","key":"TDR-2022-OK1.tar.gz","items":"[]"}}""")
    val routes = history.select($"bagId", $"attempt", $"route")
      .as[(String, Int, String)].collect().toSeq.sorted
    val retried = Seq((0, "retry"), (1, "retry"), (2, "retry"), (3, "fail"))
    assert(routes == (retried.map(r => ("TDR-2022-BAD1", r._1, r._2)) :+
      (("TDR-2022-OK1", 0, "ok"))) ++ retried.map(r => ("q\"uote", r._1, r._2)))
  }
}
