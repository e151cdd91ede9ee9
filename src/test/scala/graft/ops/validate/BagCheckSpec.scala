package graft.ops.validate

import graft.SparkSpec
import graft.core.archive.TarEntry
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.util.Random

/** `checkBag` must agree with the join operators it replaces in the TRE
  * pipeline: `verifyChecksums`, `reconcileCounts` and the per-bag verdict
  * fold, run as SQL over the same entries. Bags whose archive holds no file
  * are left out: the joins give them no reconciliation row (and so no
  * verdict) at all, which `checkBag` deliberately fixes —
  * `TrePipelineSpec` covers that case.
  */
class BagCheckSpec extends SparkSpec {
  import spark.implicits._

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def file(name: String, bytes: Array[Byte]) = TarEntry("", name, bytes, 0L, isDir = false)
  private def text(name: String, s: String) = file(name, s.getBytes("UTF-8"))

  private val dataNames = Seq("data/doc.docx", "data/Doc.DOCX", "data/é.docx", "data/\uE000.pdf",
    "data/\uD83D\uDE00.txt", "data/a b.txt", "data/ pad.txt", "data/sub/x.bin")
  private val rootNames = Seq("bagit.txt", "bag-info.txt", "tagmanifest-sha256.txt",
    "file-metadata.csv", "DATA/x.txt", "datafile.txt")

  /** One manifest line per data file in one of the shapes the SQL parse
    * must treat alike, plus lines that list nothing valid.
    */
  private def line(rnd: Random, name: String, bytes: Array[Byte]): Seq[String] = {
    val h = sha(bytes)
    rnd.nextInt(10) match {
      case 0 => Seq(h.toUpperCase + "  " + name)
      case 1 => Seq(sha(Array(1.toByte) ++ bytes) + "  " + name)        // checksum_mismatch
      case 2 => Seq(h + "  " + name + "   ")                              // padded
      case 3 => Seq("  " + h + "  " + name)                               // shifted digest
      case 4 => Seq(h + "\t" + name)                                      // tab is not trimmed
      case 5 => Seq(h + " " + name, h + " " + name)                       // duplicate line
      case 6 => Nil                                                       // not_in_manifest
      case _ => Seq(h + "  " + name)
    }
  }
  private val junk = Seq("", "   ", "\t", "abc", "ÄBC  data/doc.docx",
    "0" * 64 + "  data/ghost.txt", "f" * 64 + "  bagit.txt")

  private def randomBag(rnd: Random, i: Int): Seq[TarEntry] = {
    val prefix = rnd.nextInt(10) match {
      case 0 => ""
      case 1 => s"x/TDR-$i/"
      case _ => s"TDR-$i/"
    }
    val clean = rnd.nextInt(10) < 4
    val data = Seq.fill(rnd.nextInt(4))(dataNames(rnd.nextInt(dataNames.size)))
      .map(n => n -> Array.fill(rnd.nextInt(20))(rnd.nextInt(256).toByte))
    val dups = if (!clean && rnd.nextInt(5) == 0 && data.nonEmpty) Seq(data.head._1 -> "DUP".getBytes) else Nil
    val root = rnd.shuffle(rootNames).take(rnd.nextInt(3)).map(n => text(prefix + n, n))
    val lines =
      if (clean) data.map { case (n, b) => sha(b) + "  " + n }
      else rnd.shuffle((data ++ dups).flatMap { case (n, b) => line(rnd, n, b) } ++
        junk.filter(_ => rnd.nextInt(6) == 0))
    val eol = if (!clean && rnd.nextInt(6) == 0) "\r\n" else "\n"
    val manifests = Seq.fill(if (clean) 1 else Seq(0, 1, 1, 1, 2)(rnd.nextInt(5)))(
      text(prefix + "manifest-sha256.txt", lines.mkString("", eol, if (rnd.nextBoolean()) eol else "")))
    val dirs = if (rnd.nextBoolean()) Seq(TarEntry("", prefix + "data/", Array.emptyByteArray, 0L, isDir = true))
      else Nil
    val files = root ++ manifests ++ (data ++ dups).map { case (n, b) => file(prefix + n, b) }
    rnd.shuffle(dirs ++ (if (files.isEmpty) Seq(text(prefix + "bagit.txt", "B")) else files))
  }

  /** Bags the random draw might miss. */
  private val fixed = Seq(
    // ok with no data file: no judgment doc
    "NODATA" -> Seq(text("NODATA/bagit.txt", "B"), text("NODATA/manifest-sha256.txt", "")),
    // U+E000 sorts after U+1F600 in UTF-16 but before it in UTF-8 bytes
    "ORDER" -> Seq(text("ORDER/data/\uD83D\uDE00.txt", "A"), text("ORDER/data/\uE000.txt", "B"),
      text("ORDER/manifest-sha256.txt",
        sha("A".getBytes) + "  data/\uD83D\uDE00.txt\n" + sha("B".getBytes) + "  data/\uE000.txt\n")),
    // CRLF manifest: the SQL keeps the '\r' in the file name
    "CRLF" -> Seq(text("CRLF/data/d.txt", "D"),
      text("CRLF/manifest-sha256.txt", sha("D".getBytes) + "  data/d.txt\r\n")))

  private val bags: Seq[(String, Seq[TarEntry])] = {
    val rnd = new Random(20231017L)
    fixed ++ (0 until 200).map(i => s"R$i" -> randomBag(rnd, i))
  }

  /** The pipeline's join-based validation (manifest parse, J3, A1, verdict
    * fold) over (bagId, name, content) rows.
    */
  private def reference(files: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val manifestKeyed = files
      .filter(col("name") === "manifest-sha256.txt")
      .select(col("bagId"),
        explode(split(decode(col("content"), "UTF-8"), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(col("bagId"),
        lower(substring(col("line"), 1, 64)).as("checksum"),
        trim(expr("substring(line, 65)")).as("file"))
    val dataFiles = files.filter(col("name").startsWith("data/"))
    val checksums = BagitValidate.verifyChecksums(
      dataFiles, manifestKeyed.select(col("bagId"), col("file"), col("checksum")))
    val rootManifest = files
      .filter(!col("name").startsWith("data/") && col("name") =!= "manifest-sha256.txt")
      .select(col("bagId"), col("name").as("file"))
    val reconciliation = BagitValidate.reconcileCounts(
      rootManifest, manifestKeyed.select(col("bagId"), col("file")),
      files.select(col("bagId"), col("name")))
    val checksumErrors = checksums.filter(col("status") =!= "ok")
      .groupBy("bagId")
      .agg(collect_list(concat(col("status"), lit(": "), col("file"))).as("cs_errors"))
    val verdicts = reconciliation
      .join(checksumErrors, Seq("bagId"), "left")
      .withColumn("errors", concat(
        coalesce(col("cs_errors"), array().cast("array<string>")),
        when(!col("counts_ok"), array(lit("file count mismatch")))
          .otherwise(array().cast("array<string>")),
        when(!col("data_counts_ok"), array(lit("data file count mismatch")))
          .otherwise(array().cast("array<string>"))))
      .withColumn("ok", size(col("errors")) === 0)
    val docs = dataFiles.groupBy("bagId").agg(min(col("name")).as("judgment_doc"))
    (checksums, reconciliation, verdicts, docs)
  }

  private def opt(r: Row, i: Int): Option[String] = Option(r.getString(i))

  test("checkBag equals the join operators over randomised bags") {
    val checked = bags.map { case (id, es) => BagitValidate.checkBag(id, es.iterator) }
    val got = checked.map(_._1)
    val files = bags.flatMap { case (id, es) =>
      es.filterNot(_.isDir).map(e => (id, e.name.substring(e.name.indexOf('/') + 1), e.bytes))
    }.toDF("bagId", "name", "content")
    val (checksums, reconciliation, verdicts, docs) = reference(files)

    val refChecks = checksums.collect()
      .map(r => (r.getString(0), r.getString(1), opt(r, 2), opt(r, 3), r.getString(4))).toSeq
    val gotChecks = got.flatMap(b => b.checks.map(c => (b.bagId, c.file, c.expected, c.computed, c.status)))
    assert(gotChecks.sortBy(_.toString) == refChecks.sortBy(_.toString))

    val refCounts = reconciliation.select("bagId", "n_extracted", "n_extracted_data", "n_root",
        "n_data", "counts_ok", "data_counts_ok")
      .as[(String, Long, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    val gotCounts = got.map(b => (b.bagId, b.n_extracted, b.n_extracted_data, b.n_root, b.n_data,
      b.counts_ok, b.data_counts_ok))
    assert(gotCounts.sortBy(_._1) == refCounts.sortBy(_._1))

    val refVerdicts = verdicts.select("bagId", "ok", "errors").as[(String, Boolean, Seq[String])]
      .collect().map(v => (v._1, v._2, v._3.sorted)).toSeq
    assert(got.map(b => (b.bagId, b.ok, b.errors.sorted)).sortBy(_._1) == refVerdicts.sortBy(_._1))

    val refDocs = docs.as[(String, String)].collect().toMap
    checked.foreach { case (b, docBytes) =>
      assert(b.judgment_doc == refDocs.get(b.bagId), b.bagId)
      val named = bags.find(_._1 == b.bagId).get._2
        .filter(e => !e.isDir && b.judgment_doc.contains(e.name.substring(e.name.indexOf('/') + 1)))
      assert(docBytes.forall(d => named.exists(_.bytes.sameElements(d))), b.bagId)
      assert(docBytes.isDefined == b.judgment_doc.isDefined, b.bagId)
    }

    // the draw reaches every status and every edge case it is meant to
    assert(gotChecks.map(_._5).toSet ==
      Set("ok", "checksum_mismatch", "missing_file", "not_in_manifest"))
    assert(got.exists(b => b.ok && b.judgment_doc.nonEmpty))
    val byId = got.map(b => b.bagId -> b).toMap
    assert(byId("NODATA").ok && byId("NODATA").judgment_doc.isEmpty)
    assert(byId("ORDER").ok && byId("ORDER").judgment_doc.contains("data/\uE000.txt"))
    assert(byId("CRLF").errors.sorted ==
      Seq("missing_file: data/d.txt\r", "not_in_manifest: data/d.txt"))
  }
}
