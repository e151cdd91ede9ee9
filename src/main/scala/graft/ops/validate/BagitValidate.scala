package graft.ops.validate

import graft.core.archive.TarEntry
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** One manifest-vs-file row of `verifyChecksums` (J3). */
final case class FileCheck(file: String, expected: Option[String],
                           computed: Option[String], status: String)

/** Every check of one bag (`BagitValidate.checkBag`): the `verifyChecksums`
  * rows, the `reconcileCounts` columns, the verdict, and the judgment doc's
  * name (smallest `data/` name). No payload: `checkBag` hands the doc's
  * bytes to its caller beside the row.
  */
final case class BagCheck(bagId: String, checks: Seq[FileCheck],
                          n_extracted: Long, n_extracted_data: Long,
                          n_root: Long, n_data: Long,
                          counts_ok: Boolean, data_counts_ok: Boolean,
                          ok: Boolean, errors: Seq[String],
                          judgment_doc: Option[String])

/** Bag validation operators (SURVEY §2 J3/A1/A2/A4/U1/U2), bag-aware: every
  * input carries a `bagId` column so thousands of consignments validate in
  * one distributed pass (the reference validates one bag per Lambda invoke).
  *
  * Error semantics: no per-row exceptions — each check emits rows/flags
  * that fold into an `errors` array per bag (mirrors the dual ok/error
  * event outputs, tre_vb_validate_bagit.py:124-161).
  */
object BagitValidate {

  /** J3/A5: expected (manifest) vs computed (sha256 of content) per file.
    * Full outer join also surfaces manifest entries with no file
    * (`missing_file`) and files with no manifest entry (`not_in_manifest`).
    * Reference per-item verify: s3_lib/s3_lib/checksum_lib.py:81-99,121-154.
    * Kept: join-operator reference for `checkBag` (J3), pinned by BagCheckSpec.
    */
  def verifyChecksums(files: DataFrame, manifest: DataFrame): DataFrame = {
    // disjoint column names before the join: both inputs may derive from
    // the same source frame (e.g. one exploded-entries Dataset), which
    // otherwise trips DetectAmbiguousSelfJoin
    val f = files.select(col("bagId").as("f_bagId"), col("name").as("f_name"),
      lower(sha2(col("content"), 256)).as("computed"))
    val m = manifest.select(col("bagId").as("m_bagId"), col("file").as("m_file"),
      lower(col("checksum")).as("expected"))
    m.join(f, col("m_bagId") === col("f_bagId") && col("m_file") === col("f_name"),
      "full_outer")
      .select(
        coalesce(col("m_bagId"), col("f_bagId")).as("bagId"),
        coalesce(col("m_file"), col("f_name")).as("file"),
        col("expected"), col("computed"),
        when(col("expected").isNull, lit("not_in_manifest"))
          .when(col("computed").isNull, lit("missing_file"))
          .when(col("expected") === col("computed"), lit("ok"))
          .otherwise(lit("checksum_mismatch")).as("status"))
  }

  /** A1: file-count reconciliation per bag
    * (tre_vb_validate_bagit_files.py:88-121):
    * `1 + |root| + |data|` must equal `|extracted|` (the root manifest
    * lists everything except itself — the reference's "Catch-22" comment),
    * and `|data|` must equal the extracted files under `data/`.
    * Kept: join-operator reference for `checkBag` (A1), pinned by BagCheckSpec.
    */
  def reconcileCounts(rootManifest: DataFrame, dataManifest: DataFrame,
                      extracted: DataFrame, dataDir: String = "data/"): DataFrame = {
    val root = rootManifest.groupBy("bagId").agg(count(lit(1)).as("n_root"))
    val data = dataManifest.groupBy("bagId").agg(count(lit(1)).as("n_data"))
    val ext = extracted.groupBy("bagId").agg(
      count(lit(1)).as("n_extracted"),
      count(when(col("name").startsWith(dataDir), 1)).as("n_extracted_data"))
    ext.join(root, Seq("bagId"), "left").na.fill(0L, Seq("n_root"))
      .join(data, Seq("bagId"), "left").na.fill(0L, Seq("n_data"))
      .withColumn("counts_ok",
        lit(1) + col("n_root") + col("n_data") === col("n_extracted"))
      .withColumn("data_counts_ok", col("n_data") === col("n_extracted_data"))
  }

  /** U1/U2: set-difference checks, strictly stronger than the reference's
    * count equality (SURVEY §4 "latent bugs"): per bag, names listed but
    * not extracted and vice versa.
    * Kept: join-operator reference for `checkBag`, pinned by BagCheckSpec.
    */
  def setDifferences(listing: DataFrame, extracted: DataFrame): DataFrame = {
    val l = listing.select(col("bagId"), col("name"))
    val e = extracted.select(col("bagId"), col("name"))
    l.join(e, Seq("bagId", "name"), "left_anti").withColumn("side", lit("only_listed"))
      .unionByName(
        e.join(l, Seq("bagId", "name"), "left_anti").withColumn("side", lit("only_extracted")))
  }

  /** A4: a checksum side-file must contain exactly one entry whose basename
    * matches the expected archive name
    * (tre_vb_validate_bagit.py:100-116; tre_bagit_checksum_validation.py:136-152).
    * Kept: join-operator reference for `checkBag` (A4), pinned by BagCheckSpec.
    */
  def singleEntryCheck(manifest: DataFrame, expectedBasename: String): DataFrame =
    manifest.groupBy("bagId").agg(
      count(lit(1)).as("n_entries"),
      first(col("basename")).as("basename"))
      .select(col("bagId"),
        array_compact(array(
          when(col("n_entries") =!= 1,
            concat(lit("expected 1 manifest entry, got "), col("n_entries"))),
          when(col("n_entries") === 1 && col("basename") =!= expectedBasename,
            concat(lit(s"manifest basename mismatch: expected $expectedBasename, got "),
              col("basename"))))).as("errors"))

  /** S1 over one `manifest-sha256.txt`: (file, checksum) per non-blank
    * line, with the UTF8String operations the SQL parse (`decode` → `split`
    * → `substring` → `lower`/`trim`) calls, so odd lines parse identically.
    */
  private def manifestLines(bytes: Array[Byte]): Seq[(String, String)] = {
    // a new decoder REPORTs malformed input, as SQL `decode` does
    val text = StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(bytes)).toString
    UTF8String.fromString(text).split(UTF8String.fromString("\n"), -1).toSeq
      .filter(_.trim().numChars() > 0)
      .map(l => (l.substringSQL(65, Int.MaxValue).trim().toString,
        l.substringSQL(1, 64).toLowerCase().toString))
  }

  /** The TRE checks of ONE bag from a single pass over its archive entries
    * (names carry the `<reference>/` root component, stripped here): the
    * bag-local equivalent of `verifyChecksums` + `reconcileCounts` + the
    * per-bag error fold, so a batch validates with no `bagId` join.
    * Returns the row and the judgment doc's bytes, which the caller keeps
    * in its task. `BagCheckSpec` holds it to those operators.
    */
  def checkBag(bagId: String, entries: Iterator[TarEntry]): (BagCheck, Option[Array[Byte]]) = {
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val manifest = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var nExtracted, nExtractedData, nRoot = 0L
    var doc: Option[(String, Array[Byte])] = None
    entries.filterNot(_.isDir).foreach { e =>
      val name = e.name.substring(e.name.indexOf('/') + 1)
      nExtracted += 1
      if (name.startsWith("data/")) {
        nExtractedData += 1
        files += name -> java.util.HexFormat.of().formatHex(
          java.security.MessageDigest.getInstance("SHA-256").digest(e.bytes))
        // Spark orders strings by their UTF-8 bytes, not UTF-16 units
        if (doc.forall(d => UTF8String.fromString(name).compareTo(UTF8String.fromString(d._1)) < 0))
          doc = Some(name -> e.bytes)
      } else if (name == "manifest-sha256.txt") manifest ++= manifestLines(e.bytes)
      else nRoot += 1
    }
    val computedOf = files.groupMap(_._1)(_._2)
    val listed = manifest.map(_._1).toSet
    // full outer join of manifest lines with data files on the name
    val checks = manifest.toSeq.flatMap { case (file, expected) =>
      computedOf.get(file) match {
        case Some(cs) => cs.map(c => FileCheck(file, Some(expected), Some(c),
          if (c == expected) "ok" else "checksum_mismatch"))
        case None => Seq(FileCheck(file, Some(expected), None, "missing_file"))
      }
    } ++ files.filterNot(f => listed(f._1))
      .map { case (name, c) => FileCheck(name, None, Some(c), "not_in_manifest") }
    val nData = manifest.size.toLong
    val countsOk = 1 + nRoot + nData == nExtracted
    val dataCountsOk = nData == nExtractedData
    val errors = checks.filter(_.status != "ok").map(c => s"${c.status}: ${c.file}") ++
      (if (countsOk) Nil else Seq("file count mismatch")) ++
      (if (dataCountsOk) Nil else Seq("data file count mismatch"))
    (BagCheck(bagId, checks, nExtracted, nExtractedData, nRoot, nData, countsOk, dataCountsOk,
      errors.isEmpty, errors, doc.map(_._1)), doc.map(_._2))
  }
}
