package graft.ops.drisip

import graft.functions.{percent_encode, replace_first}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch/series naming derived from the consignment reference
  * `TDR-YYYY-NNN` and the consignment series — reference:
  * lambda_functions/tre-bagit-to-dri-sip/tre_bagit_transforms.py:78-100.
  */
final case class DriConfig(consignmentReference: String, consignmentSeries: String) {
  private val parts = consignmentReference.split("-")
  val tdrYear: String = parts(1)
  val tdrBatchNumber: String = parts(2)
  val batch: String =
    consignmentSeries.replace(" ", "") + "Y" + tdrYear.substring(2) + "TB" + tdrBatchNumber
  val series: String = consignmentSeries.replace(" ", "_")
  val internalPrefix: String = s"$batch/$series/"
  val identifierPrefix: String = s"file:/$internalPrefix"
}

/** The DRI pre-ingest SIP transform (SURVEY §3.2, the flagship slice):
  * BagIt `file-metadata.csv` rows + checksum manifest + bag-info scalars →
  * DRI `metadata.csv` / `closure.csv` rows, byte-exact against the
  * reference goldens
  * (testing/tre_bagit_to_dri_sip/test_bagit_transforms.py:52-68).
  *
  * Spark-first: per-column domain validation is `when`-chains feeding an
  * `errors` array column (the reference's `handle_error` at
  * tre_bagit_transforms.py:103-104 *returns* instead of raising — a silent
  * column-drop bug we do NOT replicate; bad values land in the error
  * channel instead). The checksum lookup is a broadcast left join against
  * the manifest (the reference is an O(rows×manifest) linear scan,
  * tre_bagit.py:78-81).
  * Kept: the DRI pre-ingest SIP transform (SURVEY §3.2); no pipeline path
  * emits SIPs yet, DriSipSpec pins it against the reference goldens.
  */
object DriSip {

  val metadataFields: Seq[String] = Seq(
    "identifier", "file_name", "folder", "date_last_modified", "checksum",
    "rights_copyright", "legal_status", "held_by", "language", "TDR_consignment_ref")

  val closureFields: Seq[String] = Seq(
    "identifier", "folder", "closure_start_date", "closure_period", "foi_exemption_code",
    "foi_exemption_asserted", "title_public", "title_alternate", "closure_type")

  /** Columns the transform understands (v1.1 ∪ v1.2); anything else in the
    * input is an unknown-column error (tre_bagit_transforms.py:44-45).
    */
  val knownColumns: Set[String] = Set(
    "Filepath", "FileName", "FileType", "Filesize", "RightsCopyright",
    "LegalStatus", "HeldBy", "Language", "FoiExemptionCode", "LastModified",
    "OriginalFilePath")

  private def err(cond: Column, key: String, v: Column): Column =
    when(cond, concat(lit(s"value "), coalesce(v, lit("<null>")),
      lit(s" not expected for key $key")))

  /** P3: `Filepath` with its first `data/` swapped for the identifier
    * prefix, percent-encoded keeping ':' and '/', plus a trailing '/' for
    * folders (tre_bagit.py:72-76).
    */
  def driIdentifier(filepath: Column, fileType: Column, cfg: DriConfig): Column =
    concat(
      percent_encode(replace_first(filepath, lit("data/"), lit(cfg.identifierPrefix))),
      when(lower(fileType) === "folder", lit("/")).otherwise(lit("")))

  /** P5: files keep `LastModified`; folders take the bag-info export time
    * with the first 'Z' removed (tre_bagit.py:83-88).
    */
  def driLastModified(lastModified: Column, fileType: Column, exportDatetime: String): Column =
    when(lower(fileType) === "file", lastModified)
      .otherwise(lit(exportDatetime.replaceFirst("Z", "")))

  /** J1: manifest checksum lookup — checksum iff exactly one manifest entry
    * matches the Filepath, else '' (folders have none; tre_bagit.py:78-81).
    * Duplicate manifest entries therefore yield '' rather than a fanned-out
    * join, matching the reference.
    */
  private def withChecksum(csv: DataFrame, manifest: DataFrame): DataFrame = {
    val m = manifest.groupBy(col("file"))
      .agg(count(lit(1)).as("_n"), first(col("checksum")).as("_checksum"))
      .select(col("file"),
        when(col("_n") === 1, col("_checksum")).otherwise(lit("")).as("_checksum"))
    csv.join(broadcast(m), csv("Filepath") === m("file"), "left")
      .drop("file")
      .withColumn("checksum", coalesce(col("_checksum"), lit("")))
      .drop("_checksum")
  }

  /** Unknown input columns (schema-level error, checked before any select). */
  def unknownColumns(csv: DataFrame, orderCol: Option[String] = None): Seq[String] =
    csv.columns.filterNot(c => knownColumns.contains(c) || orderCol.contains(c)).toSeq

  /** P1 + P3-P5 + J1 + J2 → DRI metadata rows with an `errors` channel.
    * `bagInfo` needs `Consignment-Series`, `Consignment-Export-Datetime`,
    * `Internal-Sender-Identifier` (tre_bagit.py:27-29).
    * Pass `orderCol` to preserve input row order through to the CSV render.
    */
  def metadataRows(csv: DataFrame, manifest: DataFrame,
                   bagInfo: Map[String, String],
                   orderCol: Option[String] = None): DataFrame = {
    val cfg = DriConfig(bagInfo("Internal-Sender-Identifier"), bagInfo("Consignment-Series"))
    val exportTime = bagInfo("Consignment-Export-Datetime")
    val in = withChecksum(csv, manifest)
    val ft = col("FileType")
    val out = in.select(
      (orderCol.map(col).toSeq ++ Seq(
        driIdentifier(col("Filepath"), ft, cfg).as("identifier"),
        col("FileName").as("file_name"),
        when(ft.isin("File", "Folder"), lower(ft)).otherwise(lit(null)).as("folder"),
        driLastModified(col("LastModified"), ft, exportTime).as("date_last_modified"),
        col("checksum"),
        when(col("RightsCopyright") === "Crown Copyright", col("RightsCopyright"))
          .otherwise(lit(null)).as("rights_copyright"),
        when(col("LegalStatus").isin("Public Record", "Public Record(s)"),
          lit("Public Record(s)")).otherwise(lit(null)).as("legal_status"),
        when(col("HeldBy").isin("TNA", "The National Archives, Kew"),
          lit("The National Archives, Kew")).otherwise(lit(null)).as("held_by"),
        when(col("Language") === "English", col("Language"))
          .otherwise(lit(null)).as("language"),
        lit(cfg.consignmentReference).as("TDR_consignment_ref"),
        array_compact(array(
          err(!ft.isin("File", "Folder"), "FileType", ft),
          err(col("RightsCopyright") =!= "Crown Copyright", "RightsCopyright", col("RightsCopyright")),
          err(!col("LegalStatus").isin("Public Record", "Public Record(s)"), "LegalStatus", col("LegalStatus")),
          err(!col("HeldBy").isin("TNA", "The National Archives, Kew"), "HeldBy", col("HeldBy")),
          err(col("Language") =!= "English", "Language", col("Language"))
        )).as("errors"))): _*)
    out
  }

  /** P2 + P7 → DRI closure rows with an `errors` channel. */
  def closureRows(csv: DataFrame, bagInfo: Map[String, String],
                  orderCol: Option[String] = None): DataFrame = {
    val cfg = DriConfig(bagInfo("Internal-Sender-Identifier"), bagInfo("Consignment-Series"))
    val ft = col("FileType")
    val foi = coalesce(col("FoiExemptionCode"), lit(""))
    csv.select(
      (orderCol.map(col).toSeq ++ Seq(
        driIdentifier(col("Filepath"), ft, cfg).as("identifier"),
        when(ft.isin("File", "Folder"), lower(ft)).otherwise(lit(null)).as("folder"),
        lit("").as("closure_start_date"),
        lit(0).as("closure_period"),
        when(foi.isin("", "open"), lit("open")).otherwise(lit(null)).as("foi_exemption_code"),
        lit("").as("foi_exemption_asserted"),
        lit("TRUE").as("title_public"),
        lit("").as("title_alternate"),
        lit("open_on_transfer").as("closure_type"),
        array_compact(array(
          err(!ft.isin("File", "Folder"), "FileType", ft),
          err(!foi.isin("", "open"), "FoiExemptionCode", foi)
        )).as("errors"))): _*)
  }
}

/** P8: byte-exact CSV render matching Python `csv.DictWriter` with
  * `lineterminator="\n"` and QUOTE_MINIMAL (tre_bagit.py:31-63; golden
  * bytes test_bagit_transforms.py:52-68): a field is quoted iff it
  * contains a comma, quote, CR or LF; quotes double. Spark's csv writer
  * has different quoting defaults, so rows are rendered as strings
  * (still distributed — one string column, written via `text`).
  * Kept: renders the DRI SIP CSVs (see `DriSip`).
  */
object CsvRender {

  def formatField(c: Column): Column = {
    val s = coalesce(c.cast("string"), lit(""))
    when(s.rlike("[\",\r\n]"),
      concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\"")))
      .otherwise(s)
  }

  /** One CSV line per row (no header), in `fields` order. */
  def lines(df: DataFrame, fields: Seq[String]): Column =
    concat_ws(",", fields.map(f => formatField(col(f))): _*)

  /** Header + rows + trailing newline, collected to a single string
    * (driver-side; per-bag outputs are small). `orderCol` restores input
    * row order.
    */
  def csvString(df: DataFrame, fields: Seq[String], orderCol: Option[String]): String = {
    val body = orderCol.fold(df)(oc => df.orderBy(col(oc)))
      .select(lines(df, fields).as("line"))
      .collect().map(_.getString(0))
    (fields.mkString(",") +: body).mkString("", "\n", "\n")
  }
}
