package graft.core.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources S1–S3 (SURVEY §2.1): small text side-files parsed into columns.
  *
  * The reference parses these files line-by-line in Python
  * (s3_lib/s3_lib/checksum_lib.py:46-51, object_lib.py:211-241); here each
  * becomes a declarative projection over `spark.read.text`, so Catalyst can
  * prune/pushdown and the same logic applies to a column of lines derived
  * any other way (e.g. exploded from an archive).
  * Kept: the `read*` forms read S1–S3 side files straight from storage; the
  * bag path parses the same lines in `checkBag`, so only specs call them.
  */
object TextTables {

  /** Basename of a `/`-separated path (os.path.basename equivalent). */
  def basename(c: Column): Column = element_at(split(c, "/"), -1)

  /** Directory head of a `/`-separated path (os.path.split()[0]). */
  def dirname(c: Column): Column = regexp_extract(c, "^(.*)/", 1)

  /** S1 — checksum manifest: fixed-width `64-hex-digest  path` lines
    * (reference: s3_lib/s3_lib/checksum_lib.py:46-51 parses
    * line[0:64] / line[64:].strip()).
    * Input: DataFrame with a string column `lineCol`.
    * Output columns: checksum, file, basename.
    */
  def parseManifest(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val c = col(lineCol)
    lines.select(
      lower(substring(c, 1, 64)).as("checksum"),
      trim(expr(s"substring($lineCol, 65)")).as("file")
    ).withColumn("basename", basename(col("file")))
  }

  /** S1 as a file source: read a manifest file from storage. */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    parseManifest(spark.read.text(path).withColumnRenamed("value", "line"))

  /** S2 — `key: value` metadata file (bag-info.txt), split on the LEFT-MOST
    * separator with both sides trimmed
    * (reference: s3_lib/s3_lib/object_lib.py:211-228).
    */
  def parseKeyValue(lines: DataFrame, lineCol: String = "line",
                    separator: String = ":"): DataFrame = {
    val parts = split(col(lineCol), java.util.regex.Pattern.quote(separator), 2)
    lines.select(
      trim(parts.getItem(0)).as("key"),
      trim(parts.getItem(1)).as("value"))
  }

  def readKeyValue(spark: SparkSession, path: String): DataFrame =
    parseKeyValue(spark.read.text(path).withColumnRenamed("value", "line"))

  /** S2 collected: tiny side-file as a driver Map for broadcast/lit use. */
  def keyValueMap(spark: SparkSession, path: String): Map[String, String] =
    readKeyValue(spark, path).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** S3 — header CSV with an explicit schema (file-metadata.csv).
    * Permissive mode + all-string schema tolerates the v1.1/v1.2 column
    * drift (reference: s3_lib/s3_lib/object_lib.py:231-241; versions in
    * testing/tre_bagit_to_dri_sip/test_bagit_transforms.py:34-45).
    */
  def readHeaderCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
}
