package graft.core.io

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Storage-catalog operators (SURVEY §2.1 S4/S5/S8, §2.2 K1) over any
  * Hadoop-compatible filesystem (local in tests, object store at scale).
  */
object Storage {

  /** The session's Hadoop conf for task closures, broadcast once per call
    * as `SparkContext.hadoopFile` does. A closure that captures a
    * `SerializableConfiguration` instead ships all ~1,000 properties in
    * every task and deserializes a private copy per task. Read it in the
    * task as `conf.value.value`.
    */
  def taskConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** S4: listing under a glob → (path, name, size, mtime_ms) rows. */
  def list(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    statuses.map(s => (s.getPath.toString, s.getPath.getName,
      s.getLen, s.getModificationTime)).toSeq
      .toDF("path", "name", "size", "mtime_ms")
  }

  /** S4: existence probe. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S5 driver-side: max numeric child-folder number under a prefix
    * (retry discovery, object_lib.py:54-85 — int max, not the reference's
    * lexicographic-string max).
    */
  def maxNumericChildFolder(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val nums = fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.matches("[0-9]+")).map(_.toInt)
      if (nums.isEmpty) None else Some(nums.max)
    }
  }

  /** K1: write a string object, failing if the key exists (the reference's
    * idempotency guard, object_lib.py:173-209 — exactly ErrorIfExists).
    */
  def writeStringErrorIfExists(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, false)   // overwrite=false → FileAlreadyExistsException
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** S8: error-wrapped read — missing objects become error-channel rows
    * instead of raising (object_lib.py:260-274).
    */
  def readStringOrError(spark: SparkSession, path: String): Either[String, String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Left(s"object not found: $path")
    else {
      val in = fs.open(p)
      try Right(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }
}

/** A5 scale path: SHA-256 over objects too large for one row. Rows carry
  * (file, chunkIdx, bytes); chunks fold through one MessageDigest in
  * chunkIdx order per file via `flatMapSortedGroups` — Spark sorts within
  * groups during the shuffle (no per-group buffering), so memory is one
  * chunk at a time regardless of object size. This replaces the builtin
  * `sha2(content)` only when whole-object rows are infeasible
  * (s3_lib/s3_lib/checksum_lib.py:101-119 streams 5 MB chunks the same way).
  */
object ChunkedSha256 {

  def forChunks(chunks: DataFrame, fileCol: String = "file",
                idxCol: String = "chunk_idx", bytesCol: String = "bytes"): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col(fileCol).as("file"), col(idxCol).as("chunk_idx"),
      col(bytesCol).as("bytes"))
      .as[(String, Long, Array[Byte])]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("chunk_idx")) { (file, it) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.foreach(r => md.update(r._3))
        Iterator((file, md.digest().map("%02x".format(_)).mkString))
      }
      .toDF("file", "sha256")
  }
}
