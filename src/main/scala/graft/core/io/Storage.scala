package graft.core.io

import java.io.{FileNotFoundException, IOException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import scala.reflect.ClassTag

/** Storage-catalog operators (SURVEY §2.1 S4/S5/S8, §2.2 K1) over any
  * Hadoop-compatible filesystem (local in tests, object store at scale).
  */
object Storage {

  /** The session's Hadoop conf for task closures, broadcast once per call
    * as `SparkContext.hadoopFile` does. A closure that captures a
    * `SerializableConfiguration` instead ships all ~1,000 properties in
    * every task and deserializes a private copy per task. Read it in the
    * task as `conf.value.value`. Each call serializes the whole conf on
    * the driver, so a pipeline builds one and passes it to every job.
    */
  def taskConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  private def globbed(spark: SparkSession, glob: String) = {
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).toSeq.flatten
  }

  /** S4: listing under a glob → (path, name, size, mtime_ms) rows.
    * Kept: the reference's prefix listing as a table; the pipelines list
    * with `listFiles`, so only StorageSpec calls it.
    */
  def list(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    globbed(spark, glob).map(s => (s.getPath.toString, s.getPath.getName,
      s.getLen, s.getModificationTime))
      .toDF("path", "name", "size", "mtime_ms")
  }

  /** S4: the files under `glob`, listed once on the driver. Every scan
    * (`mapFiles`, `Tar.mapArchives`) takes its paths from here, so a
    * caller that re-reads a subset (a retry round) picks it from this
    * list instead of listing again.
    */
  def listFiles(spark: SparkSession, glob: String): Seq[String] =
    globbed(spark, glob).filter(_.isFile).map(_.getPath.toString)

  /** S4: existence probe. Kept: the reference's head-object check; only
    * specs call it.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Spread `paths` (from `listFiles`) over the cores with `parallelize`
    * — no shuffle of the list — and apply `f` in the task to (file name,
    * open stream), opened through the caller's `taskConf`.
    */
  def mapFiles[T: ClassTag](spark: SparkSession, paths: Seq[String],
                            conf: Broadcast[SerializableConfiguration])
                           (f: (String, InputStream) => T): RDD[T] = {
    val parallelism = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(paths, parallelism).map { path =>
      val hp = new Path(path)
      f(hp.getName, hp.getFileSystem(conf.value.value).open(hp))
    }
  }

  /** S5: max numeric child-folder number under `dir` (retry discovery,
    * object_lib.py:54-85 — int max, not the reference's lexicographic
    * string max, where '9' > '10').
    */
  def maxNumericChildFolder(fs: FileSystem, dir: Path): Option[Int] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches("[0-9]+")).map(_.toInt).maxOption

  /** S8: error-wrapped read — a missing object is a `Left` for the error
    * channel instead of an exception (object_lib.py:260-274).
    */
  def readString(fs: FileSystem, p: Path): Either[String, String] =
    try {
      val in = fs.open(p)
      try Right(new String(IOUtils.readFullyToByteArray(in), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => Left(s"object not found: $p") }

  /** K1: write a string object. With `overwrite = false` an existing key
    * fails with `FileAlreadyExistsException` (the reference's idempotency
    * guard, object_lib.py:173-209).
    */
  def writeString(fs: FileSystem, p: Path, content: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** `fs.rename` that raises where Hadoop only returns false (a missing
    * source, a rename the file system refused).
    */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"could not rename $src to $dst")
}
