package graft.core.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** S6: `url_to_s3_object` — fetch a (presigned) URL and stream it to
  * storage, computing SHA-256 on the fly in 5 MB chunks, with an optional
  * no-overwrite guard; failures abort the partial write
  * (s3_lib/s3_lib/object_lib.py:87-171).
  *
  * Spark-first: a DataFrame of (url, target) rows ingests N objects in one
  * distributed pass via `mapPartitions` — each task streams one object at
  * a time (5 MB buffer, never the whole object in memory). Results carry
  * an error channel instead of raising per row.
  * Kept: the reference's TDR→TRE bag download; no pipeline path fetches
  * URLs yet, so only IngestSpec calls it.
  */
object Ingest {

  final case class IngestResult(url: String, target: String, bytes: Long,
                                sha256: String, error: String)

  val ChunkSize: Int = 5 * 1024 * 1024   // the reference's multipart minimum

  def fetchToStorage(requests: DataFrame, overwrite: Boolean = false): DataFrame = {
    val spark = requests.sparkSession
    import spark.implicits._
    val hadoopConf = Storage.taskConf(spark)
    // duplicate targets in one batch would race the exists-guard across
    // tasks (TOCTOU — the reference's check-then-put has the same window);
    // within a job the dedup closes it
    requests.select("url", "target").dropDuplicates("target").as[(String, String)]
      .mapPartitions { it =>
        it.map { case (url, target) =>
          val p = new Path(target)
          val fs = p.getFileSystem(hadoopConf.value.value)
          var created = false
          var written = 0L
          try {
            if (!overwrite && fs.exists(p))
              IngestResult(url, target, 0L, "", s"target exists: $target")
            else {
              val in = java.net.URI.create(url).toURL.openStream()
              try {
                val out = fs.create(p, overwrite)
                created = true
                val md = java.security.MessageDigest.getInstance("SHA-256")
                try {
                  val buf = new Array[Byte](ChunkSize)
                  var n = in.read(buf)
                  while (n >= 0) {
                    out.write(buf, 0, n)
                    md.update(buf, 0, n)
                    written += n
                    n = in.read(buf)
                  }
                } finally out.close()
                IngestResult(url, target, written,
                  md.digest().map("%02x".format(_)).mkString, null)
              } finally in.close()
            }
          } catch {
            case e: Exception =>
              // abort semantics: remove the partial object this task created
              // (the reference aborts the multipart upload,
              // object_lib.py:131-140); a fetch that failed first leaves
              // the existing object alone
              if (created) try fs.delete(p, false) catch { case _: Exception => () }
              IngestResult(url, target, written, "", e.toString)
          }
        }
      }.toDF()
  }
}
