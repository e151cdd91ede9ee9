package graft.core.archive

import graft.core.io.Storage
import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, IOException, InputStream}
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorInputStream, GzipCompressorOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import scala.reflect.ClassTag

/** One extracted archive entry (S7). `source` is the archive it came from
  * (bag id), `name` has any leading `./` stripped
  * (s3_lib/s3_lib/tar_lib.py:52-54).
  */
final case class TarEntry(source: String, name: String, bytes: Array[Byte],
                          mtime: Long, isDir: Boolean)

/** Items recorded for a packed archive (tar_lib.py:96-104); `sha256` is
  * the digest of the final .tar.gz bytes (the reference publishes it as
  * the `<archive>.sha256` object next to the archive).
  */
final case class TarItem(name: String, size: Long)
final case class PackedArchive(bagId: String, path: String, items: Seq[TarItem],
                               sha256: String)

/** S7 (tar explode) + K2/K3 (tar package) — SURVEY §2.1/§2.2.
  *
  * The reference reads whole archives into RAM (tar_lib.py:45,87). Here
  * extraction opens an `FSDataInputStream` per archive path and decodes
  * entry-by-entry in the task that then reduces the bag (`mapArchives`),
  * and packing streams one bag straight to a Hadoop output stream
  * (`writeArchive`) — per-task memory is bounded by the largest single
  * ENTRY, not the archive, there is no `binaryFile` 2 GB whole-archive-row
  * cap (SURVEY §7.4 "100 TB scale"), and bag-local work needs no shuffle.
  */
object Tar {

  private def open(name: String, in: InputStream): TarArchiveInputStream = {
    val buffered = new BufferedInputStream(in)
    if (name.endsWith(".gz") || name.endsWith(".tgz"))
      new TarArchiveInputStream(new GzipCompressorInputStream(buffered))
    else new TarArchiveInputStream(buffered)
  }

  /** Largest entry one byte array can hold. */
  private val MaxEntryBytes: Long = Int.MaxValue - 8

  /** Iterate entries of one archive stream, buffering one entry at a time;
    * the stream (and `in` under it) is closed when the last entry is
    * consumed. An entry over `MaxEntryBytes` fails with an `IOException`
    * naming the archive and the entry, before anything is allocated.
    */
  def entriesFromStream(archiveName: String, in: InputStream): Iterator[TarEntry] = {
    val tin = open(archiveName, in)
    val chunk = new Array[Byte](64 * 1024)
    Iterator.continually(tin.getNextEntry)
      .takeWhile { e => if (e == null) tin.close(); e != null }
      .map { e =>
        val name = e.getName.stripPrefix("./")
        val content =
          if (e.isDirectory) Array.emptyByteArray
          else {
            if (e.getSize > MaxEntryBytes) throw new IOException(
              s"$archiveName: entry ${e.getName} is ${e.getSize} bytes, over the " +
                s"$MaxEntryBytes-byte limit of one in-memory entry")
            val buf = new java.io.ByteArrayOutputStream(math.max(64, e.getSize.toInt))
            var n = tin.read(chunk)
            while (n >= 0) { buf.write(chunk, 0, n); n = tin.read(chunk) }
            buf.toByteArray
          }
        TarEntry(archiveName, name, content, e.getModTime.getTime / 1000L, e.isDirectory)
      }
  }

  /** Iterate entries of one in-memory archive (small side archives; the
    * scan path uses `entriesFromStream`).
    */
  def entries(archiveName: String, bytes: Array[Byte]): Iterator[TarEntry] =
    entriesFromStream(archiveName, new ByteArrayInputStream(bytes))

  /** Streaming scan: apply `f` in the task to (archive name, entries
    * decoded one at a time from an `FSDataInputStream`) for every archive
    * in `paths` (`Storage.listFiles`, spread by `Storage.mapFiles`) —
    * bounded memory for ANY archive size while `f` streams.
    */
  def mapArchives[T: ClassTag](spark: SparkSession, paths: Seq[String],
                               conf: Broadcast[SerializableConfiguration])
                              (f: (String, Iterator[TarEntry]) => T): RDD[T] =
    Storage.mapFiles(spark, paths, conf)((name, in) => f(name, entriesFromStream(name, in)))

  /** One row per entry of every archive in `paths` (`mapArchives`). */
  def explodePath(spark: SparkSession, paths: Seq[String],
                  conf: Broadcast[SerializableConfiguration]): Dataset[TarEntry] = {
    import spark.implicits._
    spark.createDataset(mapArchives(spark, paths, conf)((_, es) => es).flatMap(identity))
  }

  /** K3 prefix substitution, reference semantics (tar_lib.py:159-160
    * `s3_object.replace(drop, '', 1)` then f'{add}{...}'): remove the FIRST
    * occurrence of `drop` anywhere in the name, then unconditionally
    * prepend `add` — even when `drop` never matched.
    * Kept: the K3 rename the DRI SIP layout needs; only TarSpec calls it.
    */
  def substitutePrefix(name: String, drop: String, add: String): String = {
    val idx = if (drop.isEmpty) -1 else name.indexOf(drop)
    val stripped =
      if (idx < 0) name
      else name.substring(0, idx) + name.substring(idx + drop.length)
    add + stripped
  }

  /** Write one bag's entries, in the order given and skipping directories,
    * to `<outDir>/<bagId>.tar.gz` plus its `.sha256` sidecar.
    */
  def writeArchive(conf: Configuration, outDir: String, bagId: String,
                   entries: Iterator[TarEntry]): PackedArchive = {
    val outPath = new Path(outDir, s"$bagId.tar.gz")
    val fs = outPath.getFileSystem(conf)
    // digest the FINAL compressed bytes while they stream out — the
    // reference publishes sha256(<archive>.tar.gz) as a sidecar object
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val out = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(new java.security.DigestOutputStream(
        new BufferedOutputStream(fs.create(outPath, true)), md)))
    out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    val items = Seq.newBuilder[TarItem]
    try {
      entries.filterNot(_.isDir).foreach { e =>
        val te = new TarArchiveEntry(e.name)
        te.setSize(e.bytes.length.toLong)
        te.setModTime(e.mtime * 1000L)
        out.putArchiveEntry(te)
        out.write(e.bytes)
        out.closeArchiveEntry()
        items += TarItem(e.name, e.bytes.length.toLong)
      }
    } finally out.close()
    val sha = md.digest().map("%02x".format(_)).mkString
    // `<archive>.tar.gz.sha256` sidecar, "<hex>  <name>" like the
    // manifest rows checksum validation consumes
    val shaPath = new Path(outDir, s"$bagId.tar.gz.sha256")
    Storage.writeString(fs, shaPath, s"$sha  $bagId.tar.gz\n", overwrite = true)
    PackedArchive(bagId, outPath.toString, items.result(), sha)
  }
}
