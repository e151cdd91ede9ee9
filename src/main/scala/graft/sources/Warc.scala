package graft.sources

import graft.core.io.Storage
import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One parsed WARC record (headers lifted to columns, payload opaque). */
case class WarcRecord(warc_file: String, uri: String, record_id: String,
                      date: String, payload: Array[Byte])

/** One CDX index row: where record `uri` lives inside its WARC file.
  * (offset, length) address the record's own gzip member, so a reader can
  * fetch exactly one record with one ranged read — no file scan.
  */
case class CdxEntry(warc_file: String, offset: Long, length: Long, uri: String,
                    payload_len: Long, payload_sha256: String)

private[sources] case class WarcDoc(source: String, doc_id: Long, text: String)

/** WARC (ISO 28500) web-archive source — the wire format of Common Crawl,
  * the canonical 100 TB LLM-corpus input.
  *
  * Layout follows crawl convention: each record is its OWN gzip member and
  * a file is the raw concatenation of members, so
  *  - a sequential reader decompresses the stream start-to-end
  *    (`GZIPInputStream` walks concatenated members), memory = one record;
  *  - a CDX index row (file, offset, length) addresses one member, so a
  *    selective reader inflates exactly the records it wants — fetching
  *    0.01% of a crawl costs 0.01% of the bytes, not a full scan.
  *
  * Scale shape mirrors [[graft.core.archive.Tar.explodePath]]: one task
  * per WARC file (crawls ship thousands of ~1 GB files — natural task
  * grain), bounded memory per task, and the CDX fetch path groups its
  * offsets per file and reads them in ascending order (one open + forward
  * seeks per file). All rendered bytes are deterministic: fixed WARC-Date,
  * md5-derived record UUIDs, and `GZIPOutputStream`'s zeroed MTIME/OS
  * header — two writes of the same corpus are byte-identical, so archive
  * checksums are reproducible across cluster shapes.
  */
object Warc {

  private val Crlf = "\r\n"
  /** Fixed capture date: TESTDATA corpora carry no crawl time, and a
    * deterministic constant keeps rendered archives byte-reproducible. */
  val CaptureDate = "2026-01-01T00:00:00Z"

  private def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString

  /** Deterministic urn:uuid from the target URI (md5 formatted 8-4-4-4-12). */
  def recordId(uri: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(uri.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"urn:uuid:${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  /** Render one WARC/1.0 record: CRLF headers, blank line, payload, CRLF
    * CRLF record separator. Payload here is the raw document body
    * (`Content-Type: text/plain`) rather than a captured HTTP exchange —
    * the framing, addressing and length accounting are the real thing.
    */
  def renderRecord(uri: String, payload: Array[Byte]): Array[Byte] = {
    val header = Seq(
      "WARC/1.0",
      "WARC-Type: response",
      s"WARC-Record-ID: <${recordId(uri)}>",
      s"WARC-Date: $CaptureDate",
      s"WARC-Target-URI: $uri",
      "Content-Type: text/plain",
      s"Content-Length: ${payload.length}"
    ).mkString("", Crlf, Crlf + Crlf)
    val out = new ByteArrayOutputStream(header.length + payload.length + 4)
    out.write(header.getBytes("UTF-8"))
    out.write(payload)
    out.write((Crlf + Crlf).getBytes("UTF-8"))
    out.toByteArray
  }

  /** One self-contained gzip member (Java's header has zeroed MTIME/OS —
    * deterministic bytes for identical input). */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val buf = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(buf)
    gz.write(bytes); gz.close()
    buf.toByteArray
  }

  /** Write `docs` (source, doc_id, text) as `<outDir>/<source>.warc.gz`,
    * one gzip member per record in doc_id order, streaming members to a
    * Hadoop output (memory = one record; per-source skew → repartition
    * upstream). Returns the CDX index — offsets recorded as members
    * stream out, exactly how crawl indexers produce CDX alongside WARC —
    * and ALSO writes each file's index as a `<source>.warc.cdx` text
    * sidecar (`uri offset length payload_len sha256` lines), which is
    * what [[WarcDataSource]] plans pruned/index-only scans from.
    */
  def write(docs: DataFrame, outDir: String): Dataset[CdxEntry] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hadoopConf = Storage.taskConf(spark)
    docs.select(col("source"), col("doc_id"), col("text")).as[WarcDoc]
      .groupByKey(_.source)
      .flatMapSortedGroups(col("doc_id")) { (source, it) =>
        val outPath = new Path(outDir, s"$source.warc.gz")
        val fs = outPath.getFileSystem(hadoopConf.value.value)
        val out = new BufferedOutputStream(fs.create(outPath, true))
        val cdx = Seq.newBuilder[CdxEntry]
        var offset = 0L
        try it.foreach { d =>
          val payload = d.text.getBytes("UTF-8")
          val uri = s"https://corpus.invalid/$source/${d.doc_id}"
          val member = gzipMember(renderRecord(uri, payload))
          out.write(member)
          cdx += CdxEntry(s"$source.warc.gz", offset, member.length.toLong, uri,
            payload.length.toLong, sha256Hex(payload))
          offset += member.length
        } finally out.close()
        val entries = cdx.result()
        val sidecar = new Path(outDir, s"$source.warc.cdx")
        val sout = fs.create(sidecar, true)
        try entries.foreach { e =>
          sout.write((Seq(e.uri, e.offset, e.length, e.payload_len,
            e.payload_sha256).mkString(" ") + "\n").getBytes("UTF-8"))
        } finally sout.close()
        entries.iterator
      }
  }

  /** Parse one `<file>.warc.cdx` sidecar (see [[write]]). */
  def readCdxSidecar(fs: org.apache.hadoop.fs.FileSystem, warcFile: Path): Seq[CdxEntry] = {
    val sidecar = new Path(warcFile.getParent,
      warcFile.getName.stripSuffix(".gz") + ".cdx")
    if (!fs.exists(sidecar)) return Seq.empty
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(sidecar), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).map { line =>
      val Array(uri, off, len, plen, sha) = line.split(" ", 5)
      CdxEntry(warcFile.getName, off.toLong, len.toLong, uri, plen.toLong, sha)
    }.toVector
    finally in.close()
  }

  /** Streaming record iterator over a (decompressed) WARC byte stream:
    * parses one record at a time — header block, Content-Length payload,
    * CRLF CRLF separator — so archives of any size scan in bounded
    * memory. Closes `in` at EOF.
    */
  def parseStream(warcFile: String, in: InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      // byte-accurate line reader (headers are ASCII; payload is counted,
      // never line-split)
      private def readLine(): String = {
        val buf = new ByteArrayOutputStream(64)
        var b = in.read()
        if (b < 0) return null
        while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
        val s = buf.toString("UTF-8")
        if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
      }
      private def readFully(n: Int): Array[Byte] = {
        val a = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(a, off, n - off)
          if (r < 0) throw new EOFException(s"$warcFile: truncated payload")
          off += r
        }
        a
      }
      private def fetch(): WarcRecord = {
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine()
        if (line == null) { in.close(); return null }
        require(line.startsWith("WARC/"), s"$warcFile: bad record header '$line'")
        var headers = Map.empty[String, String]
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(": ")
          require(i > 0, s"$warcFile: bad header line '$h'")
          headers += h.substring(0, i) -> h.substring(i + 2)
          h = readLine()
        }
        val payload = readFully(headers("Content-Length").toInt)
        WarcRecord(warcFile, headers("WARC-Target-URI"),
          headers("WARC-Record-ID").stripPrefix("<").stripSuffix(">"),
          headers("WARC-Date"), payload)
      }
      private var nextRec: WarcRecord = fetch()
      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec; nextRec = fetch(); r
      }
    }

  /** Full-scan read of every WARC file matching `glob` (`Storage.mapFiles`,
    * no shuffle): `GZIPInputStream` walks the concatenated members,
    * memory = one record.
    */
  def read(spark: SparkSession, glob: String): Dataset[WarcRecord] = {
    import spark.implicits._
    spark.createDataset(Storage.mapFiles(spark, Storage.listFiles(spark, glob),
      Storage.taskConf(spark))((name, in) => parseStream(name, new GZIPInputStream(in)))
      .flatMap(identity))
  }

  /** Selective fetch: read ONLY the records the CDX rows address. Offsets
    * group per file and read in ascending order — one open + forward
    * seeks per file, bytes read = Σ selected member lengths. This is the
    * 100 TB path for "give me these 10k pages out of the crawl".
    */
  def fetchByCdx(warcDir: String, cdx: Dataset[CdxEntry]): Dataset[WarcRecord] = {
    val spark = cdx.sparkSession
    import spark.implicits._
    val hadoopConf = Storage.taskConf(spark)
    cdx.groupByKey(_.warc_file)
      .flatMapSortedGroups(col("offset")) { (file, it) =>
        val hp = new Path(warcDir, file)
        val in = hp.getFileSystem(hadoopConf.value.value).open(hp)
        val recs = it.map { e =>
          in.seek(e.offset)
          val member = new Array[Byte](e.length.toInt)
          in.readFully(member)
          val one = parseStream(file,
            new GZIPInputStream(new ByteArrayInputStream(member)))
          val r = one.next()
          require(!one.hasNext, s"$file@${e.offset}: member held >1 record")
          r
        }.toVector // drain before closing the stream
        in.close()
        recs.iterator
      }
  }
}
