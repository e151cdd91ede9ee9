package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorOutputStream, GzipParameters}

/** A planted fault. Each one names the single data file it concerns. */
sealed trait Fault { def file: String }
/** The manifest lists a digest that does not match the file's bytes. */
final case class ChecksumMismatch(file: String) extends Fault
/** The manifest lists a payload file the archive does not hold. */
final case class MissingFile(file: String) extends Fault
/** The archive holds a payload file the manifest does not list. */
final case class UnlistedFile(file: String) extends Fault

/** What the generator wrote for one bag: the oracle's record. `doc` is the
  * bag's judgment document (its first data file by name) and `docSha` the
  * SHA-256 of its bytes. `errors` is the sorted error list the pipeline's
  * verdict must carry.
  */
final case class Expected(ref: String, fault: Option[Fault], doc: String,
                          docSha: String, payloadBytes: Long, archiveBytes: Long) {
  def ok: Boolean = fault.isEmpty
  def errors: Seq[String] = Oracle.errors(fault)
}

/** The expected verdict for each kind of planted fault, written down from
  * the bag layout alone (never from running the pipeline).
  */
object Oracle {
  private val countErrors = Seq("data file count mismatch", "file count mismatch")

  def errors(fault: Option[Fault]): Seq[String] = (fault match {
    case None => Nil
    case Some(ChecksumMismatch(f)) => Seq(s"checksum_mismatch: $f")
    case Some(MissingFile(f)) => s"missing_file: $f" +: countErrors
    case Some(UnlistedFile(f)) => s"not_in_manifest: $f" +: countErrors
  }).sorted
}

/** Seeded consignment generator: writes `<ref>.tar.gz` bags in the
  * FIXTURES.md §1 layout (bagit.txt, bag-info.txt, both manifests, the
  * three CSV side files and `data/<name>.docx` payloads) with incompressible
  * payload bytes. A bag's content depends only on (seed, ref), so bags
  * can be written in parallel and rewritten identically.
  */
object Gen {

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def randomBytes(rnd: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    val buf = java.nio.ByteBuffer.wrap(b)
    while (buf.remaining() >= 8) buf.putLong(rnd.nextLong())
    while (buf.hasRemaining) buf.put(rnd.nextInt().toByte)
    b
  }

  private def rndFor(seed: Long, ref: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ ref.hashCode.toLong)

  /** Write one bag with `docSizes.length` payload files and an optional
    * fault kind (0 = checksum mismatch, 1 = missing file, 2 = unlisted file).
    */
  def writeBag(dir: Path, seed: Long, ref: String, docSizes: Seq[Int],
               faultKind: Option[Int]): Expected = {
    val rnd = rndFor(seed, ref)
    val docs = docSizes.zipWithIndex.map { case (n, i) =>
      f"data/judgment-${i + 1}%02d.docx" -> randomBytes(rnd, n)
    }
    val fault: Option[Fault] = faultKind.map {
      case 0 => ChecksumMismatch(docs(rnd.nextInt(docs.size))._1)
      case 1 => MissingFile(f"data/judgment-${docs.size + 1}%02d.docx")
      case _ => UnlistedFile("data/unlisted-annex.docx")
    }
    val manifest = (docs.map { case (name, bytes) =>
      val digest = fault match {
        case Some(ChecksumMismatch(`name`)) => sha256(bytes.reverse)
        case _ => sha256(bytes)
      }
      s"$digest  $name"
    } ++ (fault match {
      case Some(MissingFile(f)) => Seq(s"${sha256(f.getBytes)}  $f")
      case _ => Nil
    })).mkString("\n") + "\n"
    val payload = docs ++ (fault match {
      case Some(UnlistedFile(f)) => Seq(f -> randomBytes(rnd, 1024))
      case _ => Nil
    })
    val series = s"JU ${1 + rnd.nextInt(9)}"
    val day = 1 + rnd.nextInt(28)
    val bagInfo = Seq(
      "Consignment-Type: judgment", "Bag-Creator: TDRExportLambda",
      f"Consignment-Start-Datetime: 2023-03-$day%02dT10:00:00Z",
      s"Consignment-Series: $series", "Source-Organization: Ministry of Justice",
      "Contact-Name: Bench User", s"Internal-Sender-Identifier: $ref",
      f"Consignment-Completed-Datetime: 2023-03-$day%02dT10:05:00Z",
      f"Consignment-Export-Datetime: 2023-03-$day%02dT10:06:00Z",
      "Contact-Email: bench@example.org",
      s"Payload-Oxum: ${docs.map(_._2.length.toLong).sum}.${docs.size}",
      f"Bagging-Date: 2023-03-$day%02d").mkString("\n") + "\n"
    val metadata = ("Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus," +
      "HeldBy,Language,FoiExemptionCode,LastModified,OriginalFilePath") +: docs.map {
      case (name, bytes) =>
        s"""$name,${name.stripPrefix("data/")},File,${bytes.length},Crown Copyright,""" +
          f"""Public Record(s),"The National Archives, Kew",English,,2023-03-$day%02dT09:00:00,"""
    }
    val ffid = "Filepath,Extension,PUID,FormatName" +: docs.map { case (n, _) =>
      s"$n,docx,fmt/412,Microsoft Word for Windows" }
    val av = "Filepath,Software,Result" +: docs.map { case (n, _) => s"$n,yara," }
    val root = Seq(
      "bagit.txt" -> "BagIt-Version: 0.97\nTag-File-Character-Encoding: UTF-8\n",
      "bag-info.txt" -> bagInfo,
      "manifest-sha256.txt" -> manifest,
      "file-metadata.csv" -> (metadata.mkString("\n") + "\n"),
      "file-ffid.csv" -> (ffid.mkString("\n") + "\n"),
      "file-av.csv" -> (av.mkString("\n") + "\n"),
    ).map { case (n, s) => n -> s.getBytes("UTF-8") }
    val tagManifest = root.map { case (n, b) => s"${sha256(b)}  $n" }.mkString("\n") + "\n"
    val entries = root :+ ("tagmanifest-sha256.txt" -> tagManifest.getBytes("UTF-8"))

    val path = dir.resolve(s"$ref.tar.gz")
    val params = new GzipParameters()
    params.setCompressionLevel(1)
    val out = new TarArchiveOutputStream(new GzipCompressorOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 16), params))
    try (entries ++ payload).foreach { case (n, b) =>
      val e = new TarArchiveEntry(s"./$ref/$n")
      e.setSize(b.length.toLong)
      e.setModTime(1679900000000L)
      out.putArchiveEntry(e); out.write(b); out.closeArchiveEntry()
    } finally out.close()
    val (docName, docBytes) = docs.minBy(_._1)
    Expected(ref, fault, docName.stripPrefix("data/"), sha256(docBytes),
      payload.map(_._2.length.toLong).sum, Files.size(path))
  }

  /** Write one bag per ref; `faulty` maps the planted-fault bags to their
    * fault kind and `sizes` gives each bag's payload sizes. Bags are written
    * on `threads` threads.
    */
  def writeBags(dir: Path, seed: Long, refs: Seq[String], faulty: Map[String, Int],
                sizes: Map[String, Seq[Int]], threads: Int): Seq[Expected] = {
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = refs.map { ref =>
        pool.submit(new java.util.concurrent.Callable[Expected] {
          def call(): Expected = writeBag(dir, seed, ref, sizes(ref), faulty.get(ref))
        })
      }
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** A seeded pick of `share` of `refs` as faulty, fault kinds cycling. */
  def plantFaults(seed: Long, refs: Seq[String], share: Double): Map[String, Int] = {
    val n = math.max(1, math.round(refs.size * share).toInt)
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(refs).take(n).zipWithIndex.map { case (r, i) => r -> i % 3 }.toMap
  }

  /** Seeded payload sizes per ref: file counts cycle through `minFiles` to
    * `maxFiles` in a seeded order (so the total count does not depend on
    * the seed), each file `base` ± `jitter` bytes.
    */
  def sizes(seed: Long, refs: Seq[String], minFiles: Int, maxFiles: Int, base: Int,
            jitter: Int): Map[String, Seq[Int]] = {
    val rnd = new SplittableRandom(seed)
    val span = maxFiles - minFiles + 1
    new scala.util.Random(seed).shuffle(refs).zipWithIndex.map { case (ref, i) =>
      ref -> Seq.fill(minFiles + i % span)(base - jitter + rnd.nextInt(2 * jitter + 1))
    }.toMap
  }
}
