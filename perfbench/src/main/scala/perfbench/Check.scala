package perfbench

import java.nio.file.{Files, Path}
import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream

/** Output checks, run outside the timed window. Each returns the refs whose
  * outcome is wrong or missing (plus any unexpected ref), so a caller can
  * count failed consignments.
  */
object Check {

  /** `runFull` outputs against the oracle: each result event's verdict,
    * sorted errors and event name, and for every ok bag (and only those) a
    * bundle whose `.sha256` sidecar matches the recomputed digest and which
    * holds exactly `metadata.json` plus the judgment document's bytes.
    */
  def full(expected: Seq[Expected], events: Seq[(String, Boolean, Seq[String], String)],
           messages: Seq[(String, String)], outDir: Path): Set[String] = {
    val want = expected.map(e => e.ref -> e).toMap
    val gotEvent = events.map(v => v._1 -> (v._2, v._3.sorted, v._4)).toMap
    val gotSha = messages.toMap
    val refs = want.keySet ++ gotEvent.keySet ++ gotSha.keySet
    refs.filterNot { ref =>
      want.get(ref).exists { e =>
        gotEvent.get(ref).contains((e.ok, e.errors,
          if (e.ok) "bagit-validated" else "bagit-validation-error")) &&
          (if (e.ok) gotSha.get(ref).exists(bundleOk(outDir, e, _))
           else !gotSha.contains(ref) && !Files.exists(outDir.resolve(s"$ref.tar.gz")))
      }
    }
  }

  private def bundleOk(outDir: Path, e: Expected, reportedSha: String): Boolean = {
    val archive = outDir.resolve(s"${e.ref}.tar.gz")
    val sidecar = outDir.resolve(s"${e.ref}.tar.gz.sha256")
    Files.exists(archive) && Files.exists(sidecar) && {
      val sha = Gen.sha256(Files.readAllBytes(archive))
      val side = new String(Files.readAllBytes(sidecar), "UTF-8")
      val entries = untar(archive)
      val meta = entries.get(s"${e.ref}/0/metadata.json").map(new String(_, "UTF-8"))
      sha == reportedSha && side == s"$sha  ${e.ref}.tar.gz\n" &&
        entries.keySet == Set(s"${e.ref}/0/metadata.json", s"${e.ref}/0/${e.doc}") &&
        entries.get(s"${e.ref}/0/${e.doc}").map(Gen.sha256).contains(e.docSha) &&
        meta.exists(_.contains(s"\"reference\":\"TRE-${e.ref}\""))
    }
  }

  /** Entry name → bytes. */
  private def untar(archive: Path): Map[String, Array[Byte]] = {
    val in = new TarArchiveInputStream(new GzipCompressorInputStream(
      new java.io.BufferedInputStream(Files.newInputStream(archive))))
    try Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory)
      .map(e => e.getName -> in.readAllBytes())
      .toMap
    finally in.close()
  }

  /** Retry routes as pinned by the engine's retry spec: a clean bag is
    * routed `ok` at attempt 0; a corrupt bag `retry` at 0, 1 and 2, then
    * `fail` at 3.
    */
  def routes(expected: Seq[Expected], got: Seq[(String, Int, String)]): Set[String] = {
    val byRef = got.groupBy(_._1).map { case (r, rows) => r -> rows.map(t => (t._2, t._3)).sortBy(_._1) }
    val want = expected.map { e =>
      e.ref -> (if (e.ok) Seq(0 -> "ok") else Seq(0 -> "retry", 1 -> "retry", 2 -> "retry", 3 -> "fail"))
    }.toMap
    (want.keySet ++ byRef.keySet).filterNot(r => want.get(r).exists(w => byRef.get(r).contains(w)))
  }
}
