package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query names (dev-loop subset runs);
    // the driver always calls with exactly (sfDir, outDir) = full sweep.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Runner.session()
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST (r14): it is static data; writing it after the
    // sweep meant a mid-sweep death zeroed the whole round (r13).
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Runner.run isolates each query: without it a 280-query single-JVM
    // sweep accumulates every query's localCheckpoint blocks (the r13
    // Verify died mid-sweep of GCLocker OOMs, leaving CORRECTNESS_r13 empty)
    val failed = SparkEntry.queries.keys.toSeq
      .filter(name => only.forall(_.contains(name)))
      .filter(name => Runner.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")).isLeft)
    spark.stop()
    // every other query's output is written; a failed one still fails the run
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
