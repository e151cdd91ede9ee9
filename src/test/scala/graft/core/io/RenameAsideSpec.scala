package graft.core.io

import graft.SparkSpec
import graft.dedup.DedupIndex
import graft.sim.IvfIndex
import org.apache.spark.sql.functions._

/** A rename-aside that the file system refuses (Hadoop's `rename`
  * returns false) must stop the op. Renaming the new tree onto a live dir
  * that is still there moves it INSIDE that dir, and every recursive read
  * then counts its rows twice.
  */
class RenameAsideSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def scratch(tag: String): String =
    s"/tmp/graft_renameaside_spec/p${java.lang.ProcessHandle.current().pid()}/$tag"

  test("IvfIndex.compact: a refused rename-aside raises; reads answer as before") {
    FaultyFs.bind(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("ivf")
    IvfIndex.build(e.filter($"vec_id" % 2 === 0), idx, centroidMod = 17)
    IvfIndex.appendBatch(spark, idx, e.filter($"vec_id" % 2 === 1), 0L)
    val q = e.filter($"vec_id" % 50 === 0)
    def read(root: String) = (
      IvfIndex.query(spark, root, q, nprobe = 2, k = 5)
        .as[(Long, Long, Double, Int)].collect().toSet,
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/postings").count())
    val before = read(idx)
    val (failure, _) = FaultyFs.armed(idx, 1, FaultyFs.ReturnFalse, child = "postings")(
      IvfIndex.compact(spark, FaultyFs.uri(idx)))
    assert(read(FaultyFs.uri(idx)) == before)
    assert(failure.nonEmpty, "compact reported success after a refused rename")
  }

  test("DedupIndex.compact: a refused rename-aside raises; reads answer as before") {
    FaultyFs.bind(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val idx = scratch("dedup")
    DedupIndex.build(docs.filter($"doc_id" % 5 =!= 0), idx, n = 3, threshold = 0.10)
    DedupIndex.append(spark, idx, docs.filter($"doc_id" % 5 === 0),
      n = 3, threshold = 0.10, batchId = Some(0L))
    def read(root: String) = (
      DedupIndex.shingleDf(spark, root).agg(sum($"cnt")).head().getLong(0),
      DedupIndex.provenance(spark, root, docs)
        .as[(Long, Long, String, Boolean)].collect().toSet)
    val before = read(idx)
    val (failure, _) = FaultyFs.armed(idx, 1, FaultyFs.ReturnFalse, child = "df")(
      DedupIndex.compact(spark, FaultyFs.uri(idx)))
    assert(read(FaultyFs.uri(idx)) == before)
    assert(failure.nonEmpty, "compact reported success after a refused rename")
  }
}
