package graft.streaming

import graft.SparkSpec
import graft.core.io.FaultyFs
import java.nio.file.Files
import org.apache.spark.sql.functions._

class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private val textA = "alpha beta gamma delta epsilon zeta"
  private val textD = "one two three four five six seven"

  test("dedup-at-ingest: within-batch and standing dups drop, store keeps survivors") {
    val in = Files.createTempDirectory("docs_in")
    val store = Files.createTempDirectory("sig_store").toString
    val out = Files.createTempDirectory("dedup_out").toString

    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .json(in.toString)
    val q = CorpusIngest.writer(stream, store, out).start()

    // batch 1: doc 2 duplicates doc 1 inside the batch
    Files.write(in.resolve("b1.jsonl"), java.util.Arrays.asList(
      s"""{"doc_id":1,"text":"$textA"}""",
      s"""{"doc_id":2,"text":"$textA"}"""))
    q.processAllAvailable()
    // batch 2: doc 3 duplicates STANDING doc 1; doc 4 is novel
    Files.write(in.resolve("b2.jsonl"), java.util.Arrays.asList(
      s"""{"doc_id":3,"text":"$textA"}""",
      s"""{"doc_id":4,"text":"$textD"}"""))
    q.processAllAvailable()
    q.stop()

    val decisions = spark.read.parquet(s"$out/b0", s"$out/b1")
      .select($"id", $"is_dup", $"dup_of").as[(Long, Boolean, Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(decisions(1L) == ((false, None)))
    assert(decisions(2L) == ((true, Some(1L))))   // within-batch dup
    assert(decisions(3L) == ((true, Some(1L))))   // dup of standing corpus
    assert(decisions(4L) == ((false, None)))

    // only survivors joined the store
    val stored = CorpusIngest.readStore(spark, store)
      .select($"id").as[Long].collect().toSet
    assert(stored == Set(1L, 4L))

    // a RETRIED batch overwrites its own subdir - store stays consistent
    val batch2 = Seq((3L, textA), (4L, textD)).toDF("doc_id", "text")
    CorpusIngest.dedupBatch(batch2, store, batchId = 1L, bands = 4,
      threshold = 0.8)
    val afterRetry = CorpusIngest.readStore(spark, store)
      .select($"id").as[Long].collect().toSet
    assert(afterRetry == Set(1L, 4L))
  }

  test("store compaction folds batch subdirs; decisions identical across " +
    "the compaction boundary and after a retried batch") {
    val storeC = Files.createTempDirectory("sig_store_c").toString  // compacted
    val storeU = Files.createTempDirectory("sig_store_u").toString  // never
    def doc(i: Long) = (i, s"novel document body number$i alpha beta gamma")
    def run(store: String, minDirs: Int, bid: Long, docs: Seq[(Long, String)]) =
      CorpusIngest.dedupBatch(docs.toDF("doc_id", "text"), store, bid,
          bands = 4, threshold = 0.8, compactMinDirs = minDirs)
        .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    // four batches of novel docs + one dup of batch-0 doc 1
    val batches = Seq(
      Seq(doc(1), doc(2)), Seq(doc(3), (4L, doc(1)._2)),
      Seq(doc(5)), Seq(doc(6), doc(7)))
    for ((b, i) <- batches.zipWithIndex) {
      val dc = run(storeC, minDirs = 2, i.toLong, b)
      val du = run(storeU, minDirs = 0, i.toLong, b)
      assert(dc == du, s"batch $i decisions diverged: $dc vs $du")
    }
    // compaction actually fired: fewer subdirs, at least one c-dir
    val fs = new org.apache.hadoop.fs.Path(storeC)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(s: String) = fs.listStatus(new org.apache.hadoop.fs.Path(s))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs(storeC).exists(_.startsWith("c")),
      s"expected compacted dirs in ${dirs(storeC)}")
    assert(dirs(storeC).size < dirs(storeU).size)
    // the folded store answers identically to the unfolded one
    assert(CorpusIngest.readStore(spark, storeC)
      .select($"id").as[Long].collect().toSet ==
      CorpusIngest.readStore(spark, storeU)
        .select($"id").as[Long].collect().toSet)
    // a RETRIED batch (restart replays the last uncommitted batch) after
    // a compaction boundary decides identically on both stores
    val retry = Seq((8L, doc(1)._2), doc(9))
    val rc = run(storeC, minDirs = 2, 3L, retry)
    val ru = run(storeU, minDirs = 0, 3L, retry)
    assert(rc == ru, s"retry decisions diverged: $rc vs $ru")
    assert(rc.find(_._1 == 8L).get._2, "doc 8 must match the standing dup")
    assert(CorpusIngest.readStore(spark, storeC)
      .select($"id").as[Long].collect().toSet ==
      CorpusIngest.readStore(spark, storeU)
        .select($"id").as[Long].collect().toSet)
  }

  test("compaction crash before input delete loses nothing and changes no decision") {
    // the store lives under the fault-injecting `faulty:` file system; the
    // first input-subdir delete fails — every c-dir is committed by then
    // and no input is gone, the widest crash window
    FaultyFs.bind(spark)
    def doc(i: Long) = (i, s"novel document body number$i alpha beta gamma")
    def landIn(s: String, bid: Long, docs: Seq[(Long, String)]) =
      CorpusIngest.dedupBatch(docs.toDF("doc_id", "text"), s, bid,
        bands = 4, threshold = 0.8, compactMinDirs = 0)
        .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    def ids(s: String) = CorpusIngest.readStore(spark, s)
      .select($"id").as[Long].collect().toSet
    val clean = Files.createTempDirectory("sig_store_clean").toString
    landIn(clean, 0L, Seq(doc(1), doc(2)))
    landIn(clean, 1L, Seq(doc(3)))
    landIn(clean, 2L, Seq(doc(4)))
    val next = Seq((8L, doc(1)._2), doc(9))
    val cleanNext = landIn(clean, 3L, next)
    for (mode <- Seq(FaultyFs.Throw, FaultyFs.ReturnFalse)) {
      val local = Files.createTempDirectory("sig_store_crash").toString
      val store = FaultyFs.uri(local)
      landIn(store, 0L, Seq(doc(1), doc(2)))
      landIn(store, 1L, Seq(doc(3)))
      landIn(store, 2L, Seq(doc(4)))
      val idsBefore = ids(store)
      val (failure, _) = FaultyFs.armed(local, 1, mode) {
        CorpusIngest.compactStore(spark, store, currentBatch = 3L, minDirs = 2)
      }
      assert(failure.exists(_.isInstanceOf[java.io.IOException]), s"$mode: $failure")
      val names = listDir(local).map(_.getFileName.toString).toSet
      assert(Set("b0", "b1", "b2").subsetOf(names) && names.exists(_.startsWith("c3_")),
        s"$mode: $names")
      // no loss: the full id set is still readable (rows may be duplicated)
      assert(ids(store) == idsBefore)
      // decisions on the crashed store match a clean store's
      assert(landIn(store, 3L, next) == cleanNext)
      // the next trigger re-folds the leftovers without error
      CorpusIngest.compactStore(spark, store, currentBatch = 4L, minDirs = 2)
      assert(ids(store) == idsBefore + 9L)
    }
  }
}
