package graft.sim

import graft.core.io.{FaultSweep, FaultyFs}
import org.apache.spark.sql.functions._

/** Persisted IVF index lifecycle: build/query/append determinism and
  * parity with the inline [[Similarity.ivfTopK]] path.
  */
class IvfIndexSpec extends FaultSweep {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def scratch(tag: String): String =
    s"/tmp/graft_ivfidx_spec/p${java.lang.ProcessHandle.current().pid()}/$tag"

  test("build+query matches the inline ivfTopK path bit-for-bit") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("parity")
    IvfIndex.build(e, idx)
    val fromIndex = IvfIndex
      .query(spark, idx, e.filter($"vec_id" % 50 === 0), nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val inline = Similarity
      .ivfTopK(e, centroidMod = 0, nprobe = 2, k = 5, queryMod = 50)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(fromIndex == inline)
    assert(fromIndex.nonEmpty)
  }

  test("query is repeatable: two batches against one build are identical") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("repeat")
    IvfIndex.build(e, idx)
    val q = e.filter($"vec_id" % 50 === 0)
    val a = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val b = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(a == b)
  }

  test("two-batch append equals one-shot assignment against the same frozen centroids") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = e.filter($"vec_id" % 5 =!= 0)
    val extra = e.filter($"vec_id" % 5 === 0)
    val a = scratch("incrA")
    IvfIndex.build(base, a, centroidMod = 17)
    IvfIndex.append(spark, a, extra)
    // same centroid table, all postings written in one append
    val b = scratch("incrB")
    copyDir(s"$a/centroids", s"$b/centroids")
    IvfIndex.append(spark, b, e)
    val q = e.filter($"vec_id" % 50 === 0)
    val qa = IvfIndex.query(spark, a, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val qb = IvfIndex.query(spark, b, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(qa == qb)
    assert(qa.nonEmpty)
  }

  test("compact folds append part-files; query results unchanged") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("compact")
    IvfIndex.build(e.filter($"vec_id" % 3 === 0), idx, centroidMod = 17)
    IvfIndex.append(spark, idx, e.filter($"vec_id" % 3 === 1))
    IvfIndex.append(spark, idx, e.filter($"vec_id" % 3 === 2))
    val q = e.filter($"vec_id" % 50 === 0)
    val before = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    def nFiles = listDir(s"$idx/postings")
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    val filesBefore = nFiles
    IvfIndex.compact(spark, idx)
    assert(nFiles < filesBefore)
    val after = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("stats histogram partitions the corpus: n_vecs sums to vector count") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("stats")
    IvfIndex.build(e, idx)
    val st = IvfIndex.stats(spark, idx).collect()
    assert(st.map(_.getLong(2)).sum == e.count())
    // buckets are ⌊log2 size⌋: every cell in bucket b has size in [2^b, 2^b+1)
    val sizes = spark.read.parquet(s"$idx/postings")
      .groupBy($"cid").count().select($"count").as[Long].collect()
    val expect = sizes.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .view.mapValues(v => (v.length.toLong, v.sum)).toMap
    val got = st.map(r => (r.getInt(0).toLong, (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect.map { case (k, v) => (k, v) })
  }

  /** A reader entry point's answer (it runs the store's recover). */
  private def histogram(idx: String) = IvfIndex.stats(spark, idx).collect().toSeq

  test("compact swap: a kill at every step loses nothing (reads self-heal)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val master = scratch("crash_master")
    IvfIndex.build(e.filter($"vec_id" % 3 === 0), master, centroidMod = 17)
    IvfIndex.appendBatch(spark, master, e.filter($"vec_id" % 3 === 1), 0L)
    IvfIndex.appendBatch(spark, master, e.filter($"vec_id" % 3 === 2), 1L)
    val before = storeRows(master)
    // every rename/delete of the swap fails in turn (thrown, or reported
    // false); the next read self-heals to the complete row set, and a
    // re-run compacts and leaves no swap artifact
    sweepFaults(master, scratch("crash"))(IvfIndex.compact(spark, _))(histogram)()
    assert(storeRows(s"${scratch("crash")}/done") == before)
  }

  test("compact preserves the newest b<N> replay unit; a replayed batch never double-counts") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("replay_boundary")
    IvfIndex.build(e.filter($"vec_id" % 3 === 0), idx, centroidMod = 17)
    val b1 = e.filter($"vec_id" % 3 === 1)
    val b2 = e.filter($"vec_id" % 3 === 2)
    IvfIndex.appendBatch(spark, idx, b1, 0L)
    IvfIndex.appendBatch(spark, idx, b2, 1L) // newest = the one a restart can replay
    IvfIndex.compact(spark, idx)
    val names = listDir(s"$idx/postings").map(_.getFileName.toString)
    assert(names.contains("b1"), s"newest batch dir folded away: $names")
    assert(!names.contains("b0"), s"committed batch dir not folded: $names")
    val n1 = IvfIndex.stats(spark, idx).collect().map(_.getLong(2)).sum
    assert(n1 == e.count())
    // checkpoint-restart replay of the uncommitted newest batch
    IvfIndex.appendBatch(spark, idx, b2, 1L)
    val n2 = IvfIndex.stats(spark, idx).collect().map(_.getLong(2)).sum
    assert(n2 == n1)
  }

  test("needsRebuild flips when append plants a cluster the frozen centroids can't split") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("drift")
    IvfIndex.build(e, idx)
    assert(!IvfIndex.needsRebuild(spark, idx),
      "fresh balanced index must not demand a rebuild")
    // tight clone cluster: half the corpus again, all one vector → one cell
    val seed = e.filter($"vec_id" === 0).select($"embedding")
    val clones = spark.range(e.count() / 2)
      .select(($"id" + 10000000L).as("vec_id"))
      .crossJoin(broadcast(seed))
    IvfIndex.append(spark, idx, clones)
    assert(IvfIndex.needsRebuild(spark, idx),
      "a third of the corpus in one fat cell must flip the flag")
    val h = IvfIndex.health(spark, idx).collect()
    assert(h.length == 1)
    assert(h(0).getAs[Long]("tail_share_micro") >= 250000L)
  }

  test("stats/health merge the cells sidecar and never touch a posting file") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("cells")
    IvfIndex.build(e.filter($"vec_id" % 3 === 0), idx, centroidMod = 17)
    IvfIndex.append(spark, idx, e.filter($"vec_id" % 3 === 1))
    IvfIndex.appendBatch(spark, idx, e.filter($"vec_id" % 3 === 2), 0L)
    // sidecar counts == a direct posting-store recount, through every
    // write path (build / flat append / batched append)
    val viaCells = IvfIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val scan = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$idx/postings")
      .groupBy($"cid").agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", (length(bin($"cnt")) - 1).cast("int"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_cells"), sum($"cnt").as("n_vecs"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaCells == scan)
    val healthBefore = IvfIndex.health(spark, idx).collect().toSeq
    // structural proof the probe is O(cells), not O(corpus): with the
    // posting store physically absent, stats/health still answer — the
    // r11 shape re-scanned postings per probe and would throw here
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings"),
      new org.apache.hadoop.fs.Path(s"$idx/postings_hidden"))
    try {
      assert(IvfIndex.stats(spark, idx).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet == viaCells)
      assert(IvfIndex.health(spark, idx).collect().toSeq == healthBefore)
    } finally
      fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings_hidden"),
        new org.apache.hadoop.fs.Path(s"$idx/postings"))
    // compacting the sidecar changes neither view
    IvfIndex.compact(spark, idx)
    assert(IvfIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet == viaCells)
  }

  /** Planted drift a RETRAIN can fix: a cap of distinct vectors around
    * corpus direction v1 (never in the `id % mod = 0` centroid sample).
    * Against the frozen build centroids the whole cap lands in ~one cell
    * (tail ≈ 50%, flag ON); a retrain samples ~16 centroids inside the
    * cap and Voronoi-splits it (tail ≈ 0%). Identical clones would NOT
    * split (no quantizer separates identical points — the health-gate
    * fixture keeps that shape deliberately).
    */
  private def plantedCap(e: org.apache.spark.sql.DataFrame) = {
    val seed = e.filter($"vec_id" === 1).select($"embedding".as("c"))
    e.crossJoin(broadcast(seed))
      .select(($"vec_id" + 10000000L).as("vec_id"),
        zip_with($"c", $"embedding",
          (a, b) => a + lit(0.3f) * b).as("w"))
      .withColumn("nrm", sqrt(aggregate($"w", lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .select($"vec_id",
        transform($"w", x => (x.cast("double") / $"nrm").cast("float"))
          .as("embedding"))
  }

  test("rebuild consumes needsRebuild: drift cleared, parity with a fresh build") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("rebuild")
    IvfIndex.build(e, idx)
    val planted = plantedCap(e).localCheckpoint(eager = true)
    IvfIndex.append(spark, idx, planted)
    assert(IvfIndex.needsRebuild(spark, idx), "planted cap must flip the flag")
    assert(IvfIndex.rebuildIfNeeded(spark, idx), "must act on the flag")
    assert(!IvfIndex.needsRebuild(spark, idx),
      "retrained centroids must Voronoi-split the cap")
    assert(!IvfIndex.rebuildIfNeeded(spark, idx), "no further action due")
    // the rebuilt store ≡ a fresh auto-sized build over the grown corpus
    // (same ⌊√n⌋ sample over the same id population → same centroids)
    val fresh = scratch("rebuild_fresh")
    IvfIndex.build(
      e.select($"vec_id", $"embedding").unionByName(planted), fresh)
    val q = e.filter($"vec_id" % 50 === 0)
    val a = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val b = IvfIndex.query(spark, fresh, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
    // cells sidecar was rebuilt in lockstep
    assert(IvfIndex.stats(spark, idx).collect().map(_.getLong(2)).sum ==
      e.count() * 2)
  }

  test("rebuild upgrades a pre-sidecar store: scan fallback before, cells after") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("upgrade")
    IvfIndex.build(e, idx, centroidMod = 17)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a store built before the sidecar existed
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/cells"), true)
    val viaScan = IvfIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaScan.nonEmpty, "fallback scan must still answer")
    IvfIndex.rebuild(spark, idx, centroidMod = 17)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx/cells")),
      "rebuild must create the sidecar for an old-format store")
    // same centroid rule → same cells → same histogram, now sidecar-served
    val after = IvfIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == viaScan)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings"),
      new org.apache.hadoop.fs.Path(s"$idx/postings_hidden"))
    try assert(IvfIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet == viaScan)
    finally fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings_hidden"),
      new org.apache.hadoop.fs.Path(s"$idx/postings"))
  }

  test("rebuild swap: a kill at every step self-heals to old or new, never loses") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val master = scratch("rb_crash_master")
    IvfIndex.build(e.filter($"vec_id" % 2 === 0), master, centroidMod = 17)
    IvfIndex.appendBatch(spark, master, e.filter($"vec_id" % 2 === 1), 0L)
    val q = e.filter($"vec_id" % 50 === 0)
    def answer(idx: String) = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val oldAnswer = answer(master)
    // the next read after a fault at any step is the complete OLD store
    // (marker not up yet) or the complete NEW one; a re-run completes,
    // the newest b0 replay unit survives, no swap artifact remains
    val crash = scratch("rb_crash")
    sweepFaults(master, crash)(IvfIndex.rebuild(spark, _))(histogram) { idx =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx/postings/b0")))
    }
    val newAnswer = answer(s"$crash/done")
    assert(oldAnswer.nonEmpty && newAnswer.nonEmpty && newAnswer != oldAnswer)
  }

  test("build supersedes a crashed rebuild: stale stages never clobber the fresh build") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("supersede")
    IvfIndex.build(e.filter($"vec_id" % 2 === 0), idx, centroidMod = 17)
    // crash in the widest window: marker up, all three parts staged, the
    // first rename-aside fails
    FaultyFs.bind(spark)
    val (died, _) = FaultyFs.armed(idx, 2, FaultyFs.Throw)(
      IvfIndex.rebuild(spark, FaultyFs.uri(idx)))
    assert(died.exists(_.isInstanceOf[FaultyFs.Injected]))
    // operator recovers with a fresh build over a DIFFERENT corpus —
    // the stale staged artifacts must not resurface on the next read
    IvfIndex.build(e, idx, centroidMod = 17)
    val control = scratch("supersede_ctl")
    IvfIndex.build(e, control, centroidMod = 17)
    val q = e.filter($"vec_id" % 50 === 0)
    val a = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(a == IvfIndex.query(spark, control, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet)
    assert(a.nonEmpty)
    assert(strays(idx).isEmpty)
  }

  test("queryFiltered: predicate candidates only; true-predicate equals query()") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("filtered")
    IvfIndex.build(e, idx)
    val q = e.filter($"vec_id" % 50 === 0)
    val plain = IvfIndex.query(spark, idx, q, nprobe = 2, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val trueFiltered = IvfIndex
      .queryFiltered(spark, idx, q, nprobe = 2, k = 5, (_, _) => lit(true))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(trueFiltered == plain)
    // even-nid filter: every result passes, and the top-k equals the
    // post-filtered re-rank of an exhaustive unfiltered run (k big
    // enough to keep every probed candidate)
    val filtered = IvfIndex.queryFiltered(spark, idx, q, nprobe = 2, k = 5,
        (_, nid) => nid % 2 === 0)
      .as[(Long, Long, Double, Int)].collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_._2 % 2 == 0))
    val exhaustive = IvfIndex.query(spark, idx, q, nprobe = 2, k = 1000000)
      .as[(Long, Long, Double, Int)].collect()
    val expected = exhaustive.filter(_._2 % 2 == 0).groupBy(_._1).toSeq
      .flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, nid, sim, _), i) => (qid, nid, sim, i + 1) }
      }.toSet
    assert(filtered.toSet == expected)
  }

  test("postings store one row per vector with its top-1 cell") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("postings")
    IvfIndex.build(e, idx)
    val post = spark.read.parquet(s"$idx/postings")
    assert(post.count() == e.count())
    assert(post.select($"id").distinct().count() == e.count())
    // every cid is a real centroid
    val cents = spark.read.parquet(s"$idx/centroids")
    assert(post.join(cents, post("cid") === cents("cid"), "left_anti").count() == 0)
  }
}
