package graft.sim

import graft.core.io.{FaultSweep, FaultyFs}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: parity with the inline ivfPqTopK path,
  * query repeatability, and frozen-codebook incremental append.
  */
class PqIndexSpec extends FaultSweep {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def scratch(tag: String): String =
    s"/tmp/graft_pqidx_spec/p${java.lang.ProcessHandle.current().pid()}/$tag"

  test("build+query matches the inline ivfPqTopK path bit-for-bit") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("parity")
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    val fromIndex = PqIndex
      .query(spark, idx, e.filter($"vec_id" % 50 === 0),
        nprobe = 2, topK = 5, dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
    val inline = Pq
      .ivfPqTopK(e, centroidMod = 0, nprobe = 2, dims = 64, m = 16,
        k = 16, topK = 5, queryMod = 50)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(fromIndex == inline)
    assert(fromIndex.nonEmpty)
  }

  test("queryFiltered: exhaustive post-filter re-rank parity; true-predicate equals query()") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("filtered")
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    val q = e.filter($"vec_id" % 50 === 0)
    // the oracle: ADC-price EVERY probed candidate (topK >> cell sizes),
    // apply the predicate afterwards, re-rank, cut at 5 — filtering
    // inside the join must be indistinguishable from filtering after
    val exhaustive = PqIndex
      .query(spark, idx, q, nprobe = 2, topK = 1000000, dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect()
      .filter(_._2 % 3 == 0)
      .groupBy(_._1).iterator.flatMap { case (qid, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, nid, adc, _), i) => (qid, nid, adc, i + 1) }
      }.toSet
    val filtered = PqIndex.queryFiltered(spark, idx, q, nprobe = 2,
        topK = 5, keep = (_, nid) => pmod(nid, lit(3)) === 0,
        dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(filtered == exhaustive)
    assert(filtered.nonEmpty)
    // and every survivor passes the predicate
    assert(filtered.forall(_._2 % 3 == 0))
    // keep ≡ true degenerates to the unfiltered query
    val unfiltered = PqIndex
      .query(spark, idx, q, nprobe = 2, topK = 5, dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
    val trueKeep = PqIndex.queryFiltered(spark, idx, q, nprobe = 2,
        topK = 5, keep = (_, _) => lit(true), dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(trueKeep == unfiltered)
  }

  test("two-batch append equals one-shot encoding against frozen artifacts") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = e.filter($"vec_id" % 5 =!= 0)
    val extra = e.filter($"vec_id" % 5 === 0)
    val a = scratch("incrA")
    PqIndex.build(base, a, centroidMod = 17, dims = 64, m = 16, k = 16)
    PqIndex.append(spark, a, extra, dims = 64, m = 16)
    val b = scratch("incrB")
    copyDir(s"$a/coarse", s"$b/coarse")
    copyDir(s"$a/codebook", s"$b/codebook")
    PqIndex.append(spark, b, e, dims = 64, m = 16)
    val q = e.filter($"vec_id" % 50 === 0)
    val qa = PqIndex.query(spark, a, q, nprobe = 2, topK = 5, dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
    val qb = PqIndex.query(spark, b, q, nprobe = 2, topK = 5, dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(qa == qb)
    assert(qa.nonEmpty)
  }

  test("stats histogram over the code store partitions the corpus") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("stats")
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    assert(PqIndex.stats(spark, idx).collect().map(_.getLong(2)).sum == e.count())
  }

  test("postings carry one m-code row per vector, codes reference the codebook") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("postings")
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    val post = spark.read.parquet(s"$idx/postings")
    assert(post.count() == e.count())
    // production byte layout: the code IS m bytes
    assert(post.filter(octet_length($"codes") =!= 16).count() == 0)
    val validOrds = spark.read.parquet(s"$idx/codebook")
      .select($"ord").distinct().as[Int].collect().toSet
    val used = post
      .select(explode(graft.functions.unpack_bytes($"codes")).as("ord"))
      .distinct().as[Int].collect().toSet
    assert(used.subsetOf(validOrds))
  }

  test("byte-packed postings carry a 4x-narrower code payload than int codes") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("bytes")
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    val post = spark.read.parquet(s"$idx/postings")
    val n = post.count()
    // the physical code payload is exactly m bytes/vector — the width
    // every probe-join SHUFFLE row carries (vs 4·m bytes of int values
    // plus the 8-byte UnsafeArrayData header in the r10 layout). Note:
    // parquet ON DISK is a measured wash at k=16 (dictionary bit-packing
    // stores int codes in ~4 bits/elem: 12.1 KB byte store vs 7.9 KB int
    // store at sf0.001) — the shrink this layout buys is shuffle/memory
    // row width at query time, not parquet footprint.
    val byteWidth = post.select(sum(octet_length($"codes"))).as[Long].head()
    assert(byteWidth == n * 16)
    val intWidth = post
      .select(graft.functions.unpack_bytes($"codes").as("c"))
      .select(sum(size($"c") * 4)).as[Long].head()
    assert(intWidth == n * 64)
    assert(byteWidth * 4 == intWidth)
    // the packed bytes round-trip exactly (unsigned range)
    val rt = post.select($"codes",
        graft.functions.pack_bytes(
          graft.functions.unpack_bytes($"codes")).as("rt"))
      .filter($"codes" =!= $"rt").count()
    assert(rt == 0)
  }

  private def query5(idx: String) = {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    PqIndex.query(spark, idx, e.filter($"vec_id" % 50 === 0),
        nprobe = 2, topK = 5, dims = 64, m = 16)
      .as[(Long, Long, Long, Int)].collect().toSet
  }

  test("rebuild from the corpus equals a fresh full-corpus build; b<N> replay unit survives") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("rebuild")
    PqIndex.build(e.filter($"vec_id" % 2 === 0), idx,
      centroidMod = 0, dims = 64, m = 16, k = 16)
    PqIndex.appendBatch(spark, idx, e.filter($"vec_id" % 2 === 1), 0L,
      dims = 64, m = 16)
    PqIndex.rebuild(spark, idx, e, centroidMod = 0, dims = 64, m = 16, k = 16)
    val control = scratch("rebuild_ctl")
    PqIndex.build(e, control, centroidMod = 0, dims = 64, m = 16, k = 16)
    val a = query5(idx)
    assert(a == query5(control))
    assert(a.nonEmpty)
    // the newest streaming batch survived as its own replay unit,
    // re-encoded against the NEW artifacts (codes answer identically)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/postings/b0")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/cells/b0")))
    val b0 = spark.read.parquet(s"$idx/postings/b0")
    assert(b0.select($"nid").as[Long].collect().toSet ==
      e.filter($"vec_id" % 2 === 1).select($"vec_id").as[Long].collect().toSet)
    // cells sidecar rebuilt in lockstep (flat + b0 delta = corpus)
    assert(PqIndex.stats(spark, idx).collect().map(_.getLong(2)).sum ==
      e.count())
  }

  /** A reader entry point's answer (it runs the store's recover). */
  private def histogram(idx: String) = PqIndex.stats(spark, idx).collect().toSeq

  private def b0Survives(idx: String): Unit =
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/postings/b0")), s"b0 lost in $idx")

  test("pq rebuild swap: a kill at every step self-heals to old or new, never loses") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val master = scratch("pqrb_master")
    PqIndex.build(e.filter($"vec_id" % 2 === 0), master,
      centroidMod = 0, dims = 64, m = 16, k = 16)
    PqIndex.appendBatch(spark, master, e.filter($"vec_id" % 2 === 1), 0L,
      dims = 64, m = 16)
    val oldAnswer = query5(master)
    // the next READ after a fault at any step self-heals via the
    // PQ-stamped marker: complete OLD before the marker goes up, complete
    // NEW after; a re-run completes and b0 survives every path
    val crash = scratch("pqrb")
    sweepFaults(master, crash)(PqIndex.rebuild(spark, _, e, centroidMod = 0,
      dims = 64, m = 16, k = 16))(histogram)(b0Survives)
    val newAnswer = query5(s"$crash/done")
    assert(oldAnswer.nonEmpty && newAnswer.nonEmpty && newAnswer != oldAnswer)
  }

  test("pq compact: a fault at every step heals; the b<N> replay unit survives") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val master = scratch("pqc_master")
    PqIndex.build(e.filter($"vec_id" % 3 === 0), master,
      centroidMod = 0, dims = 64, m = 16, k = 16)
    PqIndex.append(spark, master, e.filter($"vec_id" % 3 === 1), dims = 64, m = 16)
    PqIndex.appendBatch(spark, master, e.filter($"vec_id" % 3 === 2), 0L,
      dims = 64, m = 16)
    val before = storeRows(master)
    val crash = scratch("pqc")
    sweepFaults(master, crash)(PqIndex.compact(spark, _))(histogram)(b0Survives)
    assert(storeRows(s"$crash/done") == before)
  }

  test("build supersedes a crashed pq rebuild: stale stages never clobber") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("pq_supersede")
    PqIndex.build(e.filter($"vec_id" % 2 === 0), idx,
      centroidMod = 0, dims = 64, m = 16, k = 16)
    // marker up, every part staged, the first rename-aside fails
    FaultyFs.bind(spark)
    val (died, _) = FaultyFs.armed(idx, 2, FaultyFs.Throw)(
      PqIndex.rebuild(spark, FaultyFs.uri(idx), e, centroidMod = 0,
        dims = 64, m = 16, k = 16))
    assert(died.exists(_.isInstanceOf[FaultyFs.Injected]))
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    val control = scratch("pq_supersede_ctl")
    PqIndex.build(e, control, centroidMod = 0, dims = 64, m = 16, k = 16)
    assert(query5(idx) == query5(control))
    assert(query5(idx).nonEmpty)
    assert(strays(idx).isEmpty)
  }

  /** The IvfIndexSpec planted-drift shape (distinct vectors capped
    * around a never-sampled center — identical clones are unsplittable
    * by ANY quantizer).
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

  test("rebuildIfNeeded consumes planted drift on the memory-scale store") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = scratch("pq_drift")
    PqIndex.build(e, idx, centroidMod = 0, dims = 64, m = 16, k = 16)
    val planted = plantedCap(e).localCheckpoint(eager = true)
    PqIndex.append(spark, idx, planted, dims = 64, m = 16)
    val corpus = e.select($"vec_id", $"embedding").unionByName(planted)
    assert(graft.sim.IvfIndex.needsRebuild(spark, idx, cellCol = "ccid"),
      "planted cap must flip the flag")
    assert(PqIndex.rebuildIfNeeded(spark, idx, corpus,
      dims = 64, m = 16, k = 16), "must act on the flag")
    assert(!graft.sim.IvfIndex.needsRebuild(spark, idx, cellCol = "ccid"),
      "retrained coarse centroids must Voronoi-split the cap")
    assert(!PqIndex.rebuildIfNeeded(spark, idx, corpus,
      dims = 64, m = 16, k = 16), "no further action due")
    // the rebuilt store ≡ a fresh auto-sized build over the grown corpus
    val fresh = scratch("pq_drift_fresh")
    PqIndex.build(corpus, fresh, centroidMod = 0, dims = 64, m = 16, k = 16)
    assert(query5(idx) == query5(fresh))
    assert(query5(idx).nonEmpty)
  }
}
