package graft.dedup

import graft.core.io.FaultSweep
import org.apache.spark.sql.functions._

/** Persisted dedup-lineage store: provenance-from-store parity with the
  * inline recompute, incremental append vs full rebuild, idempotent
  * refresh, and replayable batch appends.
  */
class DedupIndexSpec extends FaultSweep {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def scratch(tag: String): String =
    s"/tmp/graft_dedupidx_spec/p${java.lang.ProcessHandle.current().pid()}/$tag"

  private def docs() = spark.read.parquet(s"$sf/documents.parquet")

  private def prov(idx: String) =
    DedupIndex.provenance(spark, idx, docs())
      .as[(Long, Long, String, Boolean)].collect().toSet

  test("provenance from the store equals the inline pair->cluster recompute") {
    val idx = scratch("parity")
    DedupIndex.build(docs(), idx, n = 3, threshold = 0.10)
    val inline = {
      val cl = Dedup.clusters(Dedup.jaccardPairs(docs(), 3, 0.10))
      docs().select($"doc_id")
        .join(cl.select($"id", $"cluster"), $"doc_id" === $"id", "left")
        .select($"doc_id",
          coalesce($"cluster", $"doc_id").as("cluster"),
          when($"cluster".isNull, lit("unique"))
            .when($"cluster" === $"doc_id", lit("representative"))
            .otherwise(lit("near_dup")).as("reason"))
        .withColumn("kept", $"reason" =!= "near_dup")
        .as[(Long, Long, String, Boolean)].collect().toSet
    }
    assert(prov(idx) == inline)
    assert(prov(idx).exists(!_._4), "fixture corpus must contain near-dups")
  }

  test("rebuild over the same corpus is idempotent") {
    val idx = scratch("refresh")
    DedupIndex.build(docs(), idx, n = 3, threshold = 0.10)
    val first = prov(idx)
    DedupIndex.build(docs(), idx, n = 3, threshold = 0.10)
    assert(prov(idx) == first)
  }

  test("incremental append equals a from-scratch rebuild") {
    val base = docs().filter($"doc_id" % 5 =!= 0)
    val extra = docs().filter($"doc_id" % 5 === 0)
    val inc = scratch("inc")
    DedupIndex.build(base, inc, n = 3, threshold = 0.10)
    DedupIndex.append(spark, inc, extra, n = 3, threshold = 0.10)
    val full = scratch("full")
    DedupIndex.build(docs(), full, n = 3, threshold = 0.10)
    assert(DedupIndex.labels(spark, inc)
      .as[(Long, Long)].collect().toSet ==
      DedupIndex.labels(spark, full)
        .as[(Long, Long)].collect().toSet)
    assert(prov(inc) == prov(full))
  }

  test("append merging two standing clusters relabels exactly like a rebuild") {
    val ta = "alpha beta gamma delta epsilon zeta"
    val tb = "one two three four five six seven"
    val base = Seq((1L, ta), (2L, ta), (10L, tb), (11L, tb))
      .toDF("doc_id", "text")
    val bridge = Seq((20L, s"$ta $tb")).toDF("doc_id", "text")
    val inc = scratch("bridge_inc")
    DedupIndex.build(base, inc, n = 3, threshold = 0.10)
    // two standing clusters before the bridge
    assert(DedupIndex.labels(spark, inc).select($"cluster")
      .distinct().as[Long].collect().toSet == Set(1L, 10L))
    DedupIndex.append(spark, inc, bridge, n = 3, threshold = 0.10)
    val full = scratch("bridge_full")
    DedupIndex.build(base.unionByName(bridge), full, n = 3, threshold = 0.10)
    val incLabels = DedupIndex.labels(spark, inc)
      .as[(Long, Long)].collect().toSet
    assert(incLabels == DedupIndex.labels(spark, full)
      .as[(Long, Long)].collect().toSet)
    // the bridge merged everything into the min-id component
    assert(incLabels.map(_._2) == Set(1L))
    assert(incLabels.map(_._1) == Set(1L, 2L, 10L, 11L, 20L))
  }

  test("as-of provenance: base view survives appends; batch view tracks them") {
    val base = docs().filter($"doc_id" % 5 =!= 0)
    val extra = docs().filter($"doc_id" % 5 === 0)
    val idx = scratch("asof")
    DedupIndex.build(base, idx, n = 3, threshold = 0.10)
    val baseView = DedupIndex.provenanceAsOf(spark, idx, docs(), "base")
      .as[(Long, Long, String, Boolean)].collect().toSet
    DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    assert(DedupIndex.versions(spark, idx) == Seq("base", "b0"))
    // the base view is immutable under appends
    assert(DedupIndex.provenanceAsOf(spark, idx, docs(), "base")
      .as[(Long, Long, String, Boolean)].collect().toSet == baseView)
    // docs admitted by b0 read 'unique' in the base view
    assert(baseView.filter(r => r._1 % 5 == 0).forall(_._3 == "unique"))
    // the b0 view equals current provenance, and a replayed batch
    // rewrites its own snapshot
    val b0 = DedupIndex.provenanceAsOf(spark, idx, docs(), "b0")
      .as[(Long, Long, String, Boolean)].collect().toSet
    assert(b0 == prov(idx))
    DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    assert(DedupIndex.provenanceAsOf(spark, idx, docs(), "b0")
      .as[(Long, Long, String, Boolean)].collect().toSet == b0)
  }

  test("compact folds append artifacts; provenance unchanged") {
    val base = docs().filter($"doc_id" % 5 =!= 0)
    val extra = docs().filter($"doc_id" % 5 === 0)
    val idx = scratch("compact")
    DedupIndex.build(base, idx, n = 3, threshold = 0.10)
    DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    val before = prov(idx)
    DedupIndex.compact(spark, idx)
    assert(prov(idx) == before)
  }

  test("backfill append with broadcasts gated OFF still equals a rebuild") {
    // a bulk backfill (here half the corpus) must not depend on the
    // broadcast hints: with the auto-broadcast budget disabled every
    // size-gated hint drops and the append runs its shuffle-join
    // fallback — parity with a from-scratch rebuild must hold unchanged
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val base = docs().filter($"doc_id" % 2 =!= 0)
      val backfill = docs().filter($"doc_id" % 2 === 0)
      val inc = scratch("backfill_inc")
      DedupIndex.build(base, inc, n = 3, threshold = 0.10)
      DedupIndex.append(spark, inc, backfill, n = 3, threshold = 0.10)
      val full = scratch("backfill_full")
      DedupIndex.build(docs(), full, n = 3, threshold = 0.10)
      assert(DedupIndex.labels(spark, inc)
        .as[(Long, Long)].collect().toSet ==
        DedupIndex.labels(spark, full)
          .as[(Long, Long)].collect().toSet)
      assert(prov(inc) == prov(full))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("compact prunes the version log; survivors byte-identical, pruned fail loudly") {
    val idx = scratch("prune")
    val parts = (0 to 2).map(r => docs().filter($"doc_id" % 5 === r))
    val rest = docs().filter($"doc_id" % 5 > 2)
    DedupIndex.build(rest, idx, n = 3, threshold = 0.10)
    parts.zipWithIndex.foreach { case (p, i) =>
      DedupIndex.append(spark, idx, p, n = 3, threshold = 0.10,
        batchId = Some(i.toLong))
    }
    assert(DedupIndex.versions(spark, idx) == Seq("base", "b0", "b1", "b2"))
    val baseView = DedupIndex.provenanceAsOf(spark, idx, docs(), "base")
      .as[(Long, Long, String, Boolean)].collect().toSet
    val b2View = DedupIndex.provenanceAsOf(spark, idx, docs(), "b2")
      .as[(Long, Long, String, Boolean)].collect().toSet
    DedupIndex.compact(spark, idx, keepVersions = 1)
    // base always survives; only the newest batch snapshot is retained
    assert(DedupIndex.versions(spark, idx) == Seq("base", "b2"))
    assert(DedupIndex.provenanceAsOf(spark, idx, docs(), "base")
      .as[(Long, Long, String, Boolean)].collect().toSet == baseView)
    assert(DedupIndex.provenanceAsOf(spark, idx, docs(), "b2")
      .as[(Long, Long, String, Boolean)].collect().toSet == b2View)
    val err = intercept[java.util.NoSuchElementException] {
      DedupIndex.provenanceAsOf(spark, idx, docs(), "b0")
    }
    assert(err.getMessage.contains("b0") && err.getMessage.contains("base"))
  }

  test("buildIfAbsent detects a store whose version log is missing") {
    val idx = scratch("halfbuilt")
    DedupIndex.build(docs(), idx, n = 3, threshold = 0.10)
    val before = prov(idx)
    // simulate a crash between the labels swap and the labels_log write:
    // labels present, version log gone — the store must not be treated
    // as complete (provenanceAsOf("base") would fail until rebuild)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/labels_log"), true)
    DedupIndex.buildIfAbsent(docs(), idx, n = 3, threshold = 0.10)
    assert(DedupIndex.versions(spark, idx) == Seq("base"))
    assert(prov(idx) == before)
    assert(DedupIndex.provenanceAsOf(spark, idx, docs(), "base")
      .as[(Long, Long, String, Boolean)].collect().toSet == before)
  }

  test("versionDiff reports exactly the docs a batch changed; same-version diff empty") {
    val base = docs().filter($"doc_id" % 5 =!= 0)
    val extra = docs().filter($"doc_id" % 5 === 0)
    val idx = scratch("vdiff")
    DedupIndex.build(base, idx, n = 3, threshold = 0.10)
    DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    val diff = DedupIndex.versionDiff(spark, idx, docs(), "base", "b0")
      .as[(Long, Long, String, Long, String)].collect().toSet
    // oracle: join the two full provenance views and keep changed rows
    val a = DedupIndex.provenanceAsOf(spark, idx, docs(), "base")
      .as[(Long, Long, String, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val b = DedupIndex.provenanceAsOf(spark, idx, docs(), "b0")
      .as[(Long, Long, String, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val manual = a.keySet.intersect(b.keySet)
      .filter(id => a(id) != b(id))
      .map(id => (id, a(id)._1, a(id)._2, b(id)._1, b(id)._2))
    assert(diff == manual)
    assert(diff.nonEmpty, "the appended batch must change some provenance")
    // every b0-admitted doc in the diff read 'unique' in the base view
    assert(diff.filter(_._1 % 5 == 0).forall(_._3 == "unique"))
    assert(DedupIndex.versionDiff(spark, idx, docs(), "b0", "b0").count() == 0)
  }

  test("stats: cluster-size histogram matches a direct recount; giant cluster fattens the tail") {
    val idx = scratch("stats")
    DedupIndex.build(docs(), idx, n = 3, threshold = 0.10)
    val viaStats = DedupIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val direct = DedupIndex.labels(spark, idx)
      .groupBy($"cluster").count()
      .select($"count".as[Long]).collect()
      .groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, v) => (b.toInt, v.length.toLong, v.sum) }.toSet
    assert(viaStats == direct)
    assert(viaStats.map(_._3).sum == DedupIndex.labels(spark, idx).count())
    // template spam: 40 copies of one page → a bucket-5 cluster appears
    val spam = (0 until 40)
      .map(i => (900000L + i, "identical boilerplate page body alpha beta gamma"))
      .toDF("doc_id", "text")
    DedupIndex.append(spark, idx, spam, n = 3, threshold = 0.10)
    val after = DedupIndex.stats(spark, idx).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(after.contains(5), s"40-doc cluster must land in bucket 5: $after")
    assert(after(5)._2 >= 40L)
  }

  test("batch append replays idempotently (crashed-retry contract)") {
    val base = docs().filter($"doc_id" % 5 =!= 0)
    val extra = docs().filter($"doc_id" % 5 === 0)
    val idx = scratch("replay")
    DedupIndex.build(base, idx, n = 3, threshold = 0.10)
    DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    val once = prov(idx)
    // the retry: same batch id, same docs — must rewrite, not double
    DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    assert(prov(idx) == once)
    // and postings were not duplicated (a dup would corrupt n_common)
    val postings = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$idx/postings")
    assert(postings.groupBy($"id", $"shingle").count()
      .filter($"count" > 1).count() == 0)
    // the sidecar views replay to the same merged state (a double-landed
    // delta would inflate every later df/size denominator)
    assert(viewDf(idx) == directDf(idx))
    assert(viewSizes(idx) == directSizes(idx, 4096L))
  }

  // ── admission sidecars (r13): df/sizes merged from deltas, exact vs a
  //    direct recount of the posting store at every lifecycle point ──

  private def directDf(idx: String) =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$idx/postings")
      .groupBy($"shingle").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().toSet

  private def directSizes(idx: String, maxDf: Long) = {
    val posts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$idx/postings")
    val hot = posts.groupBy($"shingle").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > maxDf).select($"shingle")
    posts.join(hot, Seq("shingle"), "left_anti")
      .groupBy($"id").agg(count(lit(1)).as("n_sh"))
      .as[(Long, Long)].collect().toSet
  }

  private def viewDf(idx: String) =
    DedupIndex.shingleDf(spark, idx).as[(Long, Long)].collect().toSet
  private def viewSizes(idx: String) =
    DedupIndex.docSizes(spark, idx).as[(Long, Long)].collect().toSet

  test("sidecars answer df and sizes with the posting store ABSENT (O(batch) admission proof)") {
    val idx = scratch("sidecar_struct")
    DedupIndex.build(docs().filter($"doc_id" % 5 =!= 0), idx,
      n = 3, threshold = 0.10)
    DedupIndex.append(spark, idx, docs().filter($"doc_id" % 5 === 0),
      n = 3, threshold = 0.10, batchId = Some(0L))
    val (df0, sz0) = (directDf(idx), directSizes(idx, 4096L))
    assert(df0.nonEmpty && sz0.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings"),
      new org.apache.hadoop.fs.Path(s"$idx/postings_hidden"))
    try {
      assert(viewDf(idx) == df0,
        "merged df must answer from the sidecar alone")
      assert(viewSizes(idx) == sz0,
        "merged sizes must answer from the sidecar alone")
    } finally fs.rename(new org.apache.hadoop.fs.Path(s"$idx/postings_hidden"),
      new org.apache.hadoop.fs.Path(s"$idx/postings"))
  }

  test("sidecar views stay exact across cap crossings and a cap switch") {
    val t = "alpha beta gamma delta"
    val u = "one two three four"
    val idx = scratch("sidecar_cross")
    // maxDf = 2: the T-shingles sit AT the cap after the build
    DedupIndex.build(Seq((1L, t), (2L, t), (10L, u)).toDF("doc_id", "text"),
      idx, n = 3, threshold = 0.10, maxDf = 2L)
    assert(viewDf(idx) == directDf(idx))
    assert(viewSizes(idx) == directSizes(idx, 2L))
    // batch b0 pushes the T-shingles OVER the cap → old docs 1,2 need
    // -1/posting corrections; doc 11 extends the U family below the cap
    DedupIndex.append(spark, idx,
      Seq((3L, t), (11L, s"$u five")).toDF("doc_id", "text"),
      n = 3, threshold = 0.10, maxDf = 2L, batchId = Some(0L))
    assert(viewDf(idx) == directDf(idx))
    assert(viewSizes(idx) == directSizes(idx, 2L),
      "crossing corrections must reproduce a from-scratch capped recount")
    // hot docs carry no size row on either side
    assert(!viewSizes(idx).exists(r => Set(1L, 2L, 3L).contains(r._1)))
    // a later batch after the crossing must not re-apply corrections
    DedupIndex.append(spark, idx, Seq((4L, t)).toDF("doc_id", "text"),
      n = 3, threshold = 0.10, maxDf = 2L, batchId = Some(1L))
    assert(viewDf(idx) == directDf(idx))
    assert(viewSizes(idx) == directSizes(idx, 2L))
    // cap SWITCH: the stamped tag mismatches → one-time sidecar rebuild
    // under the new cap, then exact again
    DedupIndex.append(spark, idx, Seq((20L, "unrelated fresh words here")).toDF("doc_id", "text"),
      n = 3, threshold = 0.10, maxDf = 4096L, batchId = Some(2L))
    assert(viewDf(idx) == directDf(idx))
    assert(viewSizes(idx) == directSizes(idx, 4096L))
  }

  test("append returns the batch's post-append provenance") {
    val base = docs().filter($"doc_id" % 5 =!= 0)
    val extra = docs().filter($"doc_id" % 5 === 0)
    val idx = scratch("batchprov")
    DedupIndex.build(base, idx, n = 3, threshold = 0.10)
    val ret = DedupIndex.append(spark, idx, extra, n = 3, threshold = 0.10,
      batchId = Some(0L))
    assert(ret.columns.toSeq == Seq("doc_id", "cluster", "reason", "kept"))
    val got = ret.as[(Long, Long, String, Boolean)].collect().toSet
    // == the full-store export restricted to the batch (the O(labels)
    // join the returned frame replaces)
    val oracle = DedupIndex.provenance(spark, idx, extra)
      .as[(Long, Long, String, Boolean)].collect().toSet
    assert(got == oracle)
    assert(got.exists(_._3 == "near_dup"),
      "fixture batch must contain at least one near-dup")
  }

  test("compact folds sidecar deltas; views unchanged, newest delta survives") {
    val idx = scratch("sidecar_fold")
    val parts = (0 to 2).map(r => docs().filter($"doc_id" % 5 === r))
    DedupIndex.build(docs().filter($"doc_id" % 5 > 2), idx,
      n = 3, threshold = 0.10)
    parts.zipWithIndex.foreach { case (p, i) =>
      DedupIndex.append(spark, idx, p, n = 3, threshold = 0.10,
        batchId = Some(i.toLong))
    }
    val (df0, sz0) = (viewDf(idx), viewSizes(idx))
    DedupIndex.compact(spark, idx)
    assert(viewDf(idx) == df0)
    assert(viewSizes(idx) == sz0)
    // folded layout: one base + the newest b2 replay unit per sidecar
    Seq("df", "sizes").foreach { d =>
      val subs = listDir(s"$idx/$d").map(_.getFileName.toString)
        .filter(_.startsWith("b")).toSet
      assert(subs == Set("base", "b2"), s"$d layout after fold: $subs")
    }
  }

  // ── a fault at every step of each store op heals (FaultyFs sweeps) ──

  /** A reader entry point's answer (it runs the store's recover). */
  private def versionList(idx: String) = DedupIndex.versions(spark, idx)

  test("build: a fault at every step heals to the old or the new store") {
    val master = scratch("fault_build_master")
    DedupIndex.build(docs().filter($"doc_id" % 2 === 0), master, n = 3, threshold = 0.10)
    val crash = scratch("fault_build")
    val steps = sweepFaults(master, crash)(
      DedupIndex.build(docs(), _, n = 3, threshold = 0.10))(versionList)()
    // every part is replaced: one marker, two renames and a drop per
    // part, the marker cleared
    assert(steps == 2 + 3 * 6)
    assert(storeRows(master) != storeRows(s"$crash/done"))
  }

  test("batch append: a fault at every step of the label swap heals") {
    val master = scratch("fault_append_master")
    DedupIndex.build(docs().filter($"doc_id" % 5 =!= 0), master, n = 3, threshold = 0.10)
    // the batch's postings, pairs and sidecar deltas are its replay unit
    // (overwritten by a re-run); the label frame is what the swap guards
    def labelRows(idx: String) =
      DedupIndex.labels(spark, idx).as[(Long, Long)].collect().sorted.toSeq
    val crash = scratch("fault_append")
    sweepFaults(master, crash, rows = labelRows)(DedupIndex.append(spark, _,
      docs().filter($"doc_id" % 5 === 0), n = 3, threshold = 0.10,
      batchId = Some(0L)))(labelRows)()
    assert(labelRows(master) != labelRows(s"$crash/done"))
  }

  test("compact: a fault at every step heals; the newest delta survives") {
    val master = scratch("fault_compact_master")
    DedupIndex.build(docs().filter($"doc_id" % 5 > 2), master, n = 3, threshold = 0.10)
    (0 to 1).foreach { r =>
      DedupIndex.append(spark, master, docs().filter($"doc_id" % 5 === r),
        n = 3, threshold = 0.10, batchId = Some(r.toLong))
    }
    val views = (viewDf(master), viewSizes(master), prov(master))
    val crash = scratch("fault_compact")
    sweepFaults(master, crash)(DedupIndex.compact(spark, _))(versionList) { idx =>
      Seq("postings", "pairs", "df", "sizes").foreach(d =>
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx/$d/b1")), d))
    }
    assert((viewDf(s"$crash/done"), viewSizes(s"$crash/done"), prov(s"$crash/done")) == views)
  }
}
