package graft.sources

import graft.SparkSpec
import graft.core.io.FaultyFs
import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions._

class WarcSourceSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.WarcDataSource"

  private def docsDf = Seq(
    ("crawl-a", 1L, "hello world"),
    ("crawl-a", 2L, "second record body"),
    ("crawl-b", 10L, "b-side payload ✓")
  ).toDF("source", "doc_id", "text")

  private def writtenDir(): Path = {
    val d = Files.createTempDirectory("warcsrc")
    Warc.write(docsDf, d.toString).collect()
    d
  }

  test("connector full read matches Warc.read (uri + payload + ids)") {
    val dir = writtenDir()
    val viaSource = spark.read.format(fmt).load(dir.toString)
      .select($"uri", $"record_id", $"date", $"payload")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        new String(r.getAs[Array[Byte]](3), "UTF-8"))).toSet
    val viaScan = Warc.read(spark, s"$dir/*.warc.gz")
      .collect().map(r => (r.uri, r.record_id, r.date,
        new String(r.payload, "UTF-8"))).toSet
    assert(viaSource == viaScan)
    assert(viaSource.size == 3)
  }

  test("index-only scan never opens the archive (works after deleting .warc.gz)") {
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.gz"))
    Files.delete(dir.resolve("crawl-b.warc.gz"))
    val got = spark.read.format(fmt).load(dir.toString)
      .select($"uri", $"payload_len", $"payload_sha256")
      .orderBy($"uri")
      .as[(String, Long, String)].collect()
    assert(got.length == 3)
    assert(got.head._1 == "https://corpus.invalid/crawl-a/1")
    assert(got.head._2 == "hello world".getBytes("UTF-8").length.toLong)
    // requesting payload with the archives gone must fail (fetch mode)
    intercept[Exception] {
      spark.read.format(fmt).load(dir.toString).select($"payload").collect()
    }
  }

  test("uri filter prunes whole files and fetches only selected members") {
    val dir = writtenDir()
    val got = spark.read.format(fmt).load(dir.toString)
      .filter($"uri".startsWith("https://corpus.invalid/crawl-b/"))
      .select($"uri", $"payload")
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8")))
    assert(got.toSeq == Seq(
      "https://corpus.invalid/crawl-b/10" -> "b-side payload ✓"))
    // a prefix matching nothing prunes every file at plan time
    assert(spark.read.format(fmt).load(dir.toString)
      .filter($"uri".startsWith("https://nowhere/")).count() == 0L)
    // the filter reaches the scan (dropped from the residual)
    val plan = spark.read.format(fmt).load(dir.toString)
      .filter($"uri".startsWith("https://corpus.invalid/crawl-b/"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StartsWith"))
  }

  test("full-scan fallback without sidecars still honors filters") {
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.cdx"))
    Files.delete(dir.resolve("crawl-b.warc.cdx"))
    val got = spark.read.format(fmt).load(dir.toString)
      .filter($"payload_len" > 11L)
      .select($"uri", $"payload_len", $"payload_sha256")
      .orderBy($"uri").as[(String, Long, String)].collect()
    assert(got.map(_._1).toSeq == Seq(
      "https://corpus.invalid/crawl-a/2", "https://corpus.invalid/crawl-b/10"))
    // sha computed from the payload itself agrees with the writer's index
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("second record body".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.head._3 == sha)
  }

  test("connector registers under the short name 'warc'") {
    val dir = writtenDir()
    assert(spark.read.format("warc").load(dir.toString).count() == 3L)
  }

  test("column pruning reaches the scan description") {
    val dir = writtenDir()
    val plan = spark.read.format(fmt).load(dir.toString)
      .select($"uri").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: [uri]"))
  }

  test("aggregate pushdown serves COUNT/MIN/MAX/SUM from the CDX index alone") {
    val dir = writtenDir()
    // archives gone: only the sidecars can answer — index-only aggregates
    Files.delete(dir.resolve("crawl-a.warc.gz"))
    Files.delete(dir.resolve("crawl-b.warc.gz"))
    val agg = spark.read.format(fmt).load(dir.toString)
      .agg(count("*").as("n"), min($"uri").as("mn"), max($"uri").as("mx"),
        sum($"payload_len").as("bytes"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    val r = agg.head()
    assert(r.getLong(0) == 3L)
    assert(r.getString(1) == "https://corpus.invalid/crawl-a/1")
    assert(r.getString(2) == "https://corpus.invalid/crawl-b/10")
    val wantBytes = Seq("hello world", "second record body", "b-side payload ✓")
      .map(_.getBytes("UTF-8").length.toLong).sum
    assert(r.getLong(3) == wantBytes)
    // composes with pushed filters: per-file pruning still applies
    val filtered = spark.read.format(fmt).load(dir.toString)
      .filter($"uri".startsWith("https://corpus.invalid/crawl-b/"))
      .agg(count("*"), sum($"payload_len")).head()
    assert(filtered.getLong(0) == 1L)
    assert(filtered.getLong(1) ==
      "b-side payload ✓".getBytes("UTF-8").length.toLong)
  }

  test("aggregate pushdown falls back to a record walk without sidecars") {
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.cdx"))
    Files.delete(dir.resolve("crawl-b.warc.cdx"))
    val agg = spark.read.format(fmt).load(dir.toString)
      .filter($"payload_len" > 11L)
      .agg(count("*").as("n"), max($"payload_len").as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val r = agg.head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == "second record body".getBytes("UTF-8").length.toLong)
  }

  test("aggregate pushdown declines archive-only columns and DISTINCT") {
    val dir = writtenDir()
    // min(date) needs the archive record — must NOT push, must still answer
    val dated = spark.read.format(fmt).load(dir.toString).agg(min($"date"))
    assert(!dated.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(dated.head().getString(0) != null)
    val dist = spark.read.format(fmt).load(dir.toString)
      .agg(countDistinct($"uri"))
    assert(!dist.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(dist.head().getLong(0) == 3L)
    // group key on an archive-only column stays in Spark too
    val byDate = spark.read.format(fmt).load(dir.toString)
      .groupBy($"date").agg(count("*"))
    assert(!byDate.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(byDate.count() >= 1L)
  }

  test("grouped aggregates over index-servable columns answer from the " +
    "CDX alone — archives deleted") {
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.gz"))
    Files.delete(dir.resolve("crawl-b.warc.gz"))
    val grouped = spark.read.format(fmt).load(dir.toString)
      .groupBy($"warc_file")
      .agg(count("*").as("n_records"), sum($"payload_len").as("total_bytes"))
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation") && plan.contains("PushedGroupBy"),
      plan)
    val rows = grouped.orderBy($"warc_file")
      .as[(String, Long, Long)].collect().toSeq
    val aBytes = Seq("hello world", "second record body")
      .map(_.getBytes("UTF-8").length.toLong).sum
    val bBytes = "b-side payload ✓".getBytes("UTF-8").length.toLong
    assert(rows == Seq(("crawl-a.warc.gz", 2L, aBytes),
      ("crawl-b.warc.gz", 1L, bBytes)))
  }

  test("COUNT(DISTINCT) over index-servable columns rides the index-only " +
    "scan — archives deleted, distinct runs distributed in Spark") {
    // DISTINCT can't push as a partial (Spark would need complete
    // pushdown = one global partition — wrong at crawl scale); the
    // scale-correct plan is index-only row service + Spark's distinct
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.gz"))
    Files.delete(dir.resolve("crawl-b.warc.gz"))
    val q = spark.read.format(fmt).load(dir.toString)
      .groupBy($"warc_file")
      .agg(countDistinct($"payload_sha256").as("n_unique"),
        countDistinct($"uri").as("n_uris"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"), plan)
    // archives are gone: this only completes if the scan stayed index-only
    val rows = q.orderBy($"warc_file").as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(("crawl-a.warc.gz", 2L, 2L), ("crawl-b.warc.gz", 1L, 1L)))
  }

  test("ORDER BY payload_len DESC LIMIT k pushes top-N into the scan — " +
    "index-only, archives deleted, ≤ k entries per file") {
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.gz"))
    Files.delete(dir.resolve("crawl-b.warc.gz"))
    val q = spark.read.format(fmt).load(dir.toString)
      .select($"uri", $"payload_len")
      .orderBy($"payload_len".desc, $"uri")
      .limit(2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN"), plan)
    // archives are gone: completes only index-only; result is the true
    // global top-2 by (payload_len DESC, uri) — a total order, so the
    // per-file pre-merge can't change the answer
    val got = q.as[(String, Long)].collect().toSeq
    val want = Seq(
      ("https://corpus.invalid/crawl-a/2",
        "second record body".getBytes("UTF-8").length.toLong),
      ("https://corpus.invalid/crawl-b/10",
        "b-side payload ✓".getBytes("UTF-8").length.toLong))
    assert(got == want, s"got $got")
  }

  test("top-N pushdown with a fetch-mode projection reads only the top " +
    "members; archive-only sort keys decline") {
    val dir = writtenDir()
    val q = spark.read.format(fmt).load(dir.toString)
      .select($"uri", $"payload")
      .orderBy($"payload_len".desc, $"uri").limit(1)
    assert(q.queryExecution.executedPlan.toString.contains("PushedTopN"))
    val got = q.collect().map(r =>
      (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"))).toSeq
    assert(got == Seq(("https://corpus.invalid/crawl-a/2", "second record body")))
    // date lives only inside the archive: the source must decline
    val q2 = spark.read.format(fmt).load(dir.toString)
      .select($"uri", $"date").orderBy($"date".desc).limit(1)
    assert(!q2.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(q2.collect().length == 1) // Spark-side sort still answers
  }

  test("bare LIMIT pushes into the scan (index mode) and stays partial") {
    val dir = writtenDir()
    Files.delete(dir.resolve("crawl-a.warc.gz"))
    Files.delete(dir.resolve("crawl-b.warc.gz"))
    val q = spark.read.format(fmt).load(dir.toString)
      .select($"uri", $"payload_len").limit(2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit"), plan)
    assert(q.collect().length == 2)
  }

  test("cross-crawl revisit classification runs INDEX-ONLY: archives of " +
    "both crawls deleted, digests answer from the CDX sidecars") {
    val dirA = Files.createTempDirectory("warcrevA")
    val dirB = Files.createTempDirectory("warcrevB")
    Warc.write(docsDf, dirA.toString).collect()
    // crawl B: doc 2 changed, doc 10 identical, doc 99 new
    val docsB = Seq(
      ("crawl-a", 1L, "hello world"),          // revisit (unchanged)
      ("crawl-a", 2L, "second record CHANGED"),
      ("crawl-b", 10L, "b-side payload ✓"),    // revisit
      ("crawl-b", 99L, "a new page")
    ).toDF("source", "doc_id", "text")
    Warc.write(docsB, dirB.toString).collect()
    Seq(dirA, dirB).foreach { d =>
      Files.list(d).filter(_.toString.endsWith(".warc.gz"))
        .forEach(p => Files.delete(p))
    }
    val a = spark.read.format(fmt).load(dirA.toString)
      .select($"uri".as("a_uri"), $"payload_sha256".as("a_digest"))
    val b = spark.read.format(fmt).load(dirB.toString)
      .select($"uri", $"payload_sha256".as("digest"))
    val got = b.join(a, $"uri" === $"a_uri", "left")
      .select($"uri",
        when($"a_digest".isNull, "new")
          .when($"a_digest" === $"digest", "revisit")
          .otherwise("changed").as("status"))
      .as[(String, String)].collect().toMap
    assert(got("https://corpus.invalid/crawl-a/1") == "revisit")
    assert(got("https://corpus.invalid/crawl-a/2") == "changed")
    assert(got("https://corpus.invalid/crawl-b/10") == "revisit")
    assert(got("https://corpus.invalid/crawl-b/99") == "new")
  }

  test("reads through a file system bound only in the session's Hadoop conf") {
    FaultyFs.bind(spark)
    val hconf = spark.sparkContext.hadoopConfiguration
    // drop any cached `faulty:` instance and keep the cache off: a reader
    // that opens files from a fresh Configuration cannot resolve the scheme
    FileSystem.get(new java.net.URI(FaultyFs.uri("/")), hconf).close()
    hconf.setBoolean(s"fs.${FaultyFs.Scheme}.impl.disable.cache", true)
    try {
      val indexed = writtenDir()
      val bare = writtenDir()
      Files.delete(bare.resolve("crawl-a.warc.cdx"))
      Files.delete(bare.resolve("crawl-b.warc.cdx"))
      def read(d: Path) = spark.read.format(fmt).load(FaultyFs.uri(d.toString))
      def payloads(d: Path) = read(d).select($"uri", $"payload").collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"))).toSet
      val expect = payloads(writtenDir())
      assert(expect.size == 3)
      assert(payloads(indexed) == expect) // fetch: member range reads
      assert(payloads(bare) == expect)    // full scan: sequential walk
      assert(read(bare).filter($"payload_len" > 11L).count() == 2L) // aggregate walk
    } finally hconf.unset(s"fs.${FaultyFs.Scheme}.impl.disable.cache")
  }
}
