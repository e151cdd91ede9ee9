package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Path}

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf = Seq(
    ("crawl-a", 1L, "hello world"),
    ("crawl-a", 3L, "三体 unicode ✓ payload"),
    ("crawl-a", 2L, ""), // empty body: Content-Length 0 must round-trip
    ("crawl-b", 10L, "b" * 10000)
  ).toDF("source", "doc_id", "text")

  private def freshDir(): Path = Files.createTempDirectory("warcspec")

  test("round-trip: every payload survives byte-exactly, uris addressable") {
    val dir = freshDir()
    Warc.write(docsDf, dir.toString).collect()
    val got = Warc.read(spark, s"$dir/*.warc.gz").collect()
      .map(r => r.uri -> new String(r.payload, "UTF-8")).toMap
    assert(got.size == 4)
    assert(got("https://corpus.invalid/crawl-a/3") == "三体 unicode ✓ payload")
    assert(got("https://corpus.invalid/crawl-a/2") == "")
    assert(got("https://corpus.invalid/crawl-b/10") == "b" * 10000)
  }

  test("read spreads the WARC files without a shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // every physical node, through the AQE plan and its query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    val dir = freshDir()
    Warc.write(docsDf, dir.toString).collect()
    val df = Warc.read(spark, s"$dir/*.warc.gz")
    assert(df.collect().length == 4)
    val plan = df.queryExecution.executedPlan
    assert(nodes(plan).collect { case s: ShuffleExchangeLike => s }.isEmpty, plan.treeString)
  }

  test("rendered archives are byte-deterministic across writes") {
    val d1 = freshDir(); val d2 = freshDir()
    Warc.write(docsDf, d1.toString).collect()
    Warc.write(docsDf, d2.toString).collect()
    for (name <- Seq("crawl-a.warc.gz", "crawl-b.warc.gz")) {
      val a = Files.readAllBytes(d1.resolve(name))
      val b = Files.readAllBytes(d2.resolve(name))
      assert(java.util.Arrays.equals(a, b), s"$name differs between writes")
    }
  }

  test("CDX offsets tile the file exactly; selective fetch reads the right records") {
    val dir = freshDir()
    val cdx = Warc.write(docsDf, dir.toString).collect()
    // members are contiguous: offsets sorted per file must tile 0..filesize
    cdx.groupBy(_.warc_file).foreach { case (file, rows) =>
      val sorted = rows.sortBy(_.offset)
      assert(sorted.head.offset == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.offset + a.length == b.offset)
        case _ =>
      }
      val end = sorted.last.offset + sorted.last.length
      assert(Files.size(dir.resolve(file)) == end, s"$file: cdx does not tile")
    }
    // fetch a strict subset by uri and check payloads + sha agreement
    val wanted = spark.createDataset(
      cdx.filter(e => e.uri.endsWith("/3") || e.uri.endsWith("/10")).toSeq)
    val fetched = Warc.fetchByCdx(dir.toString, wanted).collect()
    assert(fetched.map(_.uri).sorted.toSeq ==
      Seq("https://corpus.invalid/crawl-a/3", "https://corpus.invalid/crawl-b/10"))
    val shaOf = cdx.map(e => e.uri -> e.payload_sha256).toMap
    fetched.foreach { r =>
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.payload).map("%02x".format(_)).mkString
      assert(sha == shaOf(r.uri), s"${r.uri}: fetched payload hash mismatch")
    }
  }

  test("parseStream rejects truncated payloads loudly") {
    val rec = Warc.renderRecord("https://corpus.invalid/x/1", "full body".getBytes("UTF-8"))
    val cut = java.util.Arrays.copyOf(rec, rec.length - 8)
    // the first record parses at iterator construction — truncation
    // surfaces immediately, not on a later hasNext
    intercept[java.io.EOFException] {
      Warc.parseStream("t.warc", new java.io.ByteArrayInputStream(cut))
    }
  }

  test("record ids are deterministic urn:uuid derived from the uri") {
    val id = Warc.recordId("https://corpus.invalid/a/1")
    assert(id.matches("urn:uuid:[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(id == Warc.recordId("https://corpus.invalid/a/1"))
    assert(id != Warc.recordId("https://corpus.invalid/a/2"))
  }
}
