package graft.sources

import graft.SparkSpec
import graft.core.io.{FaultyFs, TextTables}
import java.nio.file.Files

class ManifestSourceSpec extends SparkSpec {
  import spark.implicits._

  private def digest(seed: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(seed.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val dir = {
    val d = Files.createTempDirectory("manifests")
    Files.write(d.resolve("manifest-0.txt"),
      (s"${digest("a").toUpperCase}  data/dir/a.docx\n" +
        s"${digest("b")}  data/b.docx\n").getBytes("UTF-8"))
    Files.write(d.resolve("manifest-1.txt"),
      s"${digest("c")}  c.json\n".getBytes("UTF-8"))
    d.toString
  }

  test("V2 source matches TextTables.parseManifest, one partition per file") {
    val v2 = spark.read.format("graft.sources.ManifestDataSource").load(dir)
      .orderBy($"file")
    val viaText = TextTables
      .parseManifest(spark.read.text(s"$dir/*.txt").withColumnRenamed("value", "line"))
      .orderBy($"file")
    assert(v2.collect().toSeq == viaText.collect().toSeq)
    // digest case folded, basename split
    val row = v2.filter($"file" === "data/dir/a.docx").head()
    assert(row.getString(0) == digest("a") && row.getString(2) == "a.docx")
    // file-grain parallelism: one input partition per manifest (on the
    // raw scan — the orderBy above shuffles and AQE coalesces)
    assert(spark.read.format("graft.sources.ManifestDataSource").load(dir)
      .rdd.getNumPartitions == 2)
  }

  test("write side round-trips through the read side in manifest format") {
    val out = Files.createTempDirectory("manifestw").toString
    val df = Seq(
      (digest("x").toUpperCase, "data/x.docx"),
      (digest("y"), "deep/path/y.json")
    ).toDF("checksum", "file")
    df.coalesce(1).write.format("graft.sources.ManifestDataSource")
      .mode("append").save(out)
    // on-disk bytes are the reference's fixed-width format
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".manifest"))
    assert(files.length == 1)
    val text = new String(Files.readAllBytes(files.head.toPath), "UTF-8")
    assert(text.contains(digest("x") + "  data/x.docx\n"))
    // and the read side parses them back (digest case-folded on write)
    val back = spark.read.format("graft.sources.ManifestDataSource").load(out)
      .orderBy($"file").select($"checksum", $"file", $"basename")
      .as[(String, String, String)].collect().toSeq
    assert(back == Seq(
      (digest("x"), "data/x.docx", "x.docx"),
      (digest("y"), "deep/path/y.json", "y.json")))
  }

  test("write goes through the session's file system; a refused commit rename fails it") {
    FaultyFs.bind(spark)
    val df = Seq((digest("x"), "data/x.docx"), (digest("y"), "y.json"))
      .toDF("checksum", "file").repartition(2)
    def save(dir: String): Unit = df.write.format("graft.sources.ManifestDataSource")
      .mode("append").save(FaultyFs.uri(dir))
    // the `faulty:` binding lives only in the session's Hadoop conf
    val ok = Files.createTempDirectory("manifestf").toString
    save(ok)
    assert(spark.read.format("graft.sources.ManifestDataSource")
      .load(FaultyFs.uri(ok)).count() == 2)
    // a task whose part rename is refused must fail the write, not
    // commit it with that part missing
    val refused = Files.createTempDirectory("manifestf").toString
    val (failure, _) = FaultyFs.armed(refused, 1, FaultyFs.ReturnFalse)(save(refused))
    assert(failure.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage).contains("could not rename"))),
      s"write did not fail on the refused rename: $failure")
  }

  test("filter pushdown: handled predicates reach the scan and leave no residual") {
    val base = spark.read.format("graft.sources.ManifestDataSource").load(dir)
    // supported predicate → lands in the scan description, no Filter node
    val eq = base.filter($"basename" === "a.docx")
    val plan = eq.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(basename,a.docx)"), plan) // in PushedFilters
    assert(!plan.contains("Filter ("), plan) // fully handled — no residual
    assert(eq.select($"file").as[String].collect().toSeq == Seq("data/dir/a.docx"))
    // filter on a column the projection drops still pushes (reader parses
    // the line either way; the row materializes only the projection)
    val prefixed = base.filter($"file".startsWith("data/"))
      .select($"basename").as[String].collect().sorted.toSeq
    assert(prefixed == Seq("a.docx", "b.docx"))
    // boolean combination pushes as one predicate
    val or = base.filter($"basename" === "c.json" || $"file".endsWith("b.docx"))
    assert(or.queryExecution.executedPlan.toString.contains("Or(EqualTo"), or)
    assert(or.select($"basename").as[String].collect().sorted.toSeq ==
      Seq("b.docx", "c.json"))
  }

  test("unsupported predicates stay as a post-scan residual and still evaluate") {
    val base = spark.read.format("graft.sources.ManifestDataSource").load(dir)
    // length() is not in the pushable set — must survive as a Filter node
    val odd = base.filter(org.apache.spark.sql.functions.length($"file") === 6)
    val plan = odd.queryExecution.executedPlan.toString
    assert(plan.contains("Filter"), plan)
    assert(odd.select($"basename").as[String].collect().toSeq == Seq("c.json"))
  }

  test("column pruning reaches the scan (ReadSchema carries only the projection)") {
    val pruned = spark.read.format("graft.sources.ManifestDataSource").load(dir)
      .select($"basename")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("basename"), plan)
    assert(!plan.contains("checksum"), plan)
    assert(pruned.as[String].collect().sorted.toSeq ==
      Seq("a.docx", "b.docx", "c.json"))
  }

  test("aggregate pushdown: COUNT/MIN/MAX serve one partial row per file") {
    val base = spark.read.format("graft.sources.ManifestDataSource").load(dir)
    val agg = base.agg(
      org.apache.spark.sql.functions.count("*").as("n"),
      org.apache.spark.sql.functions.min($"basename").as("mn"),
      org.apache.spark.sql.functions.max($"file").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    val row = agg.head()
    assert(row.getLong(0) == 3L)
    assert(row.getString(1) == "a.docx")
    assert(row.getString(2) == "data/dir/a.docx")
    // count(col) maps to count(*) — manifest columns are never null
    assert(base.agg(org.apache.spark.sql.functions.count($"checksum"))
      .head().getLong(0) == 3L)
  }

  test("aggregate pushdown composes with pushed filters") {
    val base = spark.read.format("graft.sources.ManifestDataSource").load(dir)
    val agg = base.filter($"file".startsWith("data/"))
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.max($"basename").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    assert(plan.contains("StringStartsWith(file,data/)"), plan)
    val row = agg.head()
    assert(row.getLong(0) == 2L && row.getString(1) == "b.docx")
    // a filter that leaves NO survivors in one file: its partial min/max
    // are null and must not poison the merged result
    val none = base.filter($"basename" === "c.json")
      .agg(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.min($"file"))
      .head()
    assert(none.getLong(0) == 1L && none.getString(1) == "c.json")
  }

  test("grouped aggregates push down; DISTINCT stays in Spark") {
    val base = spark.read.format("graft.sources.ManifestDataSource").load(dir)
    val grouped = base.groupBy($"basename")
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.max($"checksum").as("mx"))
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation") && plan.contains("PushedGroupBy"))
    val rows = grouped.orderBy($"basename")
      .as[(String, Long, String)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) ==
      Seq(("a.docx", 1L), ("b.docx", 1L), ("c.json", 1L)))
    val distinct = base.agg(
      org.apache.spark.sql.functions.countDistinct($"basename"))
    assert(!distinct.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(distinct.head().getLong(0) == 3L)
  }

  test("LIMIT pushes into the scan: per-file reader stops after k " +
    "survivors; composes with pushed filters") {
    val base = spark.read.format("graft.sources.ManifestDataSource").load(dir)
    val q = base.limit(2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit"), plan)
    assert(q.collect().length == 2)
    // with a pushed filter: the limit counts SURVIVORS, not raw lines
    val qf = base.filter($"basename" === "c.json").limit(5)
    val planF = qf.queryExecution.executedPlan.toString
    assert(planF.contains("PushedLimit") && planF.contains("PushedFilters"))
    val rows = qf.select($"basename").as[String].collect().toSeq
    assert(rows == Seq("c.json"))
  }
}
