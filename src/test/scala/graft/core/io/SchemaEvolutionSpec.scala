package graft.core.io

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Schema-drift posture for continuous ingest: a 100 TB corpus is written
  * over months by evolving producers, so the reader must (a) merge additive
  * drift (new columns appear as nulls on old files), (b) keep column
  * pruning working across the merged schema, and (c) REFUSE incompatible
  * drift loudly instead of silently coercing — the parquet footer is the
  * contract, and a wrong dtype corrupting 100 TB of downstream features is
  * strictly worse than a failed job.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("schema_evo").toFile.getAbsolutePath

  test("additive drift merges: new column reads as null on old files") {
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "v", "score")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = merged.orderBy($"id")
      .select($"id", $"score").collect()
    assert(rows.map(r => if (r.isNullAt(1)) None else Some(r.getInt(1))).toSeq ==
      Seq(None, None, Some(30), Some(40)))
  }

  test("pruning survives the merge: selecting only shared columns skips the drifted one") {
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b", 9)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val plan = spark.read.option("mergeSchema", "true").parquet(dir)
      .select($"id", $"v").queryExecution.executedPlan.toString
    // the scan's ReadSchema must not mention the drifted column
    assert(plan.contains("ReadSchema") && !plan.contains("score"),
      s"drifted column not pruned from scan:\n$plan")
  }

  test("incompatible drift (int vs string on one column) fails loudly, never coerces") {
    val dir = tmpDir()
    Seq((1L, 10)).toDF("id", "x").write.mode("append").parquet(dir)
    Seq((2L, "ten")).toDF("id", "x").write.mode("append").parquet(dir)
    val e = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.toLowerCase.contains("merge") || m.toLowerCase.contains("incompatible")),
      s"expected a merge-failure error, got: ${messages(e)}")
  }

  test("ORC / CSV / JSON round-trip the same rows as parquet") {
    val df = (0 until 500).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("id", "s", "x")
    val base = Files.createTempDirectory("fmt").toString
    df.write.orc(s"$base/orc")
    df.write.option("header", "true").csv(s"$base/csv")
    df.write.json(s"$base/json")
    val orc = spark.read.orc(s"$base/orc")
    val csv = spark.read.option("header", "true")
      .schema("id LONG, s STRING, x DOUBLE").csv(s"$base/csv")
    val json = spark.read.schema("id LONG, s STRING, x DOUBLE").json(s"$base/json")
    val want = df.orderBy($"id").collect().toSeq
    Seq("orc" -> orc, "csv" -> csv, "json" -> json).foreach { case (n, got) =>
      assert(got.select($"id", $"s", $"x").orderBy($"id").collect().toSeq == want,
        s"$n round-trip diverged")
    }
  }
}
