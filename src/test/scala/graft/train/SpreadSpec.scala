package graft.train

import graft.SparkSpec
import graft.ops.Hints

class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private val target = 32
  private val maxPart = 128L << 20 // 128 MiB default maxPartitionBytes

  test("spread gate: bytes, not file count (VERDICT r4 #7)") {
    // small few-filed input: the classic one-hot-file case — spread
    assert(Hints.shouldSpread(nFiles = 2, target, bytes = BigInt(5L << 20), maxPart))
    // enough files already: never repartition
    assert(!Hints.shouldSpread(nFiles = 64, target, bytes = BigInt(5L << 20), maxPart))
    // non-file frame (0 files): leave alone
    assert(!Hints.shouldSpread(nFiles = 0, target, bytes = BigInt(5L << 20), maxPart))
    // few-FILED but 100 TB: the scan itself splits into ≥ target
    // partitions at maxPartitionBytes — a blanket repartition would be a
    // full-corpus shuffle for nothing
    assert(!Hints.shouldSpread(nFiles = 10, target,
      bytes = BigInt(100L * (1L << 40)), maxPart))
    // boundary: exactly target × maxPartitionBytes no longer spreads
    assert(!Hints.shouldSpread(nFiles = 10, target,
      bytes = BigInt(maxPart) * target, maxPart))
    assert(Hints.shouldSpread(nFiles = 10, target,
      bytes = BigInt(maxPart) * target - 1, maxPart))
  }

  test("spread gate: inputs under 100 KB and failed size estimates stay put") {
    // too small to pay for the exchange; the floor itself spreads
    assert(!Hints.shouldSpread(nFiles = 1, target, bytes = BigInt(99999), maxPart))
    assert(Hints.shouldSpread(nFiles = 1, target, bytes = BigInt(100000), maxPart))
    // a size estimate that threw reaches the gate as -1
    assert(!Hints.shouldSpread(nFiles = 1, target, bytes = BigInt(-1), maxPart))
  }

  test("spread leaves a frame that reads no file alone") {
    val df = spark.range(200000).toDF("id")
    assert(Hints.spread(df) eq df)
  }

  test("broadcastIfRowsFit bounds a (long, long) frame at threshold ÷ 24 rows") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    assert(Hints.rowBytes(df) == 24) // 8 B row header + two 8 B longs
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2400")
      def broadcasts(rows: Long) = Hints.broadcastIfRowsFit(df, rows)
        .queryExecution.analyzed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.ResolvedHint]
      assert(broadcasts(99))
      assert(!broadcasts(100))
      assert(!broadcasts(101))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("rowBytes counts arrays at the caller's length and refuses text") {
    val vecs = Seq((1L, Array(1.0, 2.0))).toDF("id", "v")
    assert(Hints.rowBytes(vecs, arrayLen = 256) == 8 + 8 + 256 * 8)
    intercept[IllegalArgumentException](Hints.rowBytes(vecs))
    intercept[IllegalArgumentException](Hints.rowBytes(Seq((1L, "x")).toDF("id", "s")))
    intercept[IllegalArgumentException](
      Hints.rowBytes(Seq((1L, Map(1 -> 2L))).toDF("id", "m")))
  }
}
