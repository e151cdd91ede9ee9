package graft.ops

import graft.SparkSpec

class HintsSpec extends SparkSpec {

  test("a localCheckpointed frame keeps its origin's size estimate") {
    val df = spark.range(1000).selectExpr("id", "id * 2 AS twice")
    val estimates = Seq(df, df.localCheckpoint(eager = false), df.localCheckpoint(eager = true))
      .map(Hints.estimatedBytes)
    // Range's 8 B/row scaled to the projection's 24 B/row over 16 B/row
    assert(estimates == Seq.fill(3)(BigInt(12000)), estimates)
  }
}
