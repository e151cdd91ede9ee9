package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ivfTopK probe broadcast is bounded by the probe frame's real row
  * width, vectors counted at their measured length: a wider vector with
  * the same row count must fall back to a shuffle join.
  */
class IvfProbeSpec extends SparkSpec {

  // 100 deterministic vectors of `dim` doubles
  private def emb(dim: Int): DataFrame =
    spark.range(100).select(col("id").as("vec_id"),
      array((1 to dim).map(i => sin(col("id") * i + i)): _*).as("embedding"))

  // the join strategy of the probes ⋈ cells join, keyed on cid
  private def probeJoin(dim: Int): String = {
    val plan = Similarity.ivfTopK(emb(dim), centroidMod = 10, nprobe = 2,
      k = 3, queryMod = 10).queryExecution.executedPlan.toString
    val joins = "(\\w+Join) \\[cid#".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(joins.size == 1, plan)
    joins.head
  }

  test("ivfTopK sizes the probe broadcast by vector length") {
    // 22 probe rows (100/10 + 1 queries × nprobe 2): 22 × 536 B at dim 64
    // fits 22,000 B; 22 × 2,072 B at dim 256 does not
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "22000")
      assert(probeJoin(64) == "BroadcastHashJoin")
      assert(probeJoin(256) != "BroadcastHashJoin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
