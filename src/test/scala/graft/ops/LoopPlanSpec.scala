package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the r14 per-round join strategy of the iterative loops.
  *
  * The loop bodies hide behind localCheckpoints, so the FINAL plan of a
  * loop query carries no evidence (the r13 plan-hygiene lesson: two
  * committed "after" dumps were evidence-free loop finals). Each round's
  * checkpoint materialization fires a QueryExecutionListener with that
  * round's OWN QueryExecution — this spec captures those and asserts:
  *
  *  - gate ON (small graph): the round's edge⋈rank join is a
  *    BroadcastHashJoin, i.e. the checkpointed edge list is probed IN
  *    PLACE — never re-shuffled per round — and the only exchange left
  *    in the round is the dst-grain aggregate;
  *  - gate OFF (autoBroadcastJoinThreshold = -1): the loop falls back to
  *    a shuffle join and still computes the identical ranks — the 100 TB
  *    posture is the same code path, not an untested branch.
  */
class LoopPlanSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
    (4L, 1L), (1L, 4L), (5L, 1L), (1L, 5L))
    .toDF("src", "dst")

  private def capturedPlans(body: => Unit): Seq[String] = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.graftbridge.drainListeners(spark)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("pagerank rounds broadcast the node-grain rank frame (gate on)") {
    val plans = capturedPlans {
      Graph.pagerank(edges, iters = 2)
        .write.format("noop").mode("overwrite").save()
    }
    // round plans = the ones holding the (r * 17) DIV (20 * deg) projection
    val rounds = plans.filter(p => p.contains("BroadcastHashJoin") ||
      p.contains("(r#") || p.contains("* 17"))
    val roundJoins = plans.filter(_.contains("* 17"))
    assert(roundJoins.nonEmpty, s"no round plan captured of ${plans.size}")
    roundJoins.foreach { p =>
      assert(p.contains("BroadcastHashJoin"),
        s"round join is not broadcast:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"round still shuffle-joins the edge list:\n${p.take(2000)}")
    }
    assert(rounds.nonEmpty)
  }

  test("pagerank gate-off fallback computes identical ranks via shuffle join") {
    val expect = Graph.pagerank(edges, iters = 2)
      .orderBy(col("node")).collect().map(_.toSeq).toSeq
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val got = Graph.pagerank(edges, iters = 2)
        .orderBy(col("node")).collect().map(_.toSeq).toSeq
      assert(got == expect)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("clusters rounds broadcast the node-grain label frames (gate on)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val plans = capturedPlans {
      graft.dedup.Dedup.clusters(pairs)
        .write.format("noop").mode("overwrite").save()
    }
    // the neighbour-min round plans carry the nmin alias
    val rounds = plans.filter(_.contains("nmin"))
    assert(rounds.nonEmpty, s"no round plan captured of ${plans.size}")
    rounds.foreach { p =>
      assert(p.contains("BroadcastHashJoin"),
        s"cluster round does not broadcast:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"),
        s"cluster round still sort-merge-joins:\n${p.take(2000)}")
    }
  }

  test("bfsHops bounds a sink-heavy directed graph by all its nodes, not its sources") {
    // one hub fanning out to 2,000 sinks, the hub and half the sinks as
    // sources: one distinct src, 2,001 nodes. The frontier and label
    // frames hold 1,000-2,001 rows, so at a 4 KB threshold neither may be
    // broadcast (a distinct-src bound of one row would broadcast both).
    val sinks = (1 to 2000).map(i => (0L, i.toLong)).toDF("src", "dst")
    val sources = (0 to 1000).map(_.toLong).toDF("node")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4000")
      var hops = Map.empty[Long, Int]
      val plans = capturedPlans {
        hops = Graph.bfsHops(sinks, sources, maxHops = 2)
          .as[(Long, Int)].collect().toMap
      }
      assert(hops.size == 2001 && hops(7L) == 0 && hops(1500L) == 1)
      // per-hop plans: the left-anti join against the settled labels
      val hopPlans = plans.filter(_.contains("LeftAnti"))
      assert(hopPlans.nonEmpty, s"no hop plan captured of ${plans.size}")
      hopPlans.foreach { p =>
        assert(!p.contains("BroadcastExchange"),
          s"hop broadcasts past the threshold:\n${p.take(2000)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
