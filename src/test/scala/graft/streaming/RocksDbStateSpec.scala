package graft.streaming

import graft.{Sessions, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.streaming.StreamingQuery

/** 100 TB streaming-state posture: the same `Trending.decayedCounts`
  * state machine on the RocksDB state store provider
  * (`Sessions.useRocksDbState`), driven with a planted HOT KEY (one key
  * receiving 20k events in one batch) alongside a wide key set (2,000
  * distinct keys) — the shape that breaks a heap-backed store at real
  * cardinality. Asserts (a) results are byte-identical to the default
  * provider's semantics, and (b) the RocksDB provider actually serviced
  * the state rows (rocksdb custom metrics present and non-trivial in the
  * query progress), so the spec can't silently pass on the default store.
  */
class RocksDbStateSpec extends SparkSpec {

  private val iv = 1000000000L // 1s intervals in ns

  /** Drive one jsonl batch through decayedCounts; returns (rows, query). */
  private def runBatch(rows: Seq[(String, Long)]): (Set[(String, Long, Long, String)], StreamingQuery) = {
    val in = Files.createTempDirectory("rocks_in")
    val out = scala.collection.mutable.Set[(String, Long, Long, String)]()
    val stream = spark.readStream.schema("k STRING, ts_ns LONG").json(in.toString)
    val counts = Trending.decayedCounts(stream, "k", "ts_ns",
      intervalNs = iv, spikeX100 = 300L)
    val q = counts.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        out ++= b.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        ()
      }.start()
    // stage outside the watched dir and move in: the source must never list
    // a half-written file (it would read the prefix as the whole batch)
    val staged = Files.write(Files.createTempFile("rocks_stage", ".jsonl"),
      scala.jdk.CollectionConverters.SeqHasAsJava(
        rows.map { case (k, ts) => s"""{"k":"$k","ts_ns":$ts}""" }).asJava)
    Files.move(staged, in.resolve("b0.jsonl"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
    (out.toSet, q)
  }

  test("hot key + wide cardinality on the RocksDB provider: same results, provider proven live") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Sessions.useRocksDbState(spark)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == Sessions.RocksDbProvider)
      // planted hot key: 20k events in interval 0 for "hot"; 2k cold keys
      val hot = Seq.fill(20000)(("hot", 100L))
      val cold = (0 until 2000).map(i => (f"k$i%04d", 200L))
      val (rows, q) = runBatch(scala.util.Random.shuffle(hot ++ cold))
      try {
        // semantics identical to the default store: 20k folds → 20k*1024
        assert(rows.contains(("hot", 0L, 20000L * 1024L, "active")))
        assert(rows.size == 2001)
        assert(rows.count(_._3 == 1024L) == 2000)
        // the provider actually fired: rocksdb custom metrics in progress
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty)
        val metrics = scala.jdk.CollectionConverters.MapHasAsScala(
          ops.head.customMetrics).asScala
        val rocksKeys = metrics.keys.filter(_.toLowerCase.contains("rocksdb"))
        assert(rocksKeys.nonEmpty,
          s"no rocksdb metrics in ${metrics.keys.mkString(",")}")
        assert(ops.head.numRowsUpdated == 2001L)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
