package graft

class RunnerSpec extends SparkSpec {

  test("a query that throws returns its error class, not a timing") {
    // the query's own scan fails at construction: no such scale-factor dir
    val got = Runner.run(spark, "q1_pricing_summary", "/nonexistent/sf")(Runner.noop)
    assert(got.isLeft, got)
    assert(got.left.exists(_.endsWith("Exception")), got)
  }

  test("a query that succeeds returns its seconds") {
    val got = Runner.time(spark, "range")(Runner.noop(spark.range(1000).toDF()))
    assert(got.exists(_ >= 0.0), got)
  }

  test("a fatal error propagates") {
    intercept[LinkageError](Runner.time(spark, "fatal")(throw new LinkageError("fatal")))
  }

  test("isolate leaves zero persisted RDDs, also after a failed body") {
    spark.range(100).localCheckpoint(eager = true)
    spark.range(10).cache().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Runner.isolate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val got = Runner.time(spark, "persist then throw") {
      spark.sparkContext.parallelize(1 to 10).persist().count()
      throw new IllegalStateException("boom")
    }
    assert(got == Left("java.lang.IllegalStateException"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
