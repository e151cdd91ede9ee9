package graft.tools

import graft.Runner

/** Dev-loop subset timer: `runMain graft.tools.TimeQueries <sfDir> q1,q2
  * [reps]` — same session config and noop sink as graft.Bench, but only
  * the named queries, each run `reps` times (default 2: cold + warm) so
  * an optimization's effect is visible without the full-suite wait.
  *
  * A rep that throws prints `FAIL(<error class>)` in place of its time.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Runner.session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      // Runner.run isolates each rep: un-isolated reps inherit the
      // previous run's dead checkpoint blocks and drift (the r13 lesson
      // that warm un-isolated timings don't validate a change)
      val runs = (1 to reps).map(_ => Runner.run(spark, name, sfDir)(Runner.noop))
      val times = runs.collect { case Right(t) => t }
      println(f"TIME $name%-28s " +
        runs.map(_.fold(e => s"FAIL($e)", t => f"$t%.3f")).mkString("  ") +
        (if (times.isEmpty) "" else f"  min=${times.min}%.3f"))
    }
    spark.stop()
  }
}
