package graft.tools

import graft.{Runner, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev-loop overhead profiler: `runMain graft.tools.JobProfile <sfDir>
  * q1,q2 [reps]` — per query, bench-shaped reps reporting wall seconds,
  * plan-build seconds (analysis+optimization+physical planning, measured
  * as executedPlan materialization), job/stage/task counts and summed
  * task time. The wall−taskTime/parallelism gap is scheduling + driver
  * overhead — the r13 finding ("75 jobs / 0.3 s of parallel work in
  * 4.4 s of wall") that motivates per-round job reduction in loops.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Runner.session()
    spark.range(1000000).selectExpr("sum(id)").collect()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskNanos = 0L
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        // SQL jobs never set the `callSite.short` property. A job's result
        // stage (highest id) is named after the thread that submitted it,
        // which for AQE stage jobs is a pool thread (CompletableFuture), so
        // a job inside a SQL execution takes that execution's call site
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id)))
          .getOrElse(if (j.stageInfos.isEmpty) "?"
            else j.stageInfos.maxBy(_.stageId).name)
        sites.merge(site, 1, (a, b) => a + b)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null)
          taskNanos += t.taskMetrics.executorRunTime * 1000000L
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      (1 to reps).foreach { rep =>
        jobs = 0; stages = 0; tasks = 0; taskNanos = 0L; sites.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val buildJobs = jobs
        val tBuilt = System.nanoTime()
        df.queryExecution.executedPlan // force plan
        val tPlanned = System.nanoTime()
        Runner.noop(df)
        val tDone = System.nanoTime()
        Runner.isolate(spark)
        org.apache.spark.sql.graftbridge.drainListeners(spark)
        println(f"PROF $name%-26s rep$rep wall=${(tDone - t0) / 1e9}%6.2f " +
          f"build=${(tBuilt - t0) / 1e9}%5.2f plan=${(tPlanned - tBuilt) / 1e9}%5.2f " +
          f"exec=${(tDone - tPlanned) / 1e9}%6.2f jobs=$jobs%4d (build=$buildJobs) " +
          f"stages=$stages%4d tasks=$tasks%5d taskSec=${taskNanos / 1e9}%7.2f")
        if (rep == reps) {
          import scala.jdk.CollectionConverters._
          sites.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (s, n) =>
            println(s"  SITE $n x $s")
          }
        }
      }
    }
    spark.stop()
  }
}
