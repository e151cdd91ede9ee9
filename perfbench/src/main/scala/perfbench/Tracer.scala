package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work attributed to one tag: jobs, tasks, task time, shuffle bytes. */
final class Work {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var planMs = 0L
}

/** The traced run's instrument. Every call into a layer runs under
  * `tagged(tag)`, which sets the job description to `pb:<tag>`; a
  * `SparkListener` attributes jobs, tasks, task time and shuffle bytes to
  * that tag, and a `QueryExecutionListener` adds the planning phases of
  * each finished query (from `qe.tracker`) to the tag of the block that ran
  * it. `drain()` waits until the listener bus has delivered every event of
  * the work done so far, so totals read after it are complete.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val JobDescription = "spark.job.description"
  private val stageTag = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Work]
  private var started = 0
  private var ended = 0
  private var drained = 0
  private var planPending = 0L
  private var markers = 0
  @volatile private var attached = false

  private def work(tag: String): Work = totals.getOrElseUpdate(tag, new Work)

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(JobDescription)))
      .filter(_.startsWith("pb:")).map(_.stripPrefix("pb:"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    tagOf(e.properties).foreach { t =>
      work(t).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val w = work(t)
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case Marker(n) => synchronized { drained = n }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    planPending += qe.tracker.phases.values.map(_.durationMs).sum
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Run `body` with its jobs tagged `tag`; untagged when detached. */
  def tagged[T](tag: String)(body: => T): T =
    if (!attached) body
    else {
      val prev = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(s"pb:$tag")
      synchronized { planPending = 0L }
      try body
      finally {
        sc.setJobDescription(prev)
        drain()
        synchronized { work(tag).planMs += planPending; planPending = 0L }
      }
    }

  /** Wait until the listener has seen every event posted so far: post a
    * marker behind them and poll until it is delivered and every started
    * job has ended.
    */
  def drain(): Unit = if (attached) {
    val n = synchronized { markers += 1; markers }
    org.apache.spark.PerfbenchBus.post(sc, Marker(n))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (synchronized(drained < n || started > ended)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener bus did not drain within 60 s")
      Thread.sleep(1)
    }
  }

  /** Totals per tag since the last `reset()`. */
  def snapshot(): Map[String, Work] = synchronized(totals.toMap)

  def reset(): Unit = synchronized { totals.clear(); stageTag.clear(); planPending = 0L }
}

/** A drain marker travelling through the listener bus behind real events. */
final case class Marker(n: Int) extends SparkListenerEvent
