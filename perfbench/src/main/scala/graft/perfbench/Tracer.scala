package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One call into a layer, timed from the benchmark's side. Task counters
  * are summed over every task of every job submitted under the span's job
  * group (threads the engine starts inside the call inherit the group).
  */
final class Span(val name: String, val group: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = Long.MaxValue // open until the span closes
  var rowsOut = 0L
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var planMs = 0L

  def wallS: Double = (endNs - startNs) / 1e9
  def gcFrac: Double = if (runNs == 0) 0.0 else gcMs * 1e6 / runNs
  def busyFrac(cores: Int): Double = if (wallS <= 0) 0.0 else runNs / 1e9 / (wallS * cores)
}

/** Per-layer spans for the traced run. Spans are kept in memory and written
  * out once, at the end. Attribution:
  *  - task metrics: a `SparkListener` maps each job to the span whose job
  *    group it carries, and each of the job's stages to that span;
  *  - `plan_s`: a `QueryExecutionListener` adds each query's phase-tracker
  *    time (analysis, optimization, planning) to the span that was open
  *    when the query's first phase started. Spans never overlap (the traced
  *    run calls one layer at a time), so the window is unambiguous.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]
  private val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Span]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def spans: Seq[Span] = synchronized(all.toList)

  /** Runs `body` as one span. `rows` counts the span's output rows after
    * the span closed, so the count's own job is not attributed to it.
    */
  def span[T](name: String)(body: => T)(rows: T => Long): T = {
    val s = new Span(name, s"perfbench-${all.size}-$name")
    byGroup.put(s.group, s)
    synchronized(all += s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    val v =
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.clearJobGroup()
      }
    s.rowsOut = rows(v)
    v
  }

  /** Waits until every event posted so far reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null) {
      val s = byGroup.get(group)
      if (s != null) {
        synchronized(s.jobs += 1)
        e.stageIds.foreach(byStage.put(_, s))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) synchronized {
      s.tasks += 1
      s.runNs += m.executorRunTime * 1000000L
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      s.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlan(qe)

  private def addPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val start = phases.map(_.startTimeMs).min
      val ms = phases.map(_.durationMs).sum
      synchronized {
        all.find(s => start >= s.startMs && start <= s.endMs).foreach(_.planMs += ms)
      }
    }
  }
}
