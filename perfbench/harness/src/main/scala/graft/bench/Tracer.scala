package graft.bench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.http.HttpResult

/** Per-operation counters for the traced run. The client runs one
  * operation at a time and nothing runs on a timer, so every Spark job,
  * task and query execution between two `takeOp` calls belongs to the
  * operation routed in between. A sampler thread looks at the routing
  * thread's stack every millisecond to split route time between the
  * store's append functions and the rest.
  */
final class Tracer(spark: SparkSession) {

  private val jobs, stages, tasks, cpuNs, scanBytes, scanRows, shuffleBytes,
    analysisNs, optimizationNs, planningNs, executeNs = new AtomicLong
  @volatile private var routeNs = 0L
  @volatile private var appendShare = 0.0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
        scanRows.addAndGet(m.inputMetrics.recordsRead)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = {
      val ph = qe.tracker.phases
      def add(name: String, acc: AtomicLong): Unit = ph.get(name).foreach(s =>
        acc.addAndGet((s.endTimeMs - s.startTimeMs) * 1000000L))
      add("analysis", analysisNs)
      add("optimization", optimizationNs)
      add("planning", planningNs)
      executeNs.addAndGet(durNs)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Runs one routed request on the calling thread, timing it and
    * sampling its stack.
    */
  def timedRoute[T](run: => T): T = {
    val me = Thread.currentThread()
    @volatile var on = true
    var all, inAppend = 0L
    val sampler = new Thread(() => {
      while (on) {
        val st = me.getStackTrace
        all += 1
        if (st.exists(f => f.getClassName == "graft.store.Store$" &&
            f.getMethodName.startsWith("append"))) inAppend += 1
        Thread.sleep(1)
      }
    }, "bench-sampler")
    sampler.setDaemon(true)
    val t0 = System.nanoTime()
    sampler.start()
    try run
    finally {
      routeNs = System.nanoTime() - t0
      on = false
      sampler.join()
      appendShare = if (all == 0) 0.0 else inAppend.toDouble / all
    }
  }

  private def reset(): Unit =
    Seq(jobs, stages, tasks, cpuNs, scanBytes, scanRows, shuffleBytes,
      analysisNs, optimizationNs, planningNs, executeNs).foreach(_.set(0))

  /** Drops whatever ran since the last operation (control-route work). */
  def discard(): Unit = { BusDrain.drain(spark.sparkContext); reset() }

  /** Counters of the operation routed since the last call. */
  def takeOp(): HttpResult = {
    BusDrain.drain(spark.sparkContext)
    def ms(a: AtomicLong) = a.get / 1e6
    val kv = Seq(
      "route_ms" -> routeNs / 1e6,
      "append_ms" -> routeNs / 1e6 * appendShare,
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "task_cpu_ms" -> ms(cpuNs), "scan_bytes" -> scanBytes.get,
      "scan_rows" -> scanRows.get, "shuffle_bytes" -> shuffleBytes.get,
      "analysis_ms" -> ms(analysisNs), "optimization_ms" -> ms(optimizationNs),
      "planning_ms" -> ms(planningNs), "execute_ms" -> ms(executeNs))
    reset()
    routeNs = 0L
    appendShare = 0.0
    HttpResult(200, kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }
}
