package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `req` groups the spans of one
  * benchmark request; `parent` is the enclosing span on the same thread. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, endNs: Long)

/** Span recorder. Disabled, `span` just runs its body, so the untraced run
  * pays nothing for the call sites. Spans stay in memory until [[spans]]. */
final class Tracer(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, stack.headOption.getOrElse(0L), name, req, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Records a span whose name is known only after it ended. */
  def record(name: String, req: Long, startNs: Long, endNs: Long): Unit =
    if (enabled)
      done.add(Span(ids.incrementAndGet(), open.get().headOption.getOrElse(0L), name, req, startNs, endNs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

/** Executor-side totals from the listener bus: jobs, stages, tasks and the
  * task metrics Spark reports per task. Times in ms, bytes in bytes. */
final class ExecListener extends SparkListener {
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[Int, mutable.Buffer[Long]]
  /** Per multi-task stage: slowest task / median task. */
  val skews: mutable.Buffer[Double] = mutable.Buffer.empty

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
    stageTasks.remove(e.stageInfo.stageId).filter(_.size >= 4).foreach { d =>
      val s = d.sorted
      val median = s(s.size / 2)
      if (median > 0) skews += s.last.toDouble / median
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    add("tasks", 1)
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("task_gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime).toDouble)
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.Buffer.empty) += info.duration
  }
}

/** Catalyst phase times (`qe.tracker.phases`) and physical operator counts
  * for every action that succeeds. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def count(p: SparkPlan => Boolean) =
      collectWithSubqueries(qe.executedPlan) { case n if p(n) => n }.size.toDouble
    val counts = Seq(
      "exchanges" -> count(_.isInstanceOf[ShuffleExchangeLike]),
      "sorts" -> count(_.isInstanceOf[SortExec]),
      "windows" -> count(_.isInstanceOf[WindowExec]))
    synchronized {
      c("actions") += 1
      for (p <- Seq("analysis", "optimization", "planning"))
        c(s"${p}_ms") += phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      counts.foreach { case (k, v) => c(k) += v }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Collector activity and the old generation's occupancy after each GC. */
final class GcWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile var oldPeakBytes = 0L
  private var base = (0L, 0L)

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit = {
      import com.sun.management.GarbageCollectionNotificationInfo
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old") || pool.contains("Tenured"))
            oldPeakBytes = math.max(oldPeakBytes, u.getUsed)
        }
      }
    }
  }
  beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
    .addNotificationListener(listener, null, null))

  private def totals = (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)

  /** Start of the timed region: GC counts restart here. The old
    * generation's peak covers the whole run, set-up included. */
  def reset(): Unit = base = totals

  /** (collections, collector ms) since [[reset]]. */
  def delta: (Long, Long) = { val (n, t) = totals; (n - base._1, t - base._2) }
}

/** The traced run's instruments, registered only when tracing. */
final class Instruments(spark: SparkSession, val tracer: Tracer) {
  val exec = new ExecListener
  val plans = new PlanListener
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (tracer.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def reset(): Unit = {
    drain()
    exec.synchronized { exec.c.clear(); exec.skews.clear() }
    plans.synchronized(plans.c.clear())
  }
}
