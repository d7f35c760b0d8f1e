package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals of the tasks that ran under one Spark job group. */
final class GroupTotals {
  var jobs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillDiskBytes = 0L
}

/** Attributes every task to the job group its job was submitted under.
  * Owned by the benchmark; attached only for traced runs.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  private def acc(group: String): GroupTotals = totals.computeIfAbsent(group, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobGroupKey)))
      .getOrElse("untraced")
    val a = acc(group)
    a.synchronized(a.jobs += 1)
    e.stageIds.foreach(s => stageGroup.put(s, group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrDefault(e.stageId, "untraced"))
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }

  def get(group: String): GroupTotals = acc(group)
}

/** Sums the plan phases (analysis, optimization, planning) of every query
  * execution that finished since the last [[take]].
  */
final class PlanPhaseListener extends QueryExecutionListener {
  private val planMs = new java.util.concurrent.atomic.AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.collect {
      case (phase, s) if phase != "parsing" => s.durationMs
    }.sum
    planMs.addAndGet(ms)
  }

  def take(): Double = planMs.getAndSet(0L) / 1e3
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spans at layer boundaries, kept in memory and written when the run ends.
  * A call made inside [[Tracer.layer]] runs under its own Spark job group,
  * so [[GroupListener]] can attribute executor work to it.
  */
final class Tracer(spark: SparkSession) {
  val groups = new GroupListener
  val plans = new PlanPhaseListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()

  attach()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(groups)
    spark.listenerManager.register(plans)
  }

  /** Run `body` as span `name` under job group `name`; returns the result
    * and the span's wall seconds. Listener events are drained before it
    * returns, so the group's totals are complete.
    */
  def layer[T](name: String)(body: => T): (T, Double) = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, 0L, 0L)
    stack.push(id)
    val sc = spark.sparkContext
    val outerGroup = Option(sc.getLocalProperty(Trace.JobGroupKey))
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      spans(id) = Span(id, name, parent, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack.pop()
      outerGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(groups)
    spark.listenerManager.unregister(plans)
  }

  /** Spans as JSON lines; times are nanoseconds from the first span. */
  def spansJson: Seq[String] = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0}}"""
    }
  }

  def spanList: Seq[Span] = spans.toSeq
}

object Trace {
  /** The local property Spark stores a job group under. */
  val JobGroupKey = "spark.jobGroup.id"

  /** Bytes Spark's block manager holds for persisted data, memory plus disk. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
