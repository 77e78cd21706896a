package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed call into a graft layer, made from the benchmark's code.
  * Times are epoch milliseconds; `parent` is -1 for a root span. `cpu` is
  * the CPU time of the whole JVM (all threads) during the span, in
  * seconds: unlike wall time it leaves out time the hypervisor gave to
  * other guests. */
final case class Span(id: Int, parent: Int, name: String, phase: String,
                      start: Double, end: Double, cpu: Double, ok: Boolean,
                      attrs: Map[String, Any])

/**
 * Keeps spans in memory and, while `tracing`, a `SparkListener` record of
 * every job, stage and task. A span opened while tracing sets the Spark job
 * group to its id for the duration of the call, so the jobs, stages and
 * tasks it causes are attributed to it; streaming jobs also carry their
 * micro-batch id (`streaming.sql.batchId`). Untraced measurement records
 * spans only: two clock reads per call, no listener work and no job-group
 * changes. The listener is registered only in a `traced` run.
 */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch milliseconds, monotonic within the run. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads, in seconds. */
  def cpu(): Double = os.getProcessCpuTime / 1e9

  /** Label stamped on spans as they close: "setup", "warmup", "measured",
    * "traced", "check" or "functions". */
  @volatile var phase: String = "setup"

  /** Whether spans set job groups and the listener records events. */
  @volatile var tracing: Boolean = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val GroupKey = "spark.jobGroup.id"

  /** Times `body` as a span. `parent` defaults to the innermost open span
    * of this thread; pass it explicitly for calls made on Spark's stream
    * threads. A span whose body throws is recorded with `ok = false`. */
  def span[T](name: String, parent: Option[Int] = None,
              attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val par = parent.getOrElse(outer.headOption.getOrElse(-1))
    stack.set(id :: outer)
    val grouped = tracing
    val prevGroup = sc.getLocalProperty(GroupKey)
    if (grouped) sc.setLocalProperty(GroupKey, id.toString)
    val t0 = now()
    val c0 = cpu()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = now()
      val c = cpu() - c0
      spans.synchronized { spans += Span(id, par, name, phase, t0, t1, c, ok, attrs) }
      stack.set(outer)
      if (grouped) sc.setLocalProperty(GroupKey, prevGroup)
    }
  }

  /** Id of the innermost open span on this thread, or -1. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageProps = mutable.Map.empty[Int, (String, String)]
  private val stageRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).orNull

  if (traced) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) jobs.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, prop(e.properties, GroupKey),
        prop(e.properties, "streaming.sql.batchId"), e.time, -1L, ok = false)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tracing) jobs.synchronized {
        stageProps(e.stageInfo.stageId) =
          (prop(e.properties, GroupKey), prop(e.properties, "streaming.sql.batchId"))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) jobs.synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        val info = e.stageInfo
        if (stageProps.contains(info.stageId)) {
        val m = info.taskMetrics
        val (group, batch) = stageProps.getOrElse(info.stageId, (null, null))
        val times = taskTimes.remove(info.stageId).map(_.sorted).getOrElse(Nil)
        stageRecs += Map(
          "id" -> info.stageId, "group" -> group, "batch" -> batch,
          "tasks" -> info.numTasks,
          "run_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
          "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
          "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
          "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
          "task_ms" -> times)
        }
      }
  })

  /** Waits until the listener has seen every event posted so far. */
  def flush(): Unit = if (traced) org.apache.spark.perfbench.BusFlush(sc)

  /** Everything recorded, after the listener bus has drained. */
  def dump(): Map[String, Any] = {
    flush()
    val spanRecs = spans.synchronized(spans.toList).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "phase" -> s.phase, "start" -> s.start, "end" -> s.end, "cpu_s" -> s.cpu,
        "ok" -> s.ok) ++ s.attrs
    }
    jobs.synchronized {
      Map("traced" -> traced, "spans" -> spanRecs,
        "jobs" -> jobs.values.toList.map(j => Map("id" -> j.id, "group" -> j.group,
          "batch" -> j.batch, "start" -> j.start, "end" -> j.end, "ok" -> j.ok)),
        "stages" -> stageRecs.toList)
    }
  }
}

/** A Spark job as the listener saw it; times are epoch milliseconds. */
private final case class JobRec(id: Int, group: String, batch: String,
                                start: Long, var end: Long, var ok: Boolean)

/** Counts graft's `TopKPerKey` physical operators in a query's plan. */
object PlanCount extends AdaptiveSparkPlanHelper {
  def topK(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case p if p.nodeName.startsWith("TopKPerKey") => p
    }.size
}
