package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `trace` is the id
  * of the root span (one per benchmark operation) every span of that
  * operation shares. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Double, end: Double)

/** Listens through Spark's public listener APIs while tracing is on.
  *
  * The harness sets two local properties before each call it times
  * (`perfbench.span`, `perfbench.trace`); a job inherits them, so each
  * job becomes a child span of the harness call that submitted it, and
  * each stage a child of its job. Counters are process-wide and read
  * as before/after deltas: operations run one after another. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(1L)
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nextId(): Long = ids.getAndIncrement()
  def nowMs(): Double = epochMs + (System.nanoTime() - nano0) / 1e6
  def record(s: Span): Unit = { spans.add(s); () }
  def allSpans: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  // ---- counters -------------------------------------------------------
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  def snapshot(): Map[String, Double] = c.synchronized(c.toMap)

  // jobs per harness span, for the build/write split
  private val jobsBySpan = mutable.Map[Long, Int]().withDefaultValue(0)
  def jobsIn(span: Long): Int = jobsBySpan.synchronized(jobsBySpan(span))

  private val openJobs = mutable.Map[Int, Tracer.OpenJob]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val jobSpanId = mutable.Map[Int, (Long, Long)]()
  @volatile private var outstandingTasks = 0L

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = prop(e.properties, "perfbench.span")
    val trace = prop(e.properties, "perfbench.trace")
    openJobs(e.jobId) = Tracer.OpenJob(span, trace, e.time.toDouble)
    jobSpanId(e.jobId) = (nextId(), trace)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    jobsBySpan.synchronized(jobsBySpan(span) += 1)
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { j =>
      val (id, trace) = jobSpanId(e.jobId)
      record(Span(id, j.span, trace, "spark.job", j.start, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    add("spark.stages", 1)
    for (job <- stageJob.get(si.stageId); (jobSpan, trace) <- jobSpanId.get(job);
         start <- si.submissionTime; end <- si.completionTime)
      record(Span(nextId(), jobSpan, trace, "spark.stage", start.toDouble, end.toDouble))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    outstandingTasks += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (outstandingTasks > 0) outstandingTasks -= 1
    add("spark.tasks", 1)
    if (e.reason != Success) add("spark.failed_tasks", 1)
    val info = e.taskInfo
    add("spark.task_wall_s", info.duration / 1e3)
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      add("spark.sched_wait_s", math.max(0L, info.launchTime - sub) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spark.spill_disk_mb", m.diskBytesSpilled / 1e6)
      add("spark.spill_mem_mb", m.memoryBytesSpilled / 1e6)
      add("tables.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("tables.input_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  // RDD blocks stored while tracing and not dropped since: (rdd, block)
  // -> MB. Unpersist drops an RDD's blocks without a per-block update,
  // so its SparkListenerUnpersistRDD drops them here.
  private val live = mutable.Map[(Int, String), Double]()
  def liveBlockMb(): Double = live.synchronized(live.values.sum)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { id =>
      val mb = (b.memSize + b.diskSize) / 1e6
      if (b.storageLevel.isValid) {
        add("ops.checkpoint_blocks", 1)
        add("ops.checkpoint_mb", mb)
        live.synchronized(live((id.rddId, id.name)) = mb)
      } else live.synchronized(live.remove((id.rddId, id.name)))
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    live.synchronized(live.filterInPlace((k, _) => k._1 != e.rddId))

  // ---- query executions (planning phases, executed plans) ------------
  private val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions.add((funcName, qe)); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Take every execution reported since the last call. Waits for one
    * named `last`: the listener bus delivers in order, so once the
    * operation's final action has been reported, its jobs and tasks
    * have been too. Then waits for straggler tasks. Without the marker
    * it gives up once the bus has been idle for `quietMs`. Returns the
    * executions and whether the marker arrived and nothing was open. */
  def drain(last: String, quietMs: Long = 300L, timeoutMs: Long = 10000L)
      : (Seq[(String, QueryExecution)], Boolean) = {
    val out = mutable.ArrayBuffer[(String, QueryExecution)]()
    val deadline = System.currentTimeMillis() + timeoutMs
    var lastEvent = System.currentTimeMillis()
    var seen = false
    def idle = synchronized(outstandingTasks == 0 && openJobs.isEmpty)
    while (!(seen && idle) && System.currentTimeMillis() < deadline &&
        !(idle && System.currentTimeMillis() - lastEvent > quietMs)) {
      var e = executions.poll()
      while (e != null) {
        out += e
        lastEvent = System.currentTimeMillis()
        if (e._1 == last) seen = true
        e = executions.poll()
      }
      Thread.sleep(2)
    }
    (out.toSeq, seen && idle)
  }
}

object Tracer {
  private final case class OpenJob(span: Long, trace: Long, start: Double)
}
