package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds with
  * sub-millisecond precision; `parent` is 0 for a pass span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double])

/** Span and counter recording for the traced run.
  *
  * Spans form the chain pass → query → module call → action → job →
  * stage. Driver-side spans (pass, query, module call, action) are opened
  * and closed by the harness around its own calls; job and stage spans
  * come from a `SparkListener`, linked to the action that launched them
  * through the `perfbench.action` local property. Counters are summed at
  * the same boundaries, per pass, and only while `counting` is on, so the
  * harness's own untimed output checks are never counted. */
final class Tracer {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Map[Long, (Long, String, String, Double)]()

  def begin(kind: String, name: String, parent: Long): Long = synchronized {
    val id = ids.incrementAndGet()
    open(id) = (parent, kind, name, nowMs)
    id
  }
  def end(id: Long, attrs: Map[String, Double] = Map.empty): Unit =
    synchronized {
      open.remove(id).foreach { case (parent, kind, name, start) =>
        spans += Span(id, parent, kind, name, start, nowMs, attrs)
      }
    }
  def allSpans: Seq[Span] = synchronized(spans.toList)

  // ---- per-pass counters ----------------------------------------------------

  @volatile var counting = false
  private var counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  def add(k: String, v: Double): Unit = synchronized(counters(k) += v)
  def max(k: String, v: Double): Unit =
    synchronized(counters(k) = math.max(counters(k), v))

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val executionModule = mutable.Map[Long, String]()
  private val stageSubmit = mutable.Map[Int, Double]()
  private val stageTaskTimes = mutable.Map[Int, mutable.ArrayBuffer[Double]]()

  /** Resets the counters and returns the previous pass's. */
  def takeCounters(): (Map[String, Double], Seq[(Double, Double)]) =
    synchronized {
      val c = counters.toMap
      val iv = jobIntervals.toList
      counters = mutable.Map[String, Double]().withDefaultValue(0.0)
      jobIntervals.clear()
      (c, iv)
    }

  // ---- JVM sampling -----------------------------------------------------------

  @volatile private var sampling = false
  private val sampler = new Thread(() => {
    val mem = ManagementFactory.getMemoryMXBean
    while (true) {
      if (sampling)
        max("jvm.heap_committed_mb",
          mem.getHeapMemoryUsage.getCommitted / MiB)
      Thread.sleep(20)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()
  def setSampling(on: Boolean): Unit = sampling = on

  // ---- Spark listeners ------------------------------------------------------

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val parent = Option(e.properties)
          .flatMap(p => Option(p.getProperty(ActionProperty)))
        if (counting && parent.isDefined) {
          // jobs that adaptive execution submits from its own threads carry
          // no program frames in their call site; their SQL execution's call
          // site, taken on the calling thread, does
          val site = e.stageInfos.headOption
          val module = Option(e.properties.getProperty(ExecutionIdProperty))
            .flatMap(id => executionModule.get(id.toLong))
            .filter(_ != OtherModule)
            .getOrElse(site.map(s => moduleOf(s.details)).getOrElse(OtherModule))
          val span = ids.incrementAndGet()
          jobs(e.jobId) = JobRec(span, parent.get.toLong, module,
            s"job ${e.jobId}: ${site.map(_.name).getOrElse("")} [$module]",
            e.time.toDouble)
          e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
          counters("sched.jobs") += 1
          counters(s"op.$module.jobs") += 1
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        executionModule(x.executionId) = moduleOf(x.details)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.remove(e.jobId).foreach { j =>
          val end = e.time.toDouble
          spans += Span(j.span, j.parent, "job", j.name, j.startMs, end,
            Map("job_id" -> e.jobId.toDouble))
          jobIntervals += ((j.startMs, end))
          counters(s"op.${j.module}.job_s") += (end - j.startMs) / 1e3
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val s = e.stageInfo
        if (stageJob.contains(s.stageId))
          stageSubmit(s.stageId) =
            s.submissionTime.map(_.toDouble).getOrElse(nowMs)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageId).foreach { jobId =>
          val info = e.taskInfo
          counters("sched.tasks") += 1
          if (e.reason != Success) counters("sched.tasks_failed") += 1
          stageSubmit.get(e.stageId).foreach { sub =>
            counters("sched.task_wait_s") +=
              math.max(0.0, info.launchTime - sub) / 1e3
          }
          stageTaskTimes.getOrElseUpdate(e.stageId,
            mutable.ArrayBuffer[Double]()) += info.duration.toDouble
          val m = e.taskMetrics
          if (m != null) {
            val runS = m.executorRunTime / 1e3
            counters("sched.task_s") += runS
            counters("sched.task_cpu_s") += m.executorCpuTime / 1e9
            jobs.get(jobId).foreach(j => counters(s"op.${j.module}.task_s") += runS)
            counters("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / MiB
            counters("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / MiB
            counters("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
            counters("spill.mb") += m.diskBytesSpilled / MiB
            counters("io.input_mb") += m.inputMetrics.bytesRead / MiB
            counters("io.input_records") += m.inputMetrics.recordsRead
            counters("io.output_mb") += m.outputMetrics.bytesWritten / MiB
            counters("storage.peak_exec_mb") = math.max(
              counters("storage.peak_exec_mb"), m.peakExecutionMemory / MiB)
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val s = e.stageInfo
        stageJob.remove(s.stageId).foreach { jobId =>
          counters("sched.stages") += 1
          if (s.attemptNumber() > 0) counters("sched.stages_retried") += 1
          val times = stageTaskTimes.remove(s.stageId)
            .map(_.sorted.toIndexedSeq).getOrElse(IndexedSeq.empty)
          if (times.size >= 2) {
            val med = times(times.size / 2)
            if (med > 0) counters("sched.stage_skew") =
              math.max(counters("sched.stage_skew"), times.last / med)
          }
          val submit = stageSubmit.remove(s.stageId)
            .orElse(s.submissionTime.map(_.toDouble)).getOrElse(nowMs)
          val done = s.completionTime.map(_.toDouble).getOrElse(nowMs)
          val parent = jobs.get(jobId).map(_.span).getOrElse(0L)
          spans += Span(ids.incrementAndGet(), parent, "stage",
            s"stage ${s.stageId}.${s.attemptNumber()}", submit, done,
            Map("tasks" -> s.numTasks.toDouble))
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit = if (counting) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      add("sql.executions", 1)
      add("sql.plan_s", ms / 1e3)
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = planned(qe)
  }
}

object Tracer {
  val ActionProperty = "perfbench.action"
  private final case class JobRec(span: Long, parent: Long, module: String,
                                  name: String, startMs: Double)
  private val ExecutionIdProperty = "spark.sql.execution.id"
  val MiB: Double = 1024.0 * 1024.0
  val Modules: Seq[String] = Seq("BibSources", "Excel", "Enrich", "Dedup",
    "Similarity", "Graph", "Recommend", "Classify", "Warehouse")
  val OtherModule = "other"

  private val frame =
    """graft\.(?:operators|sources)\.([A-Za-z0-9_]+?)\$?[.$]""".r

  /** The outermost `graft.operators` / `graft.sources` frame in a long
    * call site (innermost frame first, as in a stack trace). */
  def moduleOf(details: String): String =
    details.split("\n").reverseIterator
      .flatMap(l => frame.findFirstMatchIn(l.trim).map(_.group(1)))
      .find(_ => true) match {
      case Some(m) if Modules.contains(m) => m
      case _ => OtherModule
    }

  /** JVM-wide totals read at pass boundaries. */
  final case class JvmSnapshot(gcS: Double, gcCount: Double, jitS: Double,
                               classes: Double, codegenCount: Double,
                               codegenMs: Double)
  def jvmSnapshot(): JvmSnapshot = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount.toDouble
    JvmSnapshot(
      gcs.map(_.getCollectionTime.max(0L)).sum / 1e3,
      gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      jit,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
      n, n * h.getSnapshot.getMean)
  }

  /** Seconds of `[fromMs, toMs]` not covered by any interval. */
  def uncovered(fromMs: Double, toMs: Double,
                intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = fromMs
    intervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0.0, (toMs - fromMs) - covered) / 1e3
  }

  def storageAfterPass(sc: SparkContext): (Double, Double) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / MiB, infos.length.toDouble)
  }
}
