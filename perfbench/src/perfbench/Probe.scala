package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide JVM readings from the platform MX beans. */
object Jvm {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Cumulative JIT compiler time; HotSpot's compiler threads spend it
    * on CPU, so it is read as JIT CPU. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection, repeated until two readings
    * agree within 0.5 MB: Spark's ContextCleaner drops broadcasts and
    * shuffle state on its own thread once a collection has made their
    * owners unreachable, so the first reading can still hold them. */
  def heapRetainedMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = used()
    var tries = 0
    while (math.abs(cur - prev) > 0.5 && tries < 10) {
      Thread.sleep(300)
      prev = cur
      cur = used()
      tries += 1
    }
    cur
  }
}

/** One epoch-millisecond time base for harness spans (nanoTime) and
  * Spark's event times (currentTimeMillis). */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(nano: Long): Double = baseMs + (nano - baseNano) / 1e6
}

/** `sparkId` is the job id of a scheduler span, the stage id of an
  * executor span. */
final case class Span(id: Int, var parent: Int, name: String, layer: String,
    start: Double, end: Double, sparkId: Int = -1)

/** Spans of one run, held in memory and written out when the run ends.
  * Harness spans nest run -> pass -> operation -> phase; listener spans
  * (planning phases, jobs, stages) are attached to their operation by
  * time containment when the file is written. Disabled, every call is
  * a plain pass-through. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Switched off for the untraced passes of a traced run. */
  @volatile var active: Boolean = enabled

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val s = Span(id, parent, name, layer, Clock.epochMs(t0), Clock.epochMs(System.nanoTime()))
        synchronized { spans += s }
      }
    }

  def external(name: String, layer: String, start: Double, end: Double, sparkId: Int): Unit =
    if (active) synchronized {
      nextId += 1
      spans += Span(nextId, -1, name, layer, start, end, sparkId)
    }

  /** Attach each listener span to the innermost harness span holding
    * its start: a stage to its job, anything else to an operation. */
  def resolve(stageJob: Int => Int): Seq[Span] = synchronized {
    val own = spans.filter(_.parent >= 0).sortBy(_.start)
    val jobs = spans.filter(s => s.parent < 0 && s.layer == "scheduler")
    val jobById = jobs.map(j => j.sparkId -> j.id).toMap
    def holder(t: Double): Int =
      own.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption
        .map(_.id).getOrElse(0)
    spans.filter(_.parent < 0).foreach { s =>
      s.parent =
        if (s.layer == "executor") jobById.getOrElse(stageJob(s.sparkId), holder(s.start))
        else holder(s.start)
    }
    spans.toSeq.sortBy(_.id)
  }
}

/** Layer counters fed by a SparkListener and a QueryExecutionListener.
  * Registered only while a traced pass runs. */
final class LayerProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = c(k) += v

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  def stageJob(stage: Int): Int = synchronized(stageToJob.getOrElse(stage, -1))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("scheduler.jobs", 1)
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 =>
      tracer.external(s"job ${e.jobId}", "scheduler", t0.toDouble, e.time.toDouble, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add("scheduler.stages", 1)
    for (s <- i.submissionTime; f <- i.completionTime)
      tracer.external(s"stage ${i.stageId}", "executor", s.toDouble, f.toDouble, i.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    add("scheduler.tasks", 1)
    if (m != null) {
      val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      add("scheduler.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting).toDouble)
      add("scheduler.deser_ms", m.executorDeserializeTime.toDouble)
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
      add("executor.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("executor.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("executor.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      add(s"planning.${phase}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
      tracer.external(phase, "planning", p.startTimeMs.toDouble, p.endTimeMs.toDouble, -1)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every posted event reached the listeners. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Whole-process counters read around an operation or pass: JVM
  * readings always, codegen totals from Spark's CodegenMetrics
  * histograms (exact while a run compiles fewer than the reservoir's
  * 1028 classes, far above what these workloads compile). */
object Counters {
  import org.apache.spark.metrics.source.CodegenMetrics

  private def histSum(h: com.codahale.metrics.Histogram): Double = h.getSnapshot.getValues.map(_.toDouble).sum

  def read(probe: Option[LayerProbe]): Map[String, Double] =
    Map(
      "cpu_s" -> Jvm.cpuNs() / 1e9,
      "jvm.jit_cpu_s" -> Jvm.jitMs() / 1e3,
      "jvm.gc_s" -> Jvm.gcMs() / 1e3,
      "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> histSum(CodegenMetrics.METRIC_COMPILATION_TIME),
      "codegen.source_kb" -> histSum(CodegenMetrics.METRIC_SOURCE_CODE_SIZE) / 1024.0
    ) ++ probe.map(_.snapshot()).getOrElse(Map.empty)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}
