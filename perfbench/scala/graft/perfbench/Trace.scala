package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}


import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: name, start, end (System.nanoTime, which is
  * CLOCK_MONOTONIC on Linux and so comparable with the load generator's
  * clock), parent span, and a tag (the query index a request carried).
  * Spans are kept only when tracing is on and are written out once, when
  * the run ends.
  */
object Trace {
  @volatile var on = false

  final case class Span(id: Long, parent: Long, name: String, tag: Int, start: Long, end: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, tag: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, tag, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.forEach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","tag":${s.tag},""" +
        s""""start":${s.start},"end":${s.end}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark counters for the traced run, from listeners the benchmark
  * registers itself. `reset()` opens the counted window.
  */
final class SparkCounters extends SparkListener {
  // jobs run by the benchmark's own maintenance thread carry this group
  // and are not counted as request jobs
  val MaintenanceGroup = "perfbench-maintenance"

  val jobs, maintenanceJobs, tasks, runMs, cpuNs, gcMs = new LongAdder
  val shuffleRead, shuffleWrite, spill = new LongAdder
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  def reset(): Unit = {
    Seq(jobs, maintenanceJobs, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill)
      .foreach(_.reset())
    stageTaskMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == MaintenanceGroup) maintenanceJobs.increment() else jobs.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.increment()
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
    }
  }

  /** Worst stage's longest task over its median task (stages of ≥ 2 tasks). */
  def taskSkew: Double = {
    import scala.jdk.CollectionConverters._
    val ratios = stageTaskMs.values().asScala.map(_.asScala.toArray.sorted).collect {
      case ts if ts.length >= 2 => ts.last.toDouble / math.max(1L, ts(ts.length / 2))
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}

/** Planning time and scanned rows per query, from QueryExecution. */
final class QueryCounters extends QueryExecutionListener {
  val planMs, collects, collectScanRows = new LongAdder

  def reset(): Unit = Seq(planMs, collects, collectScanRows).foreach(_.reset())

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
    // a served request collects its top-k; counts and writes are set-up,
    // refresh or append work and are not request scans
    if (funcName == "collect") {
      collects.increment()
      collectScanRows.add(leaves(qe.executedPlan)
        .filter(l => l.nodeName.contains("Scan"))
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of the ingest stream. */
final class StreamCounters extends StreamingQueryListener {
  val batches = new LongAdder
  private val batchMs = new ConcurrentLinkedQueue[Long]()
  private val rowsPerS = new ConcurrentLinkedQueue[Double]()

  def reset(): Unit = { batches.reset(); batchMs.clear(); rowsPerS.clear() }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) {
      batches.increment()
      Option(e.progress.durationMs.get("triggerExecution")).foreach(v => batchMs.add(v.longValue()))
      rowsPerS.add(e.progress.processedRowsPerSecond)
    }

  private def median[T](xs: Seq[T])(implicit n: Numeric[T]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; n.toDouble(s(s.length / 2)) }

  def medianBatchMs: Double = { import scala.jdk.CollectionConverters._; median(batchMs.asScala.toSeq) }
  def medianRowsPerS: Double = { import scala.jdk.CollectionConverters._; median(rowsPerS.asScala.toSeq) }
}

/** Process-level readings: CPU, GC, peak RSS, host steal ticks. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def statusKb(key: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0

  /** (steal, all) ticks of the aggregate cpu line of /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  /** Milliseconds from JVM start to now. */
  def uptimeMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
}

/** Minimal JSON writer for the flat records the benchmark reports. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
