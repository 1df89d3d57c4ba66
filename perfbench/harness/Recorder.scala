package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What one harness run records: named spans around every call the
  * harness makes into the program, scalar facts, streaming progress
  * reports and — when traced — Spark job/stage metrics from a listener.
  * Analysis (percentiles, attribution, self time) happens in Python over
  * the JSON this writes; the JVM side only timestamps.
  *
  * Times are epoch milliseconds with sub-millisecond precision, on the
  * same clock as the listener's job and stage timestamps.
  */
final class Recorder {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  final case class Span(id: Int, name: String, parent: Int, start: Double,
      end: Double, cpuNs: Long, gcMs: Long)
  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()

  /** Times `body` as a child of the innermost open span (main thread). */
  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val (t0, c0, g0) = (now(), os.getProcessCpuTime, gcMs())
    try body
    finally {
      stack.pop()
      val s = Span(id, name, parent, t0, now(), os.getProcessCpuTime - c0, gcMs() - g0)
      spans.synchronized(spans += s)
    }
  }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  val facts = mutable.LinkedHashMap.empty[String, Any]
  def fact(k: String, v: Any): Unit = facts.synchronized(facts(k) = v match {
    case xs: Iterable[_] => xs.toSeq.asJava
    case x => x
  })

  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  /** Runs one counted operation; a throw is recorded, not propagated. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
      None
    }
  }

  /** Streaming progress reports: (query label, progress JSON). */
  val progress = ArrayBuffer.empty[(String, String)]

  // ---- traced mode: Spark listener + streaming listener
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Map[String, Double]]
  private val taskMax = mutable.HashMap.empty[Int, (Double, Double)]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        // per stage: (max task run ms, max task shuffle-read bytes)
        val (r, b) = taskMax.getOrElse(e.stageId, (0.0, 0.0))
        taskMax(e.stageId) = (r max m.executorRunTime.toDouble,
          b max m.shuffleReadMetrics.totalBytesRead.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val (maxRun, maxRead) = taskMax.remove(i.stageId).getOrElse((0.0, 0.0))
      val base = Map[String, Double](
        "tasks" -> i.numTasks.toDouble,
        "submitted" -> i.submissionTime.getOrElse(0L).toDouble,
        "completed" -> i.completionTime.getOrElse(0L).toDouble,
        "max_task_run_ms" -> maxRun, "max_task_read_bytes" -> maxRead)
      stages(i.stageId) = if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime.toDouble,
        "cpu_ns" -> m.executorCpuTime.toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
        "spill_memory_bytes" -> m.memoryBytesSpilled.toDouble,
        "spill_disk_bytes" -> m.diskBytesSpilled.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "input_records" -> m.inputMetrics.recordsRead.toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
        "output_records" -> m.outputMetrics.recordsWritten.toDouble)
    }
  }

  /** Label for progress of unnamed queries (those a catalog key starts):
    * the key running when the report arrives. Named queries are labelled
    * by their name, so a report delivered late keeps its own label. */
  @volatile var streamLabel = ""
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val label = Option(e.progress.name).filter(_.nonEmpty).getOrElse(streamLabel)
      progress.synchronized(progress += ((label, e.progress.json)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile var traced = false
  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
    traced = true
  }
  def detach(s: SparkSession): Unit = {
    // listener events are delivered asynchronously: let the bus drain so
    // the last job's end lands before the listener goes
    Thread.sleep(200)
    s.sparkContext.removeSparkListener(sparkListener)
    s.streams.removeListener(streamListener)
    traced = false
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def toJson: String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("spans", spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start" -> s.start,
        "end" -> s.end, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs).asJava
    }.asJava)
    m.put("facts", facts.asJava)
    m.put("failures", failures.asJava)
    m.put("attempted", attempted)
    m.put("progress", progress.map { case (l, j) =>
      Map("label" -> l, "json" -> j).asJava }.asJava)
    m.put("jobs", jobs.values.map { j =>
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
        "stages" -> j.stages.asJava).asJava }.asJava)
    m.put("stages", stages.map { case (k, v) =>
      (k.toString, v.asJava) }.asJava)
    m.put("heap_peak_mb", heapPeakMb)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}
