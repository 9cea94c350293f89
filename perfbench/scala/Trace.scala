package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced call into a layer: `name` is the layer metric prefix
  * (`cdc.lww`, `lake.merge`, ...), `parent` the id of the enclosing span
  * (0 = none). Times are epoch ms (to line up with Spark's job-start
  * times) and monotonic ns (for durations).
  */
final case class Span(id: Long, name: String, parent: Long,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task-metric totals of the Spark work charged to one span or batch. */
final case class Work(var cpuNs: Long = 0L, var bytesRead: Long = 0L,
                      var bytesWritten: Long = 0L, var recordsWritten: Long = 0L,
                      var shuffleWritten: Long = 0L, var jobs: Int = 0) {
  def add(o: Work): Unit = {
    cpuNs += o.cpuNs; bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    recordsWritten += o.recordsWritten; shuffleWritten += o.shuffleWritten; jobs += o.jobs
  }
}

/** Measures from outside the engine: spans around public calls, kept in
  * memory until the run ends, plus the benchmark's own Spark listeners.
  *
  * Each span sets a job group on the calling thread, so the jobs the call
  * submits carry the span id. The engine also submits jobs from pooled
  * threads that do not inherit the group; those are charged to the
  * innermost span open when the job started. Spans are opened from one
  * thread at a time, so that fallback is exact.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private val groupPrefix = "perfbench-span-"

  private final case class Job(id: Int, timeMs: Long, group: Option[String], stages: Seq[Int])
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val stageWork = new java.util.concurrent.ConcurrentHashMap[Int, Work]()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger(0)
  private val scans = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryExecution, (Long, Long)]())

  /** Micro-batch progress seen by the streaming listener. */
  final case class Progress(batchId: Long, startMs: Long, triggerMs: Long, inputRows: Long)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.add(Job(e.jobId, e.time, g, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = stageWork.computeIfAbsent(e.stageId, _ => Work())
        w.synchronized {
          w.cpuNs += m.executorCpuTime
          w.bytesRead += m.inputMetrics.bytesRead
          w.bytesWritten += m.outputMetrics.bytesWritten
          w.recordsWritten += m.outputMetrics.recordsWritten
          w.shuffleWritten += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        progress.add(Progress(p.batchId, start, trig, p.numInputRows))
      }
    }
  }

  /** Scan-node metrics (files read, rows output) of every finished query. */
  private val execListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var files = 0L
      var rows = 0L
      collect(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics
        case s: BatchScanExec => s.metrics
      }.foreach { m =>
        m.get("numFiles").foreach(files += _.value)
        m.get("numOutputRows").foreach(rows += _.value)
      }
      scans.put(qe, (files, rows))
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    spark.listenerManager.register(execListener)
  }

  def stop(): Unit = {
    settle()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    spark.listenerManager.unregister(execListener)
  }

  /** Time `f` as a span named `name`, nested under the open span. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(groupPrefix + id, name, interruptOnCancel = false)
    stack = id :: stack
    val (ms0, ns0) = (System.currentTimeMillis, System.nanoTime)
    try f
    finally {
      val (ms1, ns1) = (System.currentTimeMillis, System.nanoTime)
      stack = stack.tail
      spans += Span(id, name, parent, ms0, ms1, ns0, ns1)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  /** Scan metrics of a finished query, waiting briefly for the
    * asynchronous listener to deliver them.
    */
  def scanOf(qe: QueryExecution): (Long, Long) = {
    val deadline = System.currentTimeMillis + 5000L
    while (!scans.containsKey(qe) && System.currentTimeMillis < deadline) Thread.sleep(2)
    Option(scans.remove(qe)).getOrElse((0L, 0L))
  }

  /** Wait until the listener bus has delivered the end of every started job. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis + 10000L
    var last = -1
    while (System.currentTimeMillis < deadline &&
           (jobsEnded.get < jobs.size || jobs.size != last)) {
      last = jobs.size
      Thread.sleep(100)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  private def jobWork(j: Job): Work = {
    val w = Work(jobs = 1)
    j.stages.foreach(s => Option(stageWork.remove(s)).foreach(w.add))
    w
  }

  /** Spark work per span id: a job goes to the span its group names, else
    * to the innermost span whose interval holds the job's start time.
    */
  def workBySpan(): Map[Long, Work] = {
    settle()
    val out = mutable.HashMap.empty[Long, Work]
    val byStart = spans.sortBy(s => (s.startMs, -s.endMs)).toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def holds(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    jobs.toArray(Array.empty[Job]).sortBy(_.id).foreach { j =>
      // a pooled thread keeps the group it inherited when it was created,
      // so a tag only counts while its span is still open
      val tagged = j.group.filter(_.startsWith(groupPrefix))
        .map(_.stripPrefix(groupPrefix).toLong)
        .filter(id => byId.get(id).exists(holds(_, j.timeMs)))
      val owner = tagged.orElse(byStart.filter(holds(_, j.timeMs)).lastOption.map(_.id))
      owner.foreach(id => out.getOrElseUpdate(id, Work()).add(jobWork(j)))
    }
    out.toMap
  }

  /** Jobs started inside [fromMs, toMs] (streaming batches, untagged). */
  def jobsBetween(fromMs: Long, toMs: Long): Int =
    jobs.toArray(Array.empty[Job]).count(j => j.timeMs >= fromMs && j.timeMs <= toMs)

  /** Self time of each span: its duration minus the union of its children. */
  def selfMs(): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }
}
