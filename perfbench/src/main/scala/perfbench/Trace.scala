package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds, so spans recorded by
  * the load generator and intervals reported by Spark's listeners share
  * one clock. `req` ties together every span of one operation.
  */
final case class Span(id: Long, parent: Long, req: String, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Off by default: the untraced phase of a run
  * records nothing. Spans are written out once, when the run ends.
  */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1L)
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def now(): Long = epochNs0 + (System.nanoTime() - nano0)

  /** Run `body` inside a span named `name`; its parent is the innermost
    * span open on this thread.
    */
  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = current.get()
      current.set(id)
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, now()))
        current.set(parent)
      }
    }

  /** Record an interval observed from outside the calling thread (a
    * sampled job state, a poll); callers record only for traced
    * operations.
    */
  def record(name: String, req: String, start: Long, end: Long): Unit =
    spans.add(Span(ids.getAndIncrement(), 0L, req, name, start, end))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(file: File): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":"${s.req}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

/** Spark activity of one attribution bucket: a job group for MR jobs, or
  * everything between two drains of the listener bus for the serial query
  * suites (streaming micro-batches run under their own groups).
  */
final class SparkStats {
  var jobs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var criticalPathNs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var analysisNs = 0L
  var optimizeNs = 0L
  var planningNs = 0L
  var batches = 0L
  var emptyBatches = 0L
  var triggerMs = 0L
  var streamPlanningMs = 0L
  var addBatchMs = 0L
  var commitMs = 0L
  var stateRowsMax = 0L

  def add(o: SparkStats): Unit = {
    jobs += o.jobs; jobIntervals ++= o.jobIntervals; stages += o.stages
    singleTaskStages += o.singleTaskStages; tasks += o.tasks
    criticalPathNs += o.criticalPathNs; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    analysisNs += o.analysisNs; optimizeNs += o.optimizeNs; planningNs += o.planningNs
    batches += o.batches; emptyBatches += o.emptyBatches; triggerMs += o.triggerMs
    streamPlanningMs += o.streamPlanningMs; addBatchMs += o.addBatchMs
    commitMs += o.commitMs; stateRowsMax = math.max(stateRowsMax, o.stateRowsMax)
  }

  /** Time inside [from, to) covered by at least one Spark job. */
  def jobCoverNs(from: Long, to: Long): Long = Stats.unionNs(
    jobIntervals.iterator.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq)
}

/** The listeners behind the per-layer numbers: scheduler and task metrics
  * (SparkListener), Catalyst phases (QueryExecutionListener) and
  * micro-batch progress (StreamingQueryListener). Registered only for the
  * traced phase. Scheduler events are bucketed by job group; Catalyst and
  * streaming events, which carry no group, go to the "" bucket.
  */
final class Listeners(spark: SparkSession) {
  private val groups = mutable.HashMap.empty[String, SparkStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageMaxTaskNs = mutable.HashMap.empty[Int, Long]
  private val jobStarts = mutable.HashMap.empty[Int, (String, Long)]

  private def bucket(g: String): SparkStats = groups.getOrElseUpdate(g, new SparkStats)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Listeners.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(stageGroup(_) = g)
      jobStarts(e.jobId) = (g, e.time * 1000000L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Listeners.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (g, start) =>
        val b = bucket(g)
        b.jobs += 1
        b.jobIntervals += ((start, e.time * 1000000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Listeners.this.synchronized {
      val b = bucket(stageGroup.getOrElse(e.stageId, ""))
      b.tasks += 1
      stageMaxTaskNs(e.stageId) = math.max(stageMaxTaskNs.getOrElse(e.stageId, 0L),
        e.taskInfo.duration * 1000000L)
      Option(e.taskMetrics).foreach { m =>
        b.cpuNs += m.executorCpuTime
        b.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        b.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        b.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        b.inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Listeners.this.synchronized {
        val id = e.stageInfo.stageId
        val b = bucket(stageGroup.getOrElse(id, ""))
        b.stages += 1
        if (e.stageInfo.numTasks == 1) b.singleTaskStages += 1
        b.criticalPathNs += stageMaxTaskNs.remove(id).getOrElse(0L)
      }
  }

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Listeners.this.synchronized {
      val p = qe.tracker.phases
      def ns(k: String) = p.get(k).map(_.durationMs * 1000000L).getOrElse(0L)
      val b = bucket("")
      b.analysisNs += ns("analysis")
      b.optimizeNs += ns("optimization")
      b.planningNs += ns("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streaming = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Listeners.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val b = bucket("")
      b.batches += 1
      if (p.numInputRows == 0) b.emptyBatches += 1
      b.triggerMs += d.getOrElse("triggerExecution", 0L)
      b.streamPlanningMs += d.getOrElse("queryPlanning", 0L)
      b.addBatchMs += d.getOrElse("addBatch", 0L)
      b.commitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
      b.stateRowsMax = math.max(b.stateRowsMax,
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Remove and return the stats of one group. */
  def take(group: String): SparkStats = synchronized(groups.remove(group).getOrElse(new SparkStats))

  /** Remove and return everything recorded so far, all groups merged. */
  def takeAll(): SparkStats = synchronized {
    val all = new SparkStats
    groups.values.foreach(all.add)
    groups.clear()
    all
  }
}

/** JVM-wide and host counters read at phase boundaries. */
object Jvm {
  /** (all, steal) CPU jiffies of the host so far; zeros off Linux. */
  def hostCpu: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val t = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
      (t.sum, if (t.length > 7) t(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
