package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One time axis for everything a run records: milliseconds since the
  * run started. Spark listener events carry epoch milliseconds;
  * [[fromEpochMs]] maps them onto the same axis. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def fromNanos(t: Long): Double = (t - nano0) / 1e6
  def fromEpochMs(t: Long): Double = (t - epoch0).toDouble
}

/** Raw record of one run: set-up times, latency samples, counters,
  * correctness outcome and (traced runs) spans, jobs and stream
  * batches. run.py turns it into metrics. */
final class Record {
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** op type → (start ms on the run clock, latency ms) */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
  val counters = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  var measureStartMs = 0.0
  var measureEndMs = 0.0
  /** CPU time of the whole JVM (all threads) over the measured window. */
  var cpuMs = 0.0
  private var cpu0Ns = 0L
  var ops = 0L
  var heapLiveMb = 0.0
  var spans: Seq[Tracer.Span] = Seq.empty
  var jobs: Seq[JobListener.Job] = Seq.empty
  var batches: Map[String, Seq[JobListener.Batch]] = Map.empty

  private def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def startMeasuring(nowMs: Double): Unit = { measureStartMs = nowMs; cpu0Ns = processCpuNs }
  def endMeasuring(nowMs: Double): Unit = { measureEndMs = nowMs; cpuMs = (processCpuNs - cpu0Ns) / 1e6 }

  def sample(op: String, startMs: Double, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((startMs, ms))
  }

  /** Count one checked outcome; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    synchronized { if (failures.size < 20) failures += what }
  }

  def toMap: Map[String, Any] = Map(
    "setup_s" -> setupS.toSeq,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq },
    "counters" -> counters,
    "failures" -> failures.toSeq,
    "attempted" -> attempted.get(),
    "failed" -> failed.get(),
    "measure_start_ms" -> measureStartMs,
    "measure_end_ms" -> measureEndMs,
    "cpu_ms" -> cpuMs,
    "ops" -> ops,
    "heap_live_mb" -> heapLiveMb,
    "spans" -> spans.map(s => Seq(s.id, s.op, s.name, s.parent, s.start, s.end)),
    "jobs" -> jobs.map(j => Seq(j.id, j.group, j.start, j.end, j.stages, j.tasks,
      j.runMs, j.cpuNs / 1e6, j.gcMs, j.shuffleRead, j.shuffleWrite, j.spill)),
    "batches" -> batches.map { case (k, v) => k -> v.map(b => Seq(b.end, b.durMs, b.inputRows, b.stateRows)) })
}

object Tracer {
  /** A call into one layer: `op` is the id of the root span of the
    * operation it belongs to; `parent` is -1 for a root. */
  final case class Span(id: Int, op: Int, name: String, parent: Int, start: Double, end: Double)
  val GroupPrefix = "pb-"
}

/** Spans around calls into the engine's public API. Disabled, or while
  * not [[active]], `span` is just the call. Otherwise each span sets a
  * Spark job group named after its id on the calling thread, so
  * [[JobListener]] can bill the jobs the call runs to it; spans stay in
  * memory until the run ends. A traced run switches tracing on for every
  * other operation, so traced and untraced operations of the same run
  * give the tracing overhead. */
final class Tracer(sc: SparkContext, clock: Clock, val enabled: Boolean) {
  @volatile private var on = true
  def active: Boolean = enabled && on
  /** Trace the operations that follow (or not). */
  def setActive(b: Boolean): Unit = on = b
  /** Sample name for an operation's latency: `kind@t` / `kind@u` when
    * the run is traced, so the overhead can be taken between them. */
  def tagged(kind: String): String = kind + (if (active) "@t" else "@u")

  import Tracer._
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  // (span id, name, op id) of the open spans on this thread, innermost first
  private val open = new ThreadLocal[List[(Int, String, Int)]] {
    override def initialValue(): List[(Int, String, Int)] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val outer = open.get
      val (parent, op) = outer.headOption.map(o => (o._1, o._3)).getOrElse((-1, id))
      open.set((id, name, op) :: outer)
      sc.setJobGroup(GroupPrefix + id, name)
      val start = clock.nowMs
      try body
      finally {
        val end = clock.nowMs
        open.set(outer)
        outer.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(GroupPrefix + pid, pname)
          case None => sc.clearJobGroup()
        }
        done.add(Span(id, op, name, parent, start, end))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object JobListener {
  final class Job(val id: Int, var group: String, val start: Double) {
    var end: Double = Double.NaN
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  /** One streaming micro-batch: end time, trigger duration, input rows,
    * rows held in state. */
  final case class Batch(end: Double, durMs: Long, inputRows: Long, stateRows: Long)
}

/** Bills Spark jobs, stages, tasks, executor time, GC, shuffle and
  * spill to the job group each job ran under, and records streaming
  * query progress. Streaming queries are labelled in the order they
  * start (see [[label]]). Listener callbacks arrive on Spark's listener
  * bus thread; read the results only after [[drain]]. */
final class JobListener(clock: Clock) extends SparkListener {
  import JobListener._
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val runIds = new ConcurrentLinkedQueue[String]()
  private val labels = new ConcurrentHashMap[String, String]()
  private val batches = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Batch]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, group, clock.fromEpochMs(e.time))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = clock.fromEpochMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent => runIds.add(s.runId.toString)
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val dur = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = pr.stateOperators.map(_.numRowsTotal).sum
      val key = labels.getOrDefault(pr.runId.toString, pr.runId.toString)
      batches.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[Batch]())
        .add(Batch(clock.nowMs, dur, pr.numInputRows, state))
    case _ => ()
  }

  /** Streaming queries started so far (their start events seen). */
  def queriesStarted: Int = runIds.size

  /** Name the `i`-th started streaming query; its jobs and batches are
    * billed to `name`. Call after [[queriesStarted]] exceeds `i`. */
  def label(i: Int, name: String): Unit = {
    val rid = runIds.asScala.toSeq(i)
    labels.put(rid, name)
    Option(batches.remove(rid)).foreach(q =>
      batches.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Batch]()).addAll(q))
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Every job, its group replaced by the query's name for streaming jobs. */
  def jobsSnapshot: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    j.group = labels.getOrDefault(j.group, j.group)
    j
  }

  def batchesSnapshot: Map[String, Seq[Batch]] =
    batches.asScala.map { case (k, q) => k -> q.asScala.toSeq }.toMap
}
