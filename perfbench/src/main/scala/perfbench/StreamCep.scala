package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.annotation.meta.field
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.annotations.{DistributedId, Id, NoCheck}
import graft.cep.EventProcessor
import graft.core.{GraftSession, TypedTable}
import graft.streaming.StreamHandle

/** `Event` stream table (FIXTURES §3); `ts` carries the row's due time. */
final case class Event(@(Id @field) @(DistributedId @field) @(NoCheck @field) eventId: Long,
                       eventType: Int, groupValue: String, eventValue: Long,
                       empName: String, descript: String, ts: Timestamp)

/** When the PROCESS STREAM callback first saw each event, and how many
  * times. Callbacks run in executor tasks, which share this JVM in
  * local mode. */
object TaskSink {
  val seenNs = new ConcurrentHashMap[Long, java.lang.Long]()
  val calls = new ConcurrentHashMap[Long, AtomicLong]()
  def reset(): Unit = { seenNs.clear(); calls.clear() }
}

/** Consumes `eventType = 2` rows of `tasks` and deletes them. */
final class TaskProcessor extends EventProcessor {
  def process(row: Row): Boolean = {
    val id = row.getAs[Long]("eeventId")
    TaskSink.seenNs.putIfAbsent(id, System.nanoTime())
    TaskSink.calls.computeIfAbsent(id, _ => new AtomicLong()).incrementAndGet()
    true
  }
  def delete(): Boolean = true
}

object StreamCep {
  /** Open loop: one tick of `TickRows` events every `TickMs`. */
  val TickMs = 4000L
  val TickRows = 200
  val BacklogRows = 500
  val WarmupMs = 4000L
  val Window = 100
  val DrainTimeoutMs = 30000L

  val SelectSql = "SELECT STREAM e.eventId id, e.eventValue v FROM events e WHERE e.eventType = 1"
  val WindowSql = "SELECT STREAM e.eventId id, count(e.eventId) c, sum(e.eventValue) s " +
    s"FROM events e WINDOW BY e.eventId INTERVAL = $Window"
  val ProcessSql = "PROCESS STREAM e.eventId FROM tasks e WITHIN 'perfbench.TaskProcessor' " +
    "WHERE e.eventType = 2"

  /** The id of the newest event in a window result: the window query
    * projects the id of the row whose arrival closed the window. */
  def newestEventId(windowRow: Row): Long = windowRow.getLong(0)
}

/** The same `Event` ticks go to `events` (append-only, read by a
  * filtering `SELECT STREAM` and a count-window `SELECT STREAM`) and to
  * `tasks` (consumed as a queue by `PROCESS STREAM … WITHIN` with
  * delete). Latency runs from each row's due time to when the consumer
  * thread polls it, or the callback sees it. */
final class StreamCep extends Workload {
  import StreamCep._

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    import spark.implicits._
    TaskSink.reset()
    val gs = new GraftSession(spark)
    val gen = new scala.util.Random(seed)
    // every generated event, in id order: (id, type, value, due ns)
    val ids = mutable.ArrayBuffer.empty[Long]
    val types = mutable.ArrayBuffer.empty[Int]
    val values = mutable.ArrayBuffer.empty[Long]
    val dueNs = new ConcurrentHashMap[Long, java.lang.Long]()
    def makeRows(n: Int, due: Long, dueEpochMs: Long): Seq[Event] = (0 until n).map { _ =>
      val id = ids.size + 1L
      val r = gen.nextInt(4)
      val t = if (r < 2) 1 else if (r == 2) 2 else 3
      val v = 1L + gen.nextInt(1000)
      ids += id; types += t; values += v
      dueNs.put(id, due)
      Event(id, t, s"g${id % 7}", v, s"emp${gen.nextInt(100)}", s"tick event $id",
        new Timestamp(dueEpochMs))
    }

    // ---- set-up: fresh stores holding the same backlog
    val backlogAt = System.nanoTime()
    val backlog = makeRows(BacklogRows, backlogAt, System.currentTimeMillis())
    var events: TypedTable[Event] = null
    var tasks: TypedTable[Event] = null
    for (_ <- 0 until setupReps) timeSetup {
      events = gs.registerEntity[Event]("events", freshDir("events_"))
      tasks = gs.registerEntity[Event]("tasks", freshDir("tasks_"))
      events.persist(backlog)
      tasks.persist(backlog)
    }
    val tasksVersionsStart = tasks.store.versions.size

    // ---- consumers, started in a fixed order so a traced run can name them
    def started(i: Int): Unit = listener.foreach { l =>
      val t0 = System.nanoTime()
      while (l.queriesStarted <= i && System.nanoTime() - t0 < 30e9) Thread.sleep(5)
      l.label(i, Seq("stream.select", "stream.window", "cep")(i))
    }
    val select = gs.executeStream(SelectSql); started(0)
    val window = gs.executeStream(WindowSql); started(1)
    val process = gs.executeStreamProcess(ProcessSql, new TaskProcessor,
      store = Some(tasks.store), idCol = Some("eventId")); started(2)
    Log.note("streams started")

    val polledSelect = new ConcurrentHashMap[Long, AtomicLong]()
    val selectSeenNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val windowRows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val stop = new AtomicBoolean(false)
    val consumer = new Thread(() => {
      def drainHandle(h: StreamHandle)(f: (Row, Long) => Unit): Boolean = {
        val rows = h.pollAll()
        val now = System.nanoTime()
        rows.foreach(f(_, now))
        rows.nonEmpty
      }
      while (!stop.get()) {
        val a = drainHandle(select) { (r, now) =>
          val id = r.getLong(0)
          selectSeenNs.putIfAbsent(id, now)
          polledSelect.computeIfAbsent(id, _ => new AtomicLong()).incrementAndGet()
        }
        val b = drainHandle(window) { (r, now) =>
          windowRows.add((newestEventId(r), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue, now))
        }
        if (!a && !b) Thread.sleep(2)
      }
    }, "perfbench-consumer")
    consumer.start()

    // ---- generator: open loop, each tick due at a fixed time
    val type1 = new AtomicLong(types.count(_ == 1).toLong)
    val type2 = new AtomicLong(types.count(_ == 2).toLong)
    def backlogNow: (Long, Long, Long) = (
      type1.get - polledSelect.size,
      math.max(0L, ids.size - (Window - 1)) - windowRows.size,
      type2.get - TaskSink.seenNs.size)
    val t0 = System.nanoTime()
    val measureFrom = t0 + WarmupMs * 1000000L
    val end = measureFrom + seconds * 1000000000L
    val measuredFromId = mutable.ArrayBuffer.empty[Long]
    val backlogs = mutable.ArrayBuffer.empty[Long]
    val tracedDue = mutable.ArrayBuffer.empty[Double]
    var lagMaxMs = 0.0
    var k = 0L
    var due = t0
    while (due < end) {
      val now0 = System.nanoTime()
      if (now0 < due) Thread.sleep((due - now0) / 1000000L, ((due - now0) % 1000000L).toInt)
      val lagMs = (System.nanoTime() - due) / 1e6
      val measured = due >= measureFrom
      if (measured && measuredFromId.isEmpty) {
        measuredFromId += ids.size + 1L
        rec.startMeasuring(clock.nowMs)
      }
      val dueEpoch = System.currentTimeMillis() - math.round(lagMs)
      val rows = makeRows(TickRows, due, dueEpoch)
      val t1 = rows.count(_.eventType == 1); val t2 = rows.count(_.eventType == 2)
      // a tick is one file per store, as a producer batching rows would write
      val tick = spark.createDataset(spark.sparkContext.parallelize(rows, 1))
      tracer.setActive(k % 2 == 1)
      if (measured && tracer.active) tracedDue += clock.fromNanos(due)
      tracer.span("op.tick") {
        val a0 = System.nanoTime()
        tracer.span("core.persist")(events.persistDs(tick))
        type1.addAndGet(t1)
        val a1 = System.nanoTime()
        tracer.span("core.persist")(tasks.persistDs(tick))
        type2.addAndGet(t2)
        if (measured) {
          rec.sample("gen_append", clock.fromNanos(a0), (a1 - a0) / 1e6)
          rec.sample("gen_append", clock.fromNanos(a1), (System.nanoTime() - a1) / 1e6)
        }
      }
      if (measured) {
        lagMaxMs = math.max(lagMaxMs, lagMs)
        val (b1, b2, b3) = backlogNow
        backlogs += b1 + b2 + b3
        rec.ops += 1
      }
      k += 1
      due = t0 + k * TickMs * 1000000L
    }
    rec.endMeasuring(clock.nowMs)
    tracer.setActive(true)
    rec.counters("traced_due_ms") = tracedDue.toSeq
    val (e1, e2, e3) = backlogNow
    // run validity: an overloaded rate must not report a latency
    rec.check(lagMaxMs <= TickMs, f"generator ran $lagMaxMs%.0f ms late, more than one tick")
    rec.check(backlogs.nonEmpty, s"no tick was due in the $seconds s measured window")
    val third = math.max(1, backlogs.size / 3)
    def med(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    val (bFirst, bLast) = (med(backlogs.take(third).toSeq), med(backlogs.takeRight(third).toSeq))
    rec.check(bLast <= 2 * bFirst + TickRows,
      s"backlog grew over the run: median $bFirst rows in the first third, $bLast in the last")
    rec.counters("gen_lag_ms_max") = lagMaxMs
    rec.counters("backlog_rows_end") = e1 + e2 + e3
    rec.counters("backlog_rows") = backlogs.toSeq
    rec.counters("tick_rows") = TickRows
    rec.counters("tick_ms") = TickMs
    Log.note("generator done")

    // ---- drain, then stop the consumers
    val expectWindows = math.max(0, ids.size - (Window - 1))
    val drainStart = System.nanoTime()
    while ((polledSelect.size < type1.get || windowRows.size < expectWindows ||
            TaskSink.seenNs.size < type2.get) &&
           System.nanoTime() - drainStart < DrainTimeoutMs * 1000000L) Thread.sleep(10)
    // every row is delivered: take the retained heap (the collection's
    // pause no longer lands on a measured row), and let a late duplicate
    // show before the queries stop
    recordLiveHeap()
    Thread.sleep(500)
    stop.set(true)
    consumer.join()
    process.processAllAvailable()
    select.stop(); window.stop(); process.stop()
    Log.note("streams stopped")

    // ---- latencies of the events generated while measuring
    val firstMeasured = measuredFromId.headOption.getOrElse(Long.MaxValue)
    def lat(id: Long, seen: Long): Double = (seen - dueNs.get(id)) / 1e6
    selectSeenNs.asScala.foreach { case (id, seen) =>
      if (id >= firstMeasured) rec.sample("emit", clock.fromNanos(dueNs.get(id)), lat(id, seen))
    }
    // window results go out raw; run.py maps each to its newest event
    rec.counters("window_rows") = windowRows.asScala.toSeq.map { case (id, c, sm, seen) =>
      Seq(id, c, sm, clock.fromNanos(seen)) }
    rec.counters("due_ms") = ids.map(id => clock.fromNanos(dueNs.get(id))).toSeq
    rec.counters("first_measured_id") = firstMeasured
    TaskSink.seenNs.asScala.foreach { case (id, seen) =>
      if (id >= firstMeasured) rec.sample("cep_process", clock.fromNanos(dueNs.get(id)), lat(id, seen))
    }

    // ---- correctness: every delivery exactly once, windows exact
    val n = ids.size
    val byType = (1 to 3).map(t => t -> ids.indices.filter(types(_) == t).map(ids(_)).toSet).toMap
    byType(1).foreach(id => rec.check(Option(polledSelect.get(id)).exists(_.get == 1),
      s"SELECT STREAM delivered event $id ${Option(polledSelect.get(id)).map(_.get).getOrElse(0L)} times"))
    polledSelect.keySet.asScala.filterNot(byType(1)).foreach(id =>
      rec.check(false, s"SELECT STREAM delivered event $id, which is not of type 1"))
    val prefix = values.scanLeft(0L)(_ + _)
    val gotWindows = windowRows.asScala.groupBy(_._1)
    (Window - 1 until n).foreach { i =>
      val id = ids(i)
      val want = (Window.toLong, prefix(i + 1) - prefix(i + 1 - Window))
      val got = gotWindows.getOrElse(id, Nil).map(w => (w._2, w._3))
      rec.check(got == Seq(want), s"window ending at event $id: got $got, expected $want")
    }
    gotWindows.keySet.filter(id => id < ids(Window - 1) || id > n).foreach(id =>
      rec.check(false, s"unexpected window ending at event $id"))
    byType(2).foreach(id => rec.check(Option(TaskSink.calls.get(id)).exists(_.get == 1),
      s"PROCESS STREAM called back ${Option(TaskSink.calls.get(id)).map(_.get).getOrElse(0L)} times for event $id"))
    TaskSink.calls.keySet.asScala.filterNot(byType(2)).foreach(id =>
      rec.check(false, s"PROCESS STREAM called back for event $id, which is not of type 2"))
    val left = tasks.store.read.select("eventId").collect().map(_.getLong(0)).sorted.toSeq
    val wantLeft = ids.filterNot(byType(2)).toSeq
    rec.check(left == wantLeft,
      s"tasks holds ${left.size} rows after the run, expected the ${wantLeft.size} unconsumed ones")

    // ---- counters for the traced record
    rec.counters("tasks_rows_appended") = n.toLong
    // every tick is one append commit to tasks; the other commits are
    // PROCESS STREAM's per-batch deletes
    rec.counters("cep_delete_commits") = tasks.store.versions.size.toLong - tasksVersionsStart - k
    rec.spans = tracer.spans
  }
}
