package perfbench

import java.sql.Timestamp
import scala.annotation.meta.field
import scala.collection.mutable
import graft.annotations.{DistributedId, Id}
import graft.core.{GraftSession, TypedTable}
import graft.remote.{GraftServer, RemoteGraftSession}

/** `Dept` dimension table (FIXTURES §1). */
final case class Dept(@(Id @field) @(DistributedId @field) deptId: Long,
                      deptName: String, location: String, dateCreated: Timestamp)

/** `Emp` fact table (FIXTURES §2). */
final case class Emp(@(Id @field) @(DistributedId @field) empId: Long,
                     empName: String, deptId: Long, salary: Int, rate: Double,
                     descript: String, hireDate: Timestamp)

object EntityOltp {
  val Depts = 1000
  val Emps = 20000
  /** Rows per file of the initial load (contiguous id ranges). */
  val LoadFileRows = 2000
  /** Persist batch: updates of recent employees plus new hires. */
  val Updates = 50
  val Inserts = 50
  val RecentWindow = 200
  val RangeWidth = 1000
  /** The op mix: a fixed cycle, one of each kind, so every kind gets
    * the same number of latency samples in a run. */
  val Kinds = Seq("find", "persist", "range", "agg", "remote")

  val RangeSql = "SELECT e.empId eid, e.salary sal FROM Emp e WHERE e.empId >= %d AND e.empId <= %d"
  val AggSql = "SELECT d.deptName dname, count(e.empId) n, sum(e.salary) total " +
    "FROM Dept d, Emp e WHERE d.deptId = e.deptId GROUP BY d.deptName"

  private val Cities = Array("NEW YORK", "DALLAS", "CHICAGO", "BOSTON", "DENVER",
    "SEATTLE", "MIAMI", "AUSTIN")
  private val Base = 946684800000L // 2000-01-01

  def deptName(d: Long): String = f"D$d%04d"

  /** Zipf(1) sampler over 1..n. */
  final class Zipf(n: Int, rnd: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / k)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n, (if (i >= 0) i else -i - 1) + 1)
    }
  }

  def emp(id: Long, rnd: scala.util.Random, zipf: Zipf): Emp =
    Emp(id, s"emp$id", zipf.next().toLong, 1000 + rnd.nextInt(9000),
      rnd.nextInt(100000) / 100.0, s"desc ${rnd.nextInt(50)}",
      new Timestamp(Base + rnd.nextInt(8000) * 86400000L))
}

/** Closed loop, one client: point finds, upserting persists with a
  * COMMIT each, id-range and Dept⋈Emp aggregate dialect SELECTs, and
  * the range SELECT again through the remote JDBC endpoint. A shadow
  * model of `Emp` checks every answer. */
final class EntityOltp extends Workload {
  import EntityOltp._

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    import spark.implicits._
    // one endpoint per JVM (HiveServer2 cannot restart in-process);
    // every set-up re-registers its fresh stores on the same session
    val gs = new GraftSession(spark)
    val server = GraftServer.start(gs)
    // left open: closing a JDBC session makes the endpoint initialise
    // (and time out) its unused metastore; the connection ends with the JVM
    val remote = new RemoteGraftSession("localhost", server.port)
    Log.note("endpoint up")

    // ---- generated inputs and the shadow model
    val gen = new scala.util.Random(seed)
    val zipf = new Zipf(Depts, gen)
    val depts = (1L to Depts).map(d => Dept(d, deptName(d), Cities((d % Cities.length).toInt),
      new Timestamp(Base + d * 86400000L)))
    val emps = (1L to Emps).map(id => emp(id, gen, zipf))
    val model = mutable.HashMap.empty[Long, Emp]
    emps.foreach(e => model(e.empId) = e)
    val deptCount = new Array[Long](Depts + 1)
    val deptSum = new Array[Long](Depts + 1)
    emps.foreach { e => deptCount(e.deptId.toInt) += 1; deptSum(e.deptId.toInt) += e.salary }
    var maxId = Emps.toLong

    Log.note("inputs generated")
    var empT: TypedTable[Emp] = null
    for (_ <- 0 until setupReps) empT = timeSetup {
      val deptT = gs.registerEntity[Dept]("Dept", freshDir("dept_"))
      deptT.persistDs(spark.createDataset(depts))
      val e = gs.registerEntity[Emp]("Emp", freshDir("emp_"))
      e.persistDs(spark.createDataset(spark.sparkContext.parallelize(emps, Emps / LoadFileRows)))
      gs.executeSystem("COMMIT")
      e
    }

    // ---- operations
    val rnd = new scala.util.Random(seed * 7919 + 17)

    def rangeRows(lo: Long, hi: Long): Seq[(Long, Int)] =
      (lo to hi).flatMap(model.get).map(e => (e.empId, e.salary))

    def sorted(rows: Seq[(Long, Int)]): Seq[(Long, Int)] = rows.sortBy(_._1)

    /** One op: returns (latency ms, thunk). The thunk checks the answer
      * and, in a traced run, takes the measurement-only figures; it runs
      * after the op's span has closed, so none of its jobs is billed to
      * the op. */
    def op(kind: String): (Double, () => Unit) = {
      val t0 = System.nanoTime()
      def ms = (System.nanoTime() - t0) / 1e6
      tracer.span("op." + kind) {
        kind match {
          case "find" =>
            val id = 1L + rnd.nextInt(maxId.toInt)
            val got = tracer.span("core.find")(empT.find(id))
            val l = ms
            (l, () => rec.check(got == model.get(id), s"find($id) returned $got, expected ${model.get(id)}"))
          case "persist" =>
            val upd = rnd.shuffle((maxId - RecentWindow + 1 to maxId).toVector).take(Updates)
            val batch = (upd ++ (maxId + 1 to maxId + Inserts)).map(id => emp(id, rnd, zipf))
            tracer.span("core.persist")(empT.persist(batch))
            tracer.span("core.commit")(gs.executeSystem("COMMIT"))
            val l = ms
            batch.foreach { e =>
              model.get(e.empId).foreach { o =>
                deptCount(o.deptId.toInt) -= 1; deptSum(o.deptId.toInt) -= o.salary
              }
              model(e.empId) = e
              deptCount(e.deptId.toInt) += 1; deptSum(e.deptId.toInt) += e.salary
            }
            maxId += Inserts
            (l, () => rec.check(true, ""))
          case "range" =>
            val lo = 1L + rnd.nextInt((maxId - RangeWidth).toInt)
            val sql = RangeSql.format(lo, lo + RangeWidth - 1)
            val df = tracer.span("plan.execute")(gs.execute(sql))
            val rows = tracer.span("query.collect")(df.collect())
            val l = ms
            val got = rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).intValue)).toSeq
            (l, () => {
              if (tracer.active) tracer.span("measure.input_files") {
                // useful-work ratio of the manifest pruning: files the
                // pruned scan reads over files in the snapshot
                val all = empT.store.read.inputFiles.length
                rec.sample("range_files_read_frac", 0, df.inputFiles.length.toDouble / math.max(1, all))
              }
              rec.check(sorted(got) == rangeRows(lo, lo + RangeWidth - 1),
                s"range [$lo, ${lo + RangeWidth - 1}] differs from the model")
            })
          case "agg" =>
            val df = tracer.span("plan.execute")(gs.execute(AggSql))
            val rows = tracer.span("query.collect")(df.collect())
            val l = ms
            val got = rows.map(r => (r.getString(0), (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))).toMap
            val want = (1 to Depts).filter(deptCount(_) > 0)
              .map(d => deptName(d) -> ((deptCount(d), deptSum(d)))).toMap
            (l, () => rec.check(got == want, "Dept⋈Emp aggregate differs from the model"))
          case "remote" =>
            val lo = 1L + rnd.nextInt((maxId - RangeWidth).toInt)
            val sql = RangeSql.format(lo, lo + RangeWidth - 1)
            val rows = tracer.span("remote.execute") {
              val rs = remote.execute(sql)
              try rs.toVector finally rs.close()
            }
            val l = ms
            val got = rows.map(r => (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[Number].intValue))
            (l, () => {
              if (tracer.active) {
                // the same statement executed and collected locally:
                // remote overhead = round trip minus this
                val t1 = System.nanoTime()
                tracer.span("measure.local_ref")(gs.execute(sql).collect())
                rec.sample("remote_overhead", 0, l - (System.nanoTime() - t1) / 1e6)
              }
              rec.check(sorted(got) == rangeRows(lo, lo + RangeWidth - 1),
                s"remote range [$lo, ${lo + RangeWidth - 1}] differs from the model")
            })
        }
      }
    }

    def attempt(kind: String, record: Boolean): Unit = {
      val start = clock.nowMs
      try {
        val (ms, check) = op(kind)
        if (record) {
          rec.sample(kind, start, ms)
          if (tracer.enabled) rec.sample(tracer.tagged(kind), start, ms)
        }
        check()
      } catch {
        case e: Exception =>
          rec.attempted.incrementAndGet()
          rec.fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    // warm-up: every op kind once, checked but not timed
    Kinds.foreach(attempt(_, record = false))

    Log.note("set-up and warm-up done")
    rec.startMeasuring(clock.nowMs)
    val deadline = rec.measureStartMs + seconds * 1000.0
    while (clock.nowMs < deadline) {
      tracer.setActive(rec.ops % 2 == 1)
      attempt(Kinds((rec.ops % Kinds.size).toInt), record = true)
      rec.ops += 1
    }
    rec.endMeasuring(clock.nowMs)
    tracer.setActive(true)
    recordLiveHeap()
    rec.counters("store_versions_end") = empT.store.versions.size
    rec.counters("store_files_end") = empT.store.read.inputFiles.length
    rec.spans = tracer.spans
  }
}
