package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.annotation.meta.field
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.annotations.{DistributedId, Id, NoCheck}
import graft.cep.EventProcessor
import graft.core.{GraftSession, TempDirs}

case class BudgetRow(@(Id @field) id: Long, name: String, score: Double)

case class BudgetEvent(@(DistributedId @field)@(NoCheck @field) id: Long, kind: Int)

case class BudgetGen(@(DistributedId @field) id: Long, tag: String)

/** Spark jobs that creating a store and loading it for the first time
  * cost. Registration is metadata only (the schema rides in the
  * version log) and a first load into an empty store writes its files
  * and runs nothing else: no schema-anchor write, no key-range job
  * over an empty snapshot, no probe for zero ids. Each budget is an
  * upper bound on the jobs a listener counts for the call. */
class StoreJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Jobs `body` submits, counted under a job group unique to the call
    * (jobs other threads submit meanwhile carry no such group). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"store-budget-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "store job budget")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  private def assertNoAnchor(dir: String): Unit = {
    val anchors = Option(new java.io.File(dir).list()).toSeq.flatten.filter(_ == "_schema")
    assert(anchors.isEmpty, s"store at $dir wrote a _schema directory")
  }

  test("register + first persist of a local Seq costs 1 job (upsert and @NoCheck entities)") {
    val gs = new GraftSession(spark)
    val rowsDir = TempDirs.create("graft_budget_rows_")
    val rowJobs = jobsOf {
      gs.registerEntity[BudgetRow]("budget_rows", rowsDir)
        .persist((1L to 50L).map(i => BudgetRow(i, s"n$i", i * 0.5)))
    }
    assert(rowJobs <= 1, s"upsert entity: $rowJobs jobs")
    val evDir = TempDirs.create("graft_budget_events_")
    val evJobs = jobsOf {
      gs.registerEntity[BudgetEvent]("budget_events", evDir)
        .persist((1 to 50).map(i => BudgetEvent(0L, i % 3)))
    }
    assert(evJobs <= 1, s"@NoCheck entity: $evJobs jobs")
    assert(gs.execute("select * from budget_rows").count() == 50)
    assert(gs.execute("select * from budget_events").count() == 50)
    Seq(rowsDir, evDir).foreach(assertNoAnchor)
  }

  test("register + first persistDs of an RDD-backed @DistributedId batch costs 1 job") {
    val gs = new GraftSession(spark)
    val dir = TempDirs.create("graft_budget_gen_")
    val batch = spark.createDataset(spark.sparkContext.parallelize(
      (1 to 400).map(i => BudgetGen(0L, s"t$i")), 4))
    val jobs = jobsOf { gs.registerEntity[BudgetGen]("budget_gen", dir).persistDs(batch) }
    assert(jobs <= 1, s"RDD-backed first load: $jobs jobs")
    val ids = gs.execute("select * from budget_gen").as[BudgetGen].collect().map(_.id)
    assert(ids.length == 400 && ids.distinct.length == 400 && !ids.contains(0L))
    assertNoAnchor(dir)
  }

  test("find and readRange on a fresh store cost 0 jobs and keep the scan schema") {
    val gs = new GraftSession(spark)
    val dir = TempDirs.create("graft_budget_fresh_")
    val tt = gs.registerEntity[BudgetRow]("budget_fresh", dir)
    val store = gs.store("budget_fresh").get
    var found: Option[BudgetRow] = Some(BudgetRow(0L, "", 0.0))
    var ranged = -1
    val jobs = jobsOf {
      found = tt.find(1L)
      ranged = store.readRange(0L, 10L).collect().length
    }
    assert(found.isEmpty && ranged == 0)
    assert(jobs == 0, s"fresh-store find + readRange: $jobs jobs")
    // the empty snapshot is shaped like the parquet scan of a loaded one
    val emptySchema = store.read.schema
    // PROCESS reads the empty snapshot too (there is no files/ to scan)
    val res = store.process(col("score") > 0, new EventProcessor {
      def process(row: Row): Boolean = true
      def delete(): Boolean = true
    })
    assert(res.processed == 0)
    tt.persist(Seq(BudgetRow(1L, "a", 1.0)))
    assert(store.read.schema == emptySchema)
    assert(tt.find(1L).contains(BudgetRow(1L, "a", 1.0)))
    assertNoAnchor(dir)
  }
}
