package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** What a workload gets for one run. `setupReps` fresh set-ups are
  * timed; the last one is the state the run measures. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, setupReps: Int,
                     clock: Clock, tracer: Tracer, listener: Option[JobListener],
                     rec: Record) {
  def nproc: Int = spark.sparkContext.defaultParallelism
  def freshDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Heap in use after a full collection: what the program retains.
    * Workloads call it at the end of their measured window. The later
    * collections come after Spark's context cleaner has dropped the
    * cached blocks of RDDs the first one found unreachable; the least of
    * three readings leaves out what a background thread (a streaming
    * micro-batch) happened to hold at one of them. */
  def recordLiveHeap(): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    rec.heapLiveMb = (1 to 3).map { _ =>
      Thread.sleep(300)
      System.gc()
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Run one set-up and record how long it took. */
  def timeSetup[A](body: => A): A = {
    val t0 = clock.nowMs
    val a = body
    rec.setupS += (clock.nowMs - t0) / 1000.0
    a
  }
}

/** Progress lines for the run log, stamped with JVM uptime. */
object Log {
  def note(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    println(f"[perfbench +$up%.1fs] $msg")
  }
}

trait Workload {
  /** Set up, measure for `ctx.seconds`, check outputs. */
  def run(ctx: Ctx): Unit
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <file>`. Writes the raw run record as JSON to
  * `--out`; run.py computes the metrics from it. With `--trace 1` a
  * Spark listener records jobs and streaming batches, and every other
  * operation runs under spans (see [[Tracer]]). */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")

    val workload: Workload = workloadName match {
      case "entity_oltp" => new EntityOltp
      case "stream_cep" => new StreamCep
      case "corpus_pipeline" => new CorpusPipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = session()
    val sc = spark.sparkContext
    Log.note("session up")
    val clock = new Clock
    val rec = new Record
    val listener = if (trace) Some(new JobListener(clock)) else None
    listener.foreach(sc.addSparkListener)
    try workload.run(Ctx(spark, seed, seconds, if (trace) 1 else 5, clock,
      new Tracer(sc, clock, trace), listener, rec))
    catch { case e: Throwable =>
      // streaming queries and the JDBC endpoint keep non-daemon threads
      // alive: end the JVM instead of waiting on them
      e.printStackTrace()
      System.out.flush()
      Runtime.getRuntime.halt(1)
    }
    listener.foreach { l =>
      l.drain(sc)
      rec.jobs = l.jobsSnapshot
      rec.batches = l.batchesSnapshot
    }
    val record = Map(
      "workload" -> workloadName,
      "seed" -> seed,
      "seconds" -> seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> sc.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "trace" -> trace,
      "run" -> rec.toMap)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(out), record)
    Log.note("record written")
    // End the JVM without stopping the session: with the JDBC endpoint
    // up, SparkContext.stop and the endpoint's own stop wait out service
    // pool timeouts (~20 s each). run.py deletes the run's directories.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Local session sized to the box, configured like the engine's own
    * bench (`graft.Bench`): one core per task slot, 1 MB scan
    * splits, AQE on, the dialect extension for the remote endpoint. */
  def session(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("interference-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.speculation", "false")
      .config("spark.sql.extensions", "graft.remote.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
