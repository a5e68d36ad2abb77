package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark harness JVM. `run.py` starts it once per benchmark run; it
  * writes its measurements as JSON for `run.py` to check and report.
  *
  * The harness reaches the program only through public entry points:
  * `GraftSession.apply`, `fa.Pipeline.run` (and `fa.Schemas` for the
  * family names) and `SparkEntry.queries`/`oracleSql`. */
object Main {

  final case class Opts(workload: String, seed: Long,
                        seconds: Double, trace: Boolean, work: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("cores").toInt)
  }

  final case class SetupTimes(jvmS: Double, buildS: Double, warmJobS: Double) {
    def totalS: Double = jvmS + buildS + warmJobS
    def json: String = Json.obj(Seq("jvm_s" -> Json.num(jvmS),
      "build_s" -> Json.num(buildS), "warm_job_s" -> Json.num(warmJobS),
      "setup_s" -> Json.num(totalS)))
  }

  /** A ready session: `GraftSession.apply` plus one trivial job. */
  def setUp(cores: Int, jvmS: Double): (SparkSession, SetupTimes) = {
    val t0 = System.nanoTime()
    val spark = GraftSession(master = s"local[$cores]",
      shufflePartitions = Some(cores), appName = "perfbench")
    val t1 = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    (spark, SetupTimes(jvmS, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = parse(args)
    val wl: Workload = o.workload match {
      case "fa_etl" => new FaEtl(o)
      case "relational_queries" => new Queries(o, Queries.relational)
      case "dedup_graph_queries" => new Queries(o, Queries.dedupGraph)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.prepare()
    val (spark, st) = setUp(o.cores, jvmS)
    try {
      val out = new Runner(o, spark, wl).run()
      Files.writeString(Paths.get(o.work, "result.json"),
        Json.obj(out :+ ("setup" -> st.json) :+ ("peak_rss_mb" -> Json.num(peakRssMb))))
    } finally spark.stop()
  }
}

/** What one pass of a workload did. `ops` are (name, seconds, ok) per
  * operation, in execution order. */
final case class PassResult(wallS: Double, ops: Seq[(String, Double, Boolean)],
                            layers: Map[String, Double])

trait Workload {
  /** Reads what is known about the inputs (before the session exists). */
  def prepare(): Unit
  /** Untimed first pass; leaves its outputs where `run.py` checks them. */
  def warmUp(spark: SparkSession): PassResult
  def pass(spark: SparkSession, idx: Int, tracer: Option[Traced]): PassResult
  /** Operations run once after the timed passes, only to check their
    * outputs; they count in `failed` but are not timed. */
  def checkOnly(spark: SparkSession): Seq[(String, Double, Boolean)]
  /** `checkOnly` failures that match a known, documented program defect.
    * `run.py` reports them on every run but does not count them in
    * `failed`; any other failure still counts. */
  def knownDefects: Seq[String] = Nil
  /** Rows and bytes of input one pass consumes, and bytes of output it
    * leaves (known after `warmUp`). */
  def inputRows: Long
  def inputBytes: Long
  def outputBytes: Long
}

/** Tracing state of one traced pass: spans plus the two listeners, with
  * the jobs of `op` attributed to a job group under `groupPrefix`. */
final class Traced(val tracer: Tracer, val jobs: JobListener,
                   val plans: PlanListener, val groupPrefix: String) {
  /** Runs `body` as job group `groupPrefix + op + "/"` inside a span,
    * then waits until the listeners have seen all of its events. */
  def op[T](spark: SparkSession, op: String, span: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(groupPrefix + op + "/", op)
    try tracer.span(span)(body)
    finally {
      spark.sparkContext.clearJobGroup()
      BenchBus.drain(spark.sparkContext)
    }
  }

  /** SQL executions finished since the last call. */
  def take(): Seq[PlanEvent] = plans.take()
}

object Layers {
  val faStages = Seq("Deed", "ranked_Deed", "Prop", "TaxHist", "ValHist",
    "ranked_ValHist", "merged")

  /** Scheduler, task and Catalyst metrics of one traced pass. */
  def sparkAndCatalyst(c: TaskCounts, events: Seq[PlanEvent], wallS: Double,
                       cores: Int): Map[String, Double] = {
    val ops = events.map(e => Plans.opCounts(e.qe))
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.tasks_failed" -> c.tasksFailed.toDouble,
      "spark.sched_delay_s" -> c.schedMs / 1e3,
      "spark.task_run_s" -> c.runMs / 1e3,
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.core_idle_frac" -> (1.0 - c.runMs / 1e3 / (cores * wallS)),
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.gc_s" -> c.gcMs / 1e3,
      "catalyst.analysis_s" -> events.map(e => Plans.phaseSeconds(e.qe, "analysis")).sum,
      "catalyst.optimizer_s" -> events.map(e => Plans.phaseSeconds(e.qe, "optimization")).sum,
      "catalyst.planning_s" -> events.map(e => Plans.phaseSeconds(e.qe, "planning")).sum,
      "catalyst.exec_s" -> events.map(_.durationNs / 1e9).sum,
      "catalyst.exchange_ops" -> ops.map(_.exchanges).sum.toDouble,
      "catalyst.window_ops" -> ops.map(_.windows).sum.toDouble,
      "catalyst.sort_ops" -> ops.map(_.sorts).sum.toDouble)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}

object Runner {
  val MinTimedPasses = 2
}

/** Drives warm-up, timed passes and (with `--trace 1`) traced passes. */
final class Runner(o: Main.Opts, spark: SparkSession, wl: Workload) {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(): Seq[(String, String)] = {
    val warm = wl.warmUp(spark)
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    val spans = new Tracer(s"${o.workload}-${o.seed}")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Whole passes until --seconds have elapsed and at least
    // MinTimedPasses passes are timed, so that no median rests on one
    // pass (on fa_etl one pass is one operation). With --trace 1 at least
    // one traced pass runs, each followed by an untraced one; the tracing
    // overhead compares the two, so that the slower first timed pass does
    // not enter it.
    var idx = 0
    def untracedPass(): Unit = { idx += 1; untraced += wl.pass(spark, idx, None) }
    untracedPass()
    while (elapsed < o.seconds || untraced.size < Runner.MinTimedPasses ||
           (o.trace && traced.isEmpty)) {
      if (o.trace) {
        idx += 1
        val t = new Traced(spans, new JobListener, new PlanListener,
          s"${o.workload}/p$idx/")
        spark.sparkContext.addSparkListener(t.jobs)
        spark.listenerManager.register(t.plans)
        try traced += wl.pass(spark, idx, Some(t))
        finally {
          spark.listenerManager.unregister(t.plans)
          spark.sparkContext.removeSparkListener(t.jobs)
        }
      }
      untracedPass()
    }
    val timedS = elapsed
    Files.writeString(Paths.get(o.work, "spans.jsonl"), spans.toJsonLines)
    val checked = wl.checkOnly(spark)

    val all = warm +: (untraced ++ traced).toSeq :+ PassResult(0.0, checked, Map.empty)
    val layers: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val names = traced.flatMap(_.layers.keys).distinct
        names.map(n => n -> median(traced.map(_.layers.getOrElse(n, 0.0)).toSeq)).toMap +
          ("trace.overhead_s" -> median(traced.indices.map(k =>
            traced(k).wallS - untraced(k + 1).wallS)))
      }
    def nums(xs: Seq[Double]) = Json.arr(xs.map(Json.num))
    Seq(
      "workload" -> Json.str(o.workload),
      "cores" -> o.cores.toString,
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "warmup_s" -> Json.num(warm.wallS),
      "timed_s" -> Json.num(timedS),
      "untraced_wall_s" -> nums(untraced.map(_.wallS).toSeq),
      "traced_wall_s" -> nums(traced.map(_.wallS).toSeq),
      "op_latency_s" -> nums(untraced.flatMap(_.ops.filter(_._3).map(_._2)).toSeq),
      "op_runs" -> Json.obj(all.flatMap(_.ops).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, xs) => n -> xs.size.toString }),
      "op_errors" -> Json.obj(all.flatMap(_.ops).filterNot(_._3).groupBy(_._1)
        .toSeq.sortBy(_._1).map { case (n, xs) => n -> xs.size.toString }),
      "known_defects" -> Json.arr(wl.knownDefects.map(Json.str)),
      "input_rows_per_pass" -> wl.inputRows.toString,
      "input_bytes_per_pass" -> wl.inputBytes.toString,
      "output_bytes_per_pass" -> wl.outputBytes.toString,
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
  }
}
