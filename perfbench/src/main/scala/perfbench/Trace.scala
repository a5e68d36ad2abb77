package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the
  * enclosing span (-1 at the root); spans of one run share `run`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. The benchmark drives the program from one
  * thread, so nesting follows the call stack. Times are nanoseconds since
  * the epoch (monotonic within a run), so that spans can also be placed
  * from wall-clock times the program or Spark reports. Spans are written
  * out once, when the run ends. */
final class Tracer(run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0
  private val baseEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val baseNano = System.nanoTime()

  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    open = (id, name, now()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, open.headOption.map(_._1).getOrElse(-1), name, start,
        now(), run)
    }
  }

  /** Adds a finished span whose bounds were measured elsewhere. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Span = {
    val s = Span(nextId, parent, name, startNs, endNs, run)
    nextId += 1
    done += s
    s
  }

  def spans: Seq[Span] = done.toSeq

  /** Span duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJsonLines: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Json.str(s.run)}}"""
  }.mkString("", "\n", "\n")
}

/** Task-level counters of one or more jobs (see [[JobListener]]). */
final class TaskCounts {
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, schedMs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L

  def add(o: TaskCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; runMs += o.runMs; cpuNs += o.cpuNs
    schedMs += o.schedMs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
  }
}

/** One Spark job: its job group (`SparkContext.setJobGroup`), its
  * submission time and the counters of its tasks. */
final class JobRec(val group: Option[String], val submitMs: Long) {
  val counts = new TaskCounts
  counts.jobs = 1
}

/** Scheduler and task counters per job. */
final class JobListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))), e.time)
    jobs += j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.counts.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val c = j.counts
      val info = e.taskInfo
      c.tasks += 1
      if (info.failed || info.killed) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult =
          if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        c.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.toSeq)

  /** Counters of the jobs `p` selects, summed. */
  def sum(p: JobRec => Boolean): TaskCounts = synchronized {
    val t = new TaskCounts
    jobs.foreach(j => if (p(j)) t.add(j.counts))
    t
  }

  /** Counters of every job whose group starts with `prefix`, summed. */
  def sum(prefix: String): TaskCounts = sum(_.group.exists(_.startsWith(prefix)))
}

/** One finished SQL execution as the session's listener manager saw it. */
final case class PlanEvent(qe: QueryExecution, durationNs: Long)

/** Collects finished SQL executions; the benchmark takes them after each
  * traced operation, so they belong to that operation. */
final class PlanListener extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[PlanEvent]()
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    q.add(PlanEvent(qe, durationNs))
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    q.add(PlanEvent(qe, 0L))
  def take(): Seq[PlanEvent] = {
    val out = mutable.ArrayBuffer.empty[PlanEvent]
    var e = q.poll()
    while (e != null) { out += e; e = q.poll() }
    out.toSeq
  }
}

object Plans {
  /** Every node of an executed plan, descending through adaptive plans,
    * query stages and subqueries. A reused exchange is not descended
    * into: its work ran once, where it was first planned. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val below: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ below.iterator.flatMap(nodes)
  }

  final case class OpCounts(exchanges: Long, windows: Long, sorts: Long)

  def opCounts(qe: QueryExecution): OpCounts = {
    val all = nodes(qe.executedPlan).toSeq
    OpCounts(
      all.count(_.isInstanceOf[Exchange]).toLong,
      all.count(n => n.isInstanceOf[WindowExec] ||
        n.isInstanceOf[WindowGroupLimitExec]).toLong,
      all.count(_.isInstanceOf[SortExec]).toLong)
  }

  /** Seconds per Catalyst phase as recorded by the execution's tracker. */
  def phaseSeconds(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)

  /** Table names (parquet directory stems) scanned by an execution. */
  def scannedTables(qe: QueryExecution): Set[String] =
    nodes(qe.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten.toSet

  /** Last path component of the file-source write in an execution. */
  def writeTarget(qe: QueryExecution): Option[String] =
    nodes(qe.executedPlan).collectFirst {
      case org.apache.spark.sql.execution.command.DataWritingCommandExec(
          c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.getName
    }

  /** `numOutputRows` of the write command in an execution, if any. */
  def writtenRows(qe: QueryExecution): Long =
    nodes(qe.executedPlan).collect {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** Minimal JSON writing for the benchmark's own result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
