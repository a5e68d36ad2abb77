package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.fa.{Pipeline, Schemas}

private object Time {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body`; a non-fatal exception is reported and counted as a
    * failed operation instead of ending the run. */
  def attempt(what: String)(body: => Unit): (Boolean, Double) = Time {
    try { body; true }
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $what FAILED: $e")
      false
    }
  }
}

object Queries {
  /** Short read-only queries over the operator families, where planning
    * and scheduling are a large share of each query's time. */
  val relational: Seq[String] = Seq("q01_agg", "q02_filter_project",
    "q03_cast_arith", "q04_string_ops", "q05_date_ops", "q06_case_cascade",
    "q07_window_top1", "q08_window_running", "q09_join_composite",
    "q10_join_rename", "q11_unified_join", "q12_unpivot_cascade", "q13_setops",
    "q14_distinct_agg", "q15_topk", "q16_semi_anti", "q17_json_extract",
    "q18_time_window", "q19_sessionize", "q20_dedup_exact", "q33_unpivot",
    "q36_asof_join", "q37_percentile", "q41_pivot", "q43_ntile")

  /** Iterative, shuffle-heavy near-duplicate, similarity and graph queries.
    * q71 (a histogram over q45's clusters) and q133 (the slowest, string
    * edit-distance resolution) are left out to keep a run short. */
  val dedupGraph: Seq[String] = Seq("q28_minhash_lsh", "q29_simhash_hybrid",
    "q45_neardup_dedup", "q69_cosine_pairs", "q107_pagerank",
    "q117_jaccard_prefix", "q140_cooccurrence")

  /** The `graft.ops` module each query's top-level call goes to, as
    * written in `SparkEntry`; `builtin` queries call Spark SQL directly. */
  val module: Map[String, String] = Map(
    "q01_agg" -> "builtin", "q02_filter_project" -> "builtin",
    "q03_cast_arith" -> "Exprs", "q04_string_ops" -> "Exprs",
    "q05_date_ops" -> "Exprs", "q06_case_cascade" -> "Exprs",
    "q07_window_top1" -> "Windows", "q08_window_running" -> "Windows",
    "q09_join_composite" -> "Joins", "q10_join_rename" -> "Joins",
    "q11_unified_join" -> "Joins", "q12_unpivot_cascade" -> "Joins",
    "q13_setops" -> "builtin", "q14_distinct_agg" -> "builtin",
    "q15_topk" -> "builtin", "q16_semi_anti" -> "Joins",
    "q17_json_extract" -> "Events", "q18_time_window" -> "Events",
    "q19_sessionize" -> "Events", "q20_dedup_exact" -> "Dedup",
    "q33_unpivot" -> "builtin", "q36_asof_join" -> "Joins",
    "q37_percentile" -> "builtin", "q41_pivot" -> "builtin",
    "q43_ntile" -> "builtin",
    "q28_minhash_lsh" -> "Dedup", "q29_simhash_hybrid" -> "Dedup",
    "q45_neardup_dedup" -> "Dedup", "q69_cosine_pairs" -> "Dedup",
    "q107_pagerank" -> "Graph", "q117_jaccard_prefix" -> "Dedup",
    "q140_cooccurrence" -> "Baskets")
}

/** A fixed list of `SparkEntry.queries`, each run once per pass into a
  * `noop` sink, in an order drawn from the seed anew for every pass. */
final class Queries(o: Main.Opts, names: Seq[String]) extends Workload {
  private val dataDir = s"${o.work}/tables"
  private val outDir = s"${o.work}/out"
  private var rows, bytes, outBytes = 0L

  /** (rows, bytes) per generated table, as listed by `tables.py`. */
  private lazy val tables: Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(dataDir, "tables.tsv")).asScala.map { l =>
      val Array(n, r, b) = l.split("\t")
      n -> (r.toLong, b.toLong)
    }.toMap

  def prepare(): Unit = ()
  def inputRows: Long = rows
  def inputBytes: Long = bytes
  def outputBytes: Long = outBytes

  private def order(pass: Int): Seq[String] =
    new Random(o.seed * 1000003L + pass).shuffle(names)

  private def df(spark: SparkSession, q: String): DataFrame =
    SparkEntry.queries(q)(spark, dataDir)

  /** Writes each result as parquet plus the queries' oracle SQL, for the
    * DuckDB comparison; learns which tables each query scans. */
  def warmUp(spark: SparkSession): PassResult = {
    val plans = new PlanListener
    spark.listenerManager.register(plans)
    val (ops, wall) = Time {
      try order(0).map { q =>
        val (ok, s) = Time.attempt(q) {
          df(spark, q).write.mode("overwrite").parquet(s"$outDir/$q")
        }
        BenchBus.drain(spark.sparkContext)
        plans.take().flatMap(e => Plans.scannedTables(e.qe)).distinct
          .flatMap(tables.get).foreach { case (r, b) => rows += r; bytes += b }
        (q, s, ok)
      } finally spark.listenerManager.unregister(plans)
    }
    outBytes = Layers.dirBytes(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.tsv"),
      names.flatMap(q => SparkEntry.oracleSql.get(q).map(sql =>
        q + "\t" + sql.replace("\\", "\\\\").replace("\n", "\\n")
          .replace("\t", "\\t"))).mkString("", "\n", "\n"))
    PassResult(wall, ops, Map.empty)
  }

  def pass(spark: SparkSession, idx: Int, traced: Option[Traced]): PassResult = {
    val events = mutable.ArrayBuffer.empty[PlanEvent]
    def run(q: String): (Boolean, Double) =
      Time.attempt(q)(df(spark, q).write.mode("overwrite").format("noop").save())
    val (ops, wall) = Time {
      order(idx).map { q =>
        val (ok, s) = traced match {
          case None => run(q)
          case Some(t) =>
            val r = t.op(spark, q, s"query.$q")(run(q))
            events ++= t.take()
            r
        }
        (q, s, ok)
      }
    }
    val layers = traced.map { t =>
      val perQuery = Queries.dedupGraph.flatMap { q =>
        val s = ops.filter(_._1 == q).map(_._2).sum
        Seq(s"query.$q.s" -> s,
          s"query.$q.jobs" -> t.jobs.sum(t.groupPrefix + q + "/").jobs.toDouble)
      }
      val perModule = ops.groupBy(op => Queries.module(op._1)).map {
        case (m, xs) =>
          (if (m == "builtin") "sql.builtin.s" else s"ops.$m.s") -> xs.map(_._2).sum
      }
      Layers.sparkAndCatalyst(t.jobs.sum(t.groupPrefix), events.toSeq, wall,
        o.cores) ++ perQuery ++ perModule
    }.getOrElse(Map.empty)
    PassResult(wall, ops, layers)
  }

  def checkOnly(spark: SparkSession): Seq[(String, Double, Boolean)] = Nil
}

/** `fa.Pipeline.run` over a seeded raw corpus (generated beforehand by
  * [[FaCorpus]] in a process of its own); every pass starts from an empty
  * staging directory. */
final class FaEtl(o: Main.Opts) extends Workload {
  private val base = Paths.get(o.work, "fa")
  private var stats = Map.empty[String, FamilyStats]
  private var outBytes = 0L
  private var mergedRows = -1L

  def inputRows: Long = stats.values.map(_.rows).sum
  def inputBytes: Long = stats.values.map(_.zipBytes).sum
  def outputBytes: Long = outBytes

  def prepare(): Unit = stats = FaCorpus.readStats(base.toString)

  /** A fresh pass directory whose `raw/` links to the zips in `from`. */
  private def passDir(name: String, from: Path = base.resolve("raw")): Path = {
    val dir = base.resolve(name)
    Layers.deleteTree(dir)
    Files.createDirectories(dir.resolve("raw"))
    val s = Files.list(from)
    try s.iterator().asScala.foreach(f =>
      Files.createLink(dir.resolve("raw").resolve(f.getFileName), f))
    finally s.close()
    dir
  }

  private def runPipeline(spark: SparkSession, dir: Path,
                          op: String = "fa.Pipeline.run"): PassResult = {
    val (ok, s) = Time.attempt(op)(new Pipeline(spark, dir.toString).run())
    PassResult(s, Seq((op, s, ok)), Map.empty)
  }

  /** Pass 0 stays on disk: `run.py` checks its `unified/merged.parquet`.
    * A smaller warm-up corpus was measured to leave the first full-size
    * pass about 1.6x slower than the next, so the warm-up is full-size
    * (after it, the first timed pass is still about 1.2x slower). */
  def warmUp(spark: SparkSession): PassResult = {
    val dir = passDir("pass0")
    val r = runPipeline(spark, dir)
    outBytes = Layers.dirBytes(dir.resolve("staging")) +
      Layers.dirBytes(dir.resolve("unified"))
    if (r.ops.forall(_._3))
      mergedRows = spark.read.parquet(dir.resolve("unified/merged.parquet").toString).count()
    r
  }

  def pass(spark: SparkSession, idx: Int, traced: Option[Traced]): PassResult = {
    val dir = passDir(s"pass$idx")
    try traced match {
      case None => runPipeline(spark, dir)
      case Some(t) => tracedPass(spark, dir, t)
    } finally Layers.deleteTree(dir)
  }

  private var defects = Seq.empty[String]
  override def knownDefects: Seq[String] = defects

  /** The small corpus with damaged Prop keys; `run.py` checks its
    * `keys_pass/unified/merged.parquet`. An abort by the unique-key guard
    * on a NULL key is the known defect (METRICS.md): it is reported, not
    * counted. Any other failure, or wrong output once the guard lets the
    * run through, counts as a failed operation. */
  def checkOnly(spark: SparkSession): Seq[(String, Double, Boolean)] = {
    val op = "fa.Pipeline.run[damaged_keys]"
    val dir = passDir("keys_pass", base.resolve("keys/raw"))
    try {
      new Pipeline(spark, dir.toString).run()
      Seq((op, 0.0, true))
    } catch {
      case NonFatal(e) if FaEtl.NullKeyGuard.findFirstIn(e.toString).isDefined =>
        defects :+= s"$op: $e"
        Nil
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $op FAILED: $e")
        Seq((op, 0.0, false))
    }
  }

  private val StageLine = """^(\S+) stage=(\S+) wall=([0-9.]+)s.*""".r

  /** The real `Pipeline.run`, with its stage log written to a file. Each
    * stage line ends a stage, and the next stage starts there; `merged` (the
    * unified join, then the clean-up) runs from the last line to the end of
    * `run`. Jobs and SQL executions are attributed to a stage by the time
    * Spark submitted them and by the path they write. In a stage that
    * reads raw files, the time from the stage's start to its first job is
    * the serial unzip (plus the CSV scan's file listing). */
  private def tracedPass(spark: SparkSession, dir: Path, t: Traced): PassResult = {
    val tr = t.tracer
    val logFile = dir.resolve("pipeline.log")
    val (ok, wall) = Time.attempt("fa.Pipeline.run") {
      tr.span("fa.Pipeline.run") {
        new Pipeline(spark, dir.toString, logFile = Some(logFile.toString)).run()
      }
    }
    BenchBus.drain(spark.sparkContext)
    val runSpan = tr.spans.last
    val logged = if (!Files.exists(logFile)) Nil
      else Files.readAllLines(logFile).asScala.toSeq.collect {
        case StageLine(at, name, s) =>
          val i = java.time.Instant.parse(at)
          (name, i.getEpochSecond * 1000000000L + i.getNano, s.toDouble)
      }
    val ends = logged.map(_._2) :+ runSpan.endNs
    val starts = runSpan.startNs +: logged.map(_._2)
    val stageNames = logged.map(_._1) :+ "merged"
    val jobs = t.jobs.all
    def jobsIn(i: Int): Seq[JobRec] = jobs.filter(j =>
      j.submitMs >= starts(i) / 1000000 && j.submitMs < ends(i) / 1000000)
    val reads = Schemas.FamilyNames().all.toSet
    val spans = stageNames.indices.map { i =>
      val sp = tr.record(s"fa.${stageNames(i)}", runSpan.id, starts(i), ends(i))
      if (reads(stageNames(i))) jobsIn(i).map(_.submitMs).minOption.foreach { ms =>
        tr.record("ops.Sources.unzip", sp.id, starts(i), math.max(starts(i), ms * 1000000))
      }
      stageNames(i) -> (sp, jobsIn(i))
    }.toMap

    val events = t.take()
    def rowsOut(st: String): Long = events.filter(e =>
      Plans.writeTarget(e.qe).exists(_.stripSuffix(".parquet") == st))
      .map(e => Plans.writtenRows(e.qe)).sum
    val merged = rowsOut("merged")
    val checked = ok && (merged == mergedRows || {
      System.err.println(s"[perfbench] traced pass wrote $merged merged rows, " +
        s"the warm-up pass $mergedRows")
      false
    })
    val perStage = Layers.faStages.flatMap { st =>
      val span = spans.get(st)
      val out = if (st == "merged") dir.resolve("unified/merged.parquet")
        else dir.resolve("staging").resolve(st)
      val shuffle = span.map(_._2.map(_.counts.shuffleWrite).sum).getOrElse(0L)
      Seq(
        s"fa.$st.s" -> span.map(x => tr.selfSeconds(x._1)).getOrElse(0.0),
        s"fa.$st.rows_out" -> rowsOut(st).toDouble,
        s"fa.$st.bytes_written" -> Layers.dirBytes(out).toDouble,
        s"fa.$st.shuffle_bytes" -> shuffle.toDouble)
    }
    val unzip = tr.spans.filter(s =>
      s.name == "ops.Sources.unzip" && s.startNs >= runSpan.startNs)
    val layers = Layers.sparkAndCatalyst(t.jobs.sum(_ => true), events, wall, o.cores) ++
      perStage ++ Map(
        "ops.Sources.unzip_s" -> unzip.map(_.seconds).sum,
        "ops.Sources.unzip_bytes" -> stats.values.map(_.textBytes).sum.toDouble,
        "fa.coverage_frac" -> (logged.map(_._3).sum +
          spans.get("merged").map(_._1.seconds).getOrElse(0.0)) / runSpan.seconds)
    PassResult(wall, Seq(("fa.Pipeline.run", wall, checked)), layers)
  }
}

object FaEtl {
  /** The unique-key guard's abort on a NULL `PropertyID`: the sample key
    * after `key=` is empty, because `concat_ws` skips NULLs. A duplicate
    * non-NULL key does not match. */
  val NullKeyGuard = """not unique on \(PropertyID\): e\.g\. key=(\s|$)""".r
}
