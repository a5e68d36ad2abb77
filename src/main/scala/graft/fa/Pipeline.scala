package graft.fa

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException,
  ExecutorCompletionService, Executors, ThreadFactory, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.ops.Sources

/** The reference's end-to-end driver (fa-etl.py:485-598) as a Spark job.
  *
  * Same six phases — scaffold, classify, convert, re-validate, unified
  * join, cleanup — with the per-file Python loop (fa-etl.py:548-565)
  * replaced by one distributed read per family across ALL counties at once
  * (this resolves the reference's `@TODO: generalize this to multiple
  * files`, fa-etl.py:581-582). Stage outputs are snappy-parquet
  * checkpoints with idempotent skip (S6), so a national re-run resumes
  * where it stopped.
  *
  * Scale: with thousands of county files, every stage is a multi-file CSV
  * scan; the unified join shuffles on PropertyID once. The four families
  * are independent until that join, so they convert as four concurrent
  * driver-side branches (Deed → ranked_Deed, Prop, TaxHist, ValHist →
  * ranked_ValHist) on a pool of four threads. Their jobs share the cores
  * through Spark's FIFO scheduler, and the join waits only for the slowest
  * branch. Set `partitionByFips=true` to hive-partition staging output by
  * FIPS for county-pruned downstream reads.
  */
class Pipeline(spark: SparkSession, inputDir: String,
               names: Schemas.FamilyNames = Schemas.FamilyNames(),
               partitionByFips: Boolean = false,
               logFile: Option[String] = None) {

  private val rawDir = s"$inputDir/raw"
  private val unzippedDir = s"$inputDir/unzipped"
  private val stagingDir = s"$inputDir/staging"
  private val unifiedDir = s"$inputDir/unified"

  /** Phase 1 (fa-etl.py:510-521): scaffold + validate raw/ exists. */
  def scaffold(): Unit = {
    require(Files.isDirectory(Paths.get(rawDir)),
      s"no raw/ subdirectory under $inputDir")
    Seq(unzippedDir, stagingDir, unifiedDir)
      .foreach(d => Files.createDirectories(Paths.get(d)))
  }

  /** Phase 2 (fa-etl.py:533-545): classify raw files by family substring;
    * ≥1 file per family or abort. */
  def classifyRaw(): Map[String, Seq[String]] = {
    val files = Files.list(Paths.get(rawDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toList
    val sorted = names.all.map(fam => fam -> files.filter(_.contains(fam))).toMap
    sorted.collect { case (fam, Nil) => fam } match {
      case missing if missing.nonEmpty =>
        throw new IllegalArgumentException(
          s"raw/ has no file for families: ${missing.mkString(", ")}")
      case _ => sorted
    }
  }

  /** Unzip every raw file of a family, return a multi-path CSV scan of all
    * of them at once (header-named all-string columns; no inference pass). */
  private def readFamily(files: Seq[String]): DataFrame = {
    val txts = files.flatMap(f => Sources.unzip(s"$rawDir/$f", unzippedDir))
    spark.read
      .option("sep", "|")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(txts: _*)
  }

  private val log = org.apache.log4j.Logger.getLogger(classOf[Pipeline])
  // the session's global WARN level shouldn't silence pipeline telemetry
  // (the reference always logs its stage lines — fa-etl.py:524-526)
  log.setLevel(org.apache.log4j.Level.INFO)

  /** Process RSS in MB via /proc/self/status — the direct analog of the
    * reference's psutil `mem_profile` (fa-etl.py:6-11). -1 where /proc is
    * unavailable (non-Linux dev boxes). */
  private def rssMb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmRSS:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024)
      .getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** O4 (fa-etl.py:6-11,523-526): per-stage wall time + real memory — JVM
    * used heap and process RSS. (Round 1 logged the status tracker's
    * on-heap STORAGE memory, which is ~0 unless something is cached —
    * a telemetry line with no signal.) Lines also tee to `logFile` for
    * parity with the reference's --log_file.
    *
    * The four family branches run at once, so stage wall times overlap:
    * a line is written when its stage ends, `wall` covers that stage
    * alone (in milliseconds, so a stage's span is [end − wall, end] to
    * the millisecond), and lines of different branches interleave. Each
    * line is one write under a lock, so concurrent stages never split a
    * line. */
  private def logged(name: String)(body: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = body
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20
    val line = f"stage=$name wall=${(System.nanoTime() - t0) / 1e9}%.3fs " +
      f"heapUsedMb=$heapMb rssMb=$rssMb"
    log.info(line)
    logFile.foreach { f =>
      synchronized {
        Files.writeString(Paths.get(f), s"${java.time.Instant.now()} $line\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
    out
  }

  private def stage(name: String)(compute: => DataFrame): DataFrame =
    logged(name)(Sources.stageParquet(spark, s"$stagingDir/$name",
      if (partitionByFips) Seq("FIPS") else Nil)(compute))

  private def stageNoPart(name: String)(compute: => DataFrame): DataFrame =
    logged(name)(Sources.stageParquet(spark, s"$stagingDir/$name")(compute))

  /** Phases 3–5: convert the four families as concurrent branches, then
    * the unified join once all four are staged. Returns the merged panel
    * (also written to unified/merged.parquet). */
  def run(): DataFrame = {
    scaffold()
    val raw = classifyRaw()
    def read(family: String): DataFrame = readFamily(raw(family))

    val Seq(rankedDeed, prop, taxHist, rankedValHist) = concurrently(Seq(
      () => {
        val deedClean = stage("Deed")(Stages.cleanSales(read(names.deed)))
        stageNoPart("ranked_Deed")(Stages.rankSales(deedClean))
      },
      () => stage(names.annual)(Stages.cleanProp(read(names.annual))),
      () => stageNoPart(names.taxHist)(Stages.cleanTaxHist(read(names.taxHist))),
      () => {
        val valHistClean = stageNoPart(names.valueHistory)(
          Stages.cleanValHist(read(names.valueHistory)))
        stageNoPart(s"ranked_${names.valueHistory}")(
          Stages.rankValHist(valHistClean))
      }))

    val merged = Stages.unifiedJoin(rankedValHist, prop, rankedDeed, taxHist)
    val out = Sources.sinkParquet(merged, s"$unifiedDir/merged.parquet")
    cleanup()
    out
  }

  /** Runs the branches at once, one thread each of a pool made here, so
    * the threads inherit the caller's Spark local properties (job group,
    * description, tags); returns their results in order. If a branch
    * throws, the jobs of the others are cancelled through a job tag of
    * this run, and that branch's exception is rethrown once every branch
    * has ended: no job of the run is left writing under staging/, and no
    * pool thread outlives the call. */
  private def concurrently(branches: Seq[() => DataFrame]): Seq[DataFrame] = {
    val sc = spark.sparkContext
    val tag = s"fa-pipeline-${UUID.randomUUID()}"
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(branches.size, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"fa-pipeline-${threads.size + 1}")
        threads.add(t)
        t
      }
    })
    val done = new ExecutorCompletionService[DataFrame](pool)
    var failed = true
    try {
      // the tag lands in the pool thread's own copy of the properties
      val futures = branches.map(b => done.submit { () => sc.addJobTag(tag); b() })
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      failed = false
      futures.map(_.get())
    } finally {
      pool.shutdown()
      if (failed) sc.cancelJobsWithTag(tag)
      // re-cancel until the pool drains: a branch between two stages may
      // still submit a job after the first cancellation
      while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        if (failed) sc.cancelJobsWithTag(tag)
      threads.forEach(_.join())
    }
  }

  /** Phase 6 (fa-etl.py:592-595): drop unzipped texts. */
  def cleanup(): Unit = {
    val dir = Paths.get(unzippedDir)
    if (Files.isDirectory(dir)) {
      Files.list(dir).iterator().asScala.foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(dir)
    }
  }
}
