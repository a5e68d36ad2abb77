package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * - `ansi=false`: the reference's Polars semantics are null-on-bad-cast /
  *   null-on-bad-date (fa-etl.py:63,70-72 non-strict casts); Spark 4's
  *   default ANSI mode would raise instead (SURVEY.md §7.3).
  * - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *   — the 100 TB story for skewed keys (hot PropertyIDs / join keys).
  * - UTC session timezone for engine-portable date/timestamp semantics.
  * - `shufflePartitions` sized by the caller to the actual parallelism
  *   (local[N] ⇒ N), not the 200 default.
  * - a codegen cache that holds the operator library's working set
  *   ([[CodegenCacheEntries]]), so a warm session reuses its compiled code.
  *
  * Every main in this repository builds its session here, so each of them
  * gets all of the above; [[tune]] is for sessions built elsewhere.
  */
object GraftSession {

  /** The runtime-settable SQL confs every graft session carries, applied
    * by both the builder and [[tune]].
    *
    * Broadcast threshold stays at the 10 MB default: raising it to 64 MB
    * was measured to HURT in the 8 GB local driver (multi-10MB broadcasts
    * churned the heap; later queries slowed 5×) without speeding the
    * mid-size joins it targeted — see PLANS.md race table. */
  private val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // events.parquet carries TIMESTAMP(NANOS) which Spark's reader
    // rejects; read as long nanos and convert (ops.Events.load)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // partition-column values are NOT type-inferred on read-back:
    // zero-padded keys (FIPS=01001) must stay strings, not become 1001
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    // whole-stage classes are named GeneratedIterator, not
    // GeneratedIteratorForCodegenStage<id>: AQE numbers a query's stages
    // in the order its shuffles finish, which varies from run to run, and
    // an id in the class name makes each numbering a codegen cache miss
    // (see CodegenCacheEntries)
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Size of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100).
    *
    * Spark keeps each class Janino compiled (whole-stage code, projections,
    * orderings) in one Guava cache per JVM, keyed by the generated source.
    * One pass of the seven `dedup_graph_queries` queries (q28, q29, q45,
    * q69, q107, q117, q140) needs about 200 distinct classes (270 with
    * stage ids in the class names). At the default cap every timed pass
    * recompiled about 226 of them: 727 compiles in one perfbench run
    * (`--seed 11 --seconds 12`, 4 vCPU). Guava splits the cap over 4
    * segments and evicts per segment, so the cap keeps far more than 4×
    * headroom over the working set. At 2000 the same run compiles 206
    * classes, 4 of them after the warm-up pass.
    *
    * A constant, not a knob: the conf is static. `CodeGenerator` reads it
    * once per JVM, when it builds its cache at the first codegen, so it
    * only takes effect on a session built here before anything in the JVM
    * has generated code; [[tune]] cannot set it on a session built
    * elsewhere. */
  val CodegenCacheEntries: Int = 2000

  def apply(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
            shufflePartitions: Option[Int] = None,
            appName: String = "graft"): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    sqlConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate silently returns a pre-existing session and IGNORES the
    // builder configs above — re-apply every runtime-settable conf (incl.
    // the requested shuffle partitions) so the factory's guarantees hold
    // either way. Only `master` cannot be changed after the fact.
    tune(spark)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark
  }

  /** Apply the engine's session-level SQL configs to an externally-built
    * session (e.g. the driver's). Idempotent; runtime-settable confs plus
    * the graft SQL functions, each registered once per session. Static
    * confs, such as [[CodegenCacheEntries]], are out of its reach. */
  def tune(spark: SparkSession): SparkSession = {
    GraftExtensions.register(spark)
    sqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
