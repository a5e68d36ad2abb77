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
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")

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
    * the graft SQL functions. */
  def tune(spark: SparkSession): SparkSession = {
    GraftExtensions.register(spark)
    sqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
