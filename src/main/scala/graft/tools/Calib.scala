package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host calibration for the CI time budgets of [[Stress]]:
  * times a fixed data-independent shape (hash CPU + one shuffle) in the
  * current warm JVM and scales every budget by how much slower this host
  * is than the reference host the absolute numbers were measured on.
  * Never scales DOWN (a fast host keeps the reference headroom).
  * `GRAFT_STRESS_SCALE` overrides the multiplier explicitly (set it when
  * wall-clock itself is untrustworthy, e.g. an over-subscribed CI box).
  */
private[tools] object Calib {
  /** Calibration time for the reference host (local[32], 2026-08). */
  val RefSec = 2.0

  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 32)
      .select(pmod(hash(col("id")), lit(100000)).as("k"),
        md5(col("id").cast("string")).as("h"))
      .groupBy("k").agg(count(lit(1)).as("c"), max(col("h")).as("m"))
      .agg(sum(col("c")), max(col("m"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def budgetScale(spark: SparkSession): Double =
    sys.env.get("GRAFT_STRESS_SCALE").map(_.toDouble).getOrElse {
      calibrate(spark) // warm the code path; time the second run
      val calibSec = calibrate(spark)
      println(f"CALIB=$calibSec%.2fs ref=$RefSec%.2fs")
      math.max(1.0, calibSec / RefSec)
    }
}
