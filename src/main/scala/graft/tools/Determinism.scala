package graft.tools

import org.apache.spark.sql.functions._

/** Flake hunter: run queries repeatedly across thread counts and print a
  * canonical content hash per run. Any variation means the query's output
  * depends on scheduling (partial-agg merge order, tie-broken windows, …)
  * and WILL eventually fail the driver's hash gate even if a single run
  * passes.
  *
  * Usage: runMain graft.tools.Determinism <sfDir> [queryName ...]
  * (no names = all queries; 2 thread counts — 32 and 7 — × 2 runs each =
  * 4 hashes per query. A pass is evidence, not proof: sample more runs
  * before trusting a query that mixes floats with repartitioning.)
  */
object Determinism {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    var bad = 0
    for (name <- names) {
      val hashes = for {
        cpus <- Seq("32", "7")
        _ <- 1 to 2
      } yield {
        val spark = graft.GraftSession(master = s"local[$cpus]",
          shufflePartitions = Some(cpus.toInt))
        spark.sparkContext.setLogLevel("ERROR")
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val cols = df.columns.sorted.map(c => col(c).cast("string"))
        val h = df.select(md5(concat_ws("|", cols.toIndexedSeq: _*)).as("r"))
          .agg(md5(concat_ws(",", sort_array(collect_list(col("r"))))).as("h"))
          .head().getString(0)
        spark.stop()
        h
      }
      val ok = hashes.distinct.size == 1
      if (!ok) bad += 1
      println(s"${if (ok) "STABLE " else "FLAKY  "} $name ${hashes.distinct.mkString(" ")}")
    }
    println(s"flaky queries: $bad")
    if (bad > 0) sys.exit(1)
  }
}
