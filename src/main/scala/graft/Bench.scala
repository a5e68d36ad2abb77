package graft

/** Driver-run benchmark: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology:
  *  - Each query executes end-to-end into a `noop`-format write. A
  *    `count()` lets parquet skip column decode on projection-only plans
  *    (flattering scan-heavy queries); the noop sink materializes every
  *    projected column without paying sink I/O.
  *  - Every query runs twice and the MIN is reported — single runs showed
  *    ±20% wall variance between otherwise-identical rounds (JIT, page
  *    cache, GC alignment). The JSON carries runs/sink so rounds stay
  *    comparable.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // drift-chasing knobs: SPARK_GRAFT_BENCH_ONLY=q29,q45 restricts to
    // name prefixes; SPARK_GRAFT_BENCH_RUNS=5 raises the per-query run
    // count (min still reported). Defaults reproduce the driver gate.
    val Runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // local[SPARK_GRAFT_CPUS] with as many shuffle partitions
    val spark = GraftSession()
    // Warm the session (executor startup, codegen, parquet footers) so the
    // first timed query doesn't absorb ~3s of one-time cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // failures must be visible: a crashing query must never masquerade as
    // a fast timing (it is reported in "failed" and excluded from totals)
    def pass(): Seq[(String, Double, Boolean)] = names.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
      }
      val t = (System.nanoTime() - t0) / 1e9
      // per-run times on stderr so drift chases see the variance the
      // min-of-runs JSON hides
      if (ok) System.err.println(f"[bench] $name%-24s $t%.3f s")
      (name, t, ok)
    }
    val runs = Seq.fill(Runs)(pass())
    val byName = runs.flatten.groupBy(_._1)
    val results = names.map(_._1).flatMap { n =>
      val rs = byName(n)
      if (rs.forall(_._3)) Some(n -> rs.map(_._2).min) else None
    }
    val failed = names.map(_._1).filterNot(n => byName(n).forall(_._3))
    // ms precision keeps the JSON line compact: the driver records only a
    // byte-limited tail of the output, and 9-decimal seconds over 85+
    // queries pushed the head of the object past that window.
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$fj,"runs":$Runs,"sink":"noop","sf":"$sfDir"}"""
    // the driver keeps only a byte-limited TAIL of stdout, which has
    // truncated the head of the per-query object in past rounds
    // (BENCH_r08 lost q01–q25) — so the full line also lands in a FILE
    // (bench-out.json, overwritten per run; SPARK_GRAFT_BENCH_OUT
    // overrides) and the tail-surviving last stdout line is the line
    // itself, totals included
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench-out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    println(line)
    // compact totals line LAST: whatever tail window the driver keeps,
    // the totals and failure list always survive even when the full
    // per-query object above gets cut
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"failed":$fj,"runs":$Runs,"sink":"noop","sf":"$sfDir","bench_out":"$outFile"}""")
    spark.stop()
  }
}
