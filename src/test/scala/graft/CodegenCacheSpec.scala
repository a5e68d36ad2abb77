package graft

import org.apache.spark.GraftTestBus
import org.scalatest.funsuite.AnyFunSuite

/** A warm session reuses its compiled code: the codegen cache that
  * `GraftSession` sizes holds every class a pass of the dedup, similarity
  * and graph queries generates, so a repeated pass does not compile them
  * again. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The queries of perfbench's `dedup_graph_queries` workload. */
  private val queries = Seq("q28_minhash_lsh", "q29_simhash_hybrid",
    "q45_neardup_dedup", "q69_cosine_pairs", "q107_pagerank",
    "q117_jaccard_prefix", "q140_cooccurrence")

  /** Runs every query into a `noop` sink; returns the classes compiled. */
  private def pass(): Long = {
    val before = GraftTestBus.compiledClasses
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
        .format("noop").save()
    }
    GraftTestBus.compiledClasses - before
  }

  test("warm passes of the dedup and graph queries reuse the compiled classes") {
    // The first pass compiles the working set, about 250 classes, unless
    // earlier suites left some in the cache. A warm pass may still compile
    // a few: AQE picks some join strategies from the order in which a
    // query's stages finish, so a warm pass can meet a variant the earlier
    // ones did not (q45's broadcast joins over its checkpointed
    // components, 4 classes each). Spark's default 100-entry cache
    // recompiles about 250 classes on every pass.
    val first = pass()
    val warm = Seq(pass(), pass())
    assert(warm.sum <= 10,
      s"the first pass compiled $first classes, the warm ones ${warm.mkString(" and ")}")
  }
}
