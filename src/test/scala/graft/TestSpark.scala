package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest guidance in the
  * project build: a session per suite is wasteful; tests are read-only). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession(master = "local[4]", shufflePartitions = Some(4),
      appName = "graft-test")

  /** The messages along an exception's cause chain: a Spark job failure
    * wraps the raised error, so tests match on the whole chain. */
  def messageChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(x => Option(x.getMessage)).toSeq
}
