package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

/** Ingest and sinks for `fa.Pipeline` (SURVEY.md §2.1, reference
  * fa-etl.py:49-55,84,107): driver-side unzip, snappy parquet sinks and an
  * idempotent skip per stage (S6) so a national re-run resumes. The CSV
  * scan itself (S2) is `Pipeline.readFamily`; parquet reads (S3) are plain
  * `spark.read.parquet`.
  */
object Sources {

  /** S4/S5 (fa-etl.py:84,107,419,482): snappy parquet sink, overwrite. */
  def sinkParquet(df: DataFrame, path: String,
                  partitionBy: Seq[String] = Nil): DataFrame = {
    val w = df.write.mode("overwrite").option("compression", "snappy")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** S6 (fa-etl.py:44-47,...): idempotent stage — skip recompute if the
    * committed output already exists (checks Spark's _SUCCESS marker so a
    * partial/failed write is redone, mirroring S7 cleanup-on-failure). */
  def stageParquet(spark: SparkSession, path: String,
                   partitionBy: Seq[String] = Nil)(compute: => DataFrame): DataFrame =
    if (Files.exists(Paths.get(path, "_SUCCESS"))) spark.read.parquet(path)
    else sinkParquet(compute, path, partitionBy)

  /** S1 (fa-etl.py:49-55): extract all entries of a `.zip` into `destDir`;
    * returns extracted file paths. Driver-side ingest utility: one call
    * unzips one file on the calling thread (the reference's unzip is also
    * single-process). `fa.Pipeline` unzips its four families concurrently,
    * one branch thread each, into one shared `destDir`; the zip-stem
    * prefix below keeps their outputs apart. Entry folders are dropped, so
    * two entries of one zip with the same file name in different folders
    * raise `IllegalStateException` naming both, before anything is
    * written. For distributed unzip at
    * scale, feed the zips through `spark.read.format("binaryFile")` and
    * decode per-partition instead. */
  def unzip(zipPath: String, destDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(destDir))
    val zipStem = Paths.get(zipPath).getFileName.toString
      .replaceAll("\\.zip$", "")
    val zf = new ZipFile(zipPath)
    try {
      // prefix with the zip's own name: two county zips may carry the
      // same inner entry name, and a flat shared destDir would silently
      // overwrite one county with another (REPLACE_EXISTING)
      val targets = zf.entries().asScala.filterNot(_.isDirectory).map { e =>
        e -> Paths.get(destDir,
          s"${zipStem}__${Paths.get(e.getName).getFileName.toString}")
      }.toList
      // entries in different folders of one zip flatten to the same file;
      // refuse before writing rather than keep only the last of them
      targets.groupBy(_._2).collectFirst { case (out, clash) if clash.size > 1 =>
        throw new IllegalStateException(s"$zipPath: entries " +
          clash.map(c => s"'${c._1.getName}'").mkString(" and ") +
          s" would both unzip to $out")
      }
      targets.map { case (e, out) =>
        val in = zf.getInputStream(e)
        try Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        out.toString
      }
    } finally zf.close()
  }
}
