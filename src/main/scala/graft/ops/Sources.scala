package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

/** Sources / sinks (SURVEY.md §2.1, reference fa-etl.py:49-60,84,96,107).
  *
  * Scale notes: explicit schemas (no inference pass over 100 TB of text);
  * PERMISSIVE mode nulls out bad cells like the reference's
  * `ignore_errors=True`; snappy parquet sinks; idempotent skip per stage
  * (S6) so a national re-run resumes. Globs/multi-file paths make the
  * per-county Python loop (fa-etl.py:548-565) a single distributed read.
  */
object Sources {

  /** S2 (fa-etl.py:60,161,227,297): pipe-delimited CSV scan with explicit
    * schema, tolerant of bad cells and ragged lines. */
  def csvPipe(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", "|")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("dateFormat", "yyyyMMdd")
      .csv(paths: _*)

  /** S3 (fa-etl.py:96,325,...): parquet scan — row-group parallelism,
    * stats pruning, partition discovery are built in. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.parquet(paths: _*)

  /** JSON-lines scan with explicit schema (engine-library generality; the
    * reference is CSV/parquet-only). PERMISSIVE like csvPipe. */
  def jsonLines(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(paths: _*)

  /** ORC scan/sink (columnar alternative to parquet; same pushdown/stats
    * machinery in Spark). */
  def orc(spark: SparkSession, paths: String*): DataFrame =
    spark.read.orc(paths: _*)

  def sinkOrc(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").option("compression", "snappy").orc(path)
    df.sparkSession.read.orc(path)
  }

  /** Raw line source (one string column `value`) — the ingest shape for
    * unstructured text corpora. */
  def textLines(spark: SparkSession, paths: String*): DataFrame =
    spark.read.text(paths: _*)

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

  /** WARC/WET record source (extension surface — the Common Crawl
    * container every web-scale pretraining corpus starts from): each
    * record parses to (warc_type, url, warc_date, content_length,
    * payload). Implemented as a DISTRIBUTED scan — `spark.read.text`
    * with the record header sentinel `WARC/1.0\r\n` as the line
    * separator — so a directory of WET files is one multi-file read;
    * header fields lift out with anchored regexes and the payload is
    * everything past the first blank line, trailing record separators
    * trimmed.
    *
    * Honesty notes for the 100 TB path:
    *  - Splitting on the sentinel (not Content-Length) misparses a
    *    payload that literally contains `WARC/1.0\r\n`. WET text
    *    extracts essentially never do; for adversarial raw-response WARC
    *    archives, use a Content-Length-driven custom InputFormat
    *    instead.
    *  - `.wet.gz` files decompress transparently via the Hadoop codec
    *    but are NOT splittable — one task per file, which matches how
    *    Common Crawl shards them (~150 MB each): parallelism = file
    *    count, the standard arrangement. */
  def warcRecords(spark: SparkSession, paths: String*): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("lineSep", "WARC/1.0\r\n").text(paths: _*)
      // the bytes before the first sentinel (e.g. nothing, or a BOM) are
      // not a record; real records always carry a WARC-Type header
      .filter(col("value").rlike("(?m)^WARC-Type:"))
      .select(
        regexp_extract(col("value"), "(?m)^WARC-Type:\\s*(\\S+)", 1)
          .as("warc_type"),
        regexp_extract(col("value"), "(?m)^WARC-Target-URI:\\s*(\\S+)", 1)
          .as("url"),
        regexp_extract(col("value"), "(?m)^WARC-Date:\\s*(\\S+)", 1)
          .as("warc_date"),
        regexp_extract(col("value"), "(?m)^Content-Length:\\s*(\\d+)", 1)
          .cast("long").as("content_length"),
        regexp_replace(element_at(split(col("value"), "\r\n\r\n", 2), 2),
          "(\r\n)+$", "").as("payload"))
  }

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
