package graft.fa

import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipException, ZipOutputStream}
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftTestBus
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.messageChain

/** End-to-end golden test (SURVEY.md §5.4): synthetic 4-family FA fixture
  * (FIXTURES.md §A) through the full Pipeline; exact expected merged rows,
  * 17-column schema (scratch.ipynb cell-8), grain uniqueness.
  *
  * Fixture is tie-free (distinct RecordingDates within each
  * (PropertyID, year) group) so the rank stage is deterministic — the
  * reference's random tie-break (fa-etl.py:99) can't be replicated
  * cross-engine (SURVEY.md §5).
  */
class FaPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeZip(dir: Path, name: String, header: String,
                       rows: Seq[String]): Unit = {
    val zipPath = dir.resolve(s"$name.txt.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry(s"$name.txt"))
    zos.write((header +: rows).mkString("\n").getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
  }

  /** `extraProp` appends rows to the Prop extract (e.g. damaged keys). */
  private def buildFixture(extraProp: Seq[String] = Nil): String = {
    val base = Files.createTempDirectory("fa_fixture")
    val raw = Files.createDirectories(base.resolve("raw"))
    // Deed: P1 two 2020 sales (latest wins) + one 2021; P2 only
    // non-arms-length (SaleFlag=0); P3 zero/negative/null-key rows dropped,
    // one good 2019 sale, one malformed-date sale (year null, never joins).
    writeZip(raw, "Deed36061",
      "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate",
      Seq(
        "1|100000|20200115|36061|20230101|1X|2|20200110",
        "1|120000|20200320|36061|20230101|6Y|3|20200315",
        "1|130000|20210505|36061|20230101|1A|2|20210501",
        "2|90000|20200710|36061|20230101|1B|5|20200708", // TT 5 -> flag 0
        "2|80000|20200810|36061|20230101|9C|2|20200808", // FATID 9 -> flag 0
        "3|0|20190101|36061|20230101|1D|2|20190101",     // amt 0 dropped
        "3|-5|20190201|36061|20230101|1D|2|20190201",    // amt <0 dropped
        "|70000|20190301|36061|20230101|1D|2|20190301",  // null key dropped
        "3|50000|20190404|36061|20230101|6Z|2|20190401",
        "3|60000|2019ab13|36061|20230101|1Q|3|20190501", // bad date -> null year
      ))
    // Prop: P3 is class C (filtered); P2 exercises zero-geo + null tract +
    // bad geo-status; P4 has no sales (never reaches merged).
    writeZip(raw, "Prop36061",
      "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode",
      Seq(
        "1|R|20230101|40.7|-73.9|1 Main St|New York|NY|1001|36061|12345|100|A",
        "2|R|20230101|0|0|2 Oak Ave|New York|NY|10002|36061||0200|Z",
        "3|C|20230101|40.8|-73.8|3 Pine Rd|New York|NY|10003|36061|54321|300|B",
        "4|R|20230101|40.9|-73.7|4 Elm Ct|New York|NY|10004|36061|11111|400|5",
      ) ++ extraProp)
    writeZip(raw, "TaxHist36061",
      "PropertyID|TaxYear|TaxAmt",
      Seq("1|2020|123456", "1|2021|200000", "2|2020|50000", "3|2019|99999"))
    // ValHist: P1 2020 full cascade + 2021 assd-only; P2 assd-only (no
    // sale -> excluded from merged); P3 assd+market 2019; P5 market-only
    // (dropped by assd anchor).
    writeZip(raw, "ValHist36061",
      "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear",
      Seq(
        "1|500000|2020|600000|2020|550000|2020|2020",
        "1|520000|2021||||  |2021",
        "2|300000|2020|||||2020",
        "3|450000|2019|400000|2019|||2019",
        "5||  |700000|2019|||2019",
      ))
    base.toString
  }

  private def panel(dir: String): Seq[String] =
    new Pipeline(spark, dir).run().collect().map(_.toString).toSeq.sorted

  /** Overwrites a raw zip with bytes that are not a zip file. */
  private def corruptZip(dir: String, name: String): Unit =
    Files.writeString(Paths.get(dir, "raw", s"$name.txt.zip"), "not a zip file")

  private val stageNames =
    Seq("Deed", "ranked_Deed", "Prop", "TaxHist", "ValHist", "ranked_ValHist")

  test("full pipeline: golden merged panel") {
    val dir = buildFixture()
    val merged = new Pipeline(spark, dir).run().cache()

    val expectedCols = Set("PropertyID", "Year", "Value", "MarketTotalValue",
      "ApprTotalValue", "SitusLatitude", "SitusLongitude",
      "SitusFullStreetAddress", "SitusCity", "SitusState", "SitusZIP5",
      "FIPS", "SitusCensusTract", "SitusCensusBlock", "SaleAmt", "TaxAmt",
      "TaxAmtAdjusted")
    assert(merged.columns.toSet == expectedCols, "17-column merged schema")
    assert(merged.columns.length == 17)

    // grain: unique (PropertyID, Year)
    assert(merged.count() == merged.select("PropertyID", "Year").distinct().count())

    val rows = merged
      .select("PropertyID", "Year", "Value", "MarketTotalValue",
        "ApprTotalValue", "SaleAmt", "TaxAmt", "TaxAmtAdjusted",
        "SitusZIP5", "SitusCensusTract", "SitusFullStreetAddress")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)), r.getLong(5), Option(r.get(6)),
        Option(r.get(7)), Option(r.get(8)), Option(r.get(9)), Option(r.get(10))))
      .sortBy(t => (t._1, t._2))

    assert(rows.length == 3)
    // (P1, 2020): latest of two 2020 sales = 120000; full cascade row.
    assert(rows(0) == ((1L, 2020L, 500000L, Some(600000L), Some(550000L),
      120000L, Some(123456L), Some(1234.56), Some("01001"), Some("012345"),
      Some("1 Main St"))))
    // (P1, 2021): assd-only value; single sale.
    assert(rows(1) == ((1L, 2021L, 520000L, None, None,
      130000L, Some(200000L), Some(2000.0), Some("01001"), Some("012345"),
      Some("1 Main St"))))
    // (P3, 2019): prop filtered out (class C) -> null prop attributes.
    assert(rows(2) == ((3L, 2019L, 450000L, Some(400000L), None,
      50000L, Some(99999L), Some(999.99), None, None, None)))
  }

  test("damaged Prop keys: unparseable PropertyIDs drop out instead of " +
    "tripping the m:1 guard") {
    // residential rows whose PropertyID casts to NULL — several of them, so
    // they share one NULL key
    val damaged = Seq(
      "1x|R|20230101|40.1|-73.1|5 Bad St|New York|NY|10005|36061|22222|500|A",
      "N/A|R|20230101|40.2|-73.2|6 Bad St|New York|NY|10006|36061|33333|600|A",
      "#|R|20230101|40.3|-73.3|7 Bad St|New York|NY|10007|36061|44444|700|A")
    val clean = panel(buildFixture())
    assert(clean.length == 3)
    assert(panel(buildFixture(damaged)) == clean)
  }

  test("a duplicated non-NULL Prop PropertyID aborts the run through " +
    "the m:1 guard") {
    // a second residential row for P1, which has sales in the panel
    val dup = Seq(
      "1|R|20230102|40.7|-73.9|1 Main St Apt 2|New York|NY|1001|36061|12345|100|A")
    val e = intercept[Exception] { new Pipeline(spark, buildFixture(dup)).run() }
    assert(messageChain(e).exists(_.contains(
      "right side of m:1 join is not unique on (PropertyID): e.g. key=1")),
      messageChain(e).mkString(" | "))
  }

  test("idempotent restage: second run reuses staging, same result") {
    val dir = buildFixture()
    val p = new Pipeline(spark, dir)
    val first = p.run().count()
    // staging exists now; a fresh Pipeline over the same dir must skip
    // recompute (S6) and produce the identical panel. unzipped/ was
    // cleaned, so a recompute attempt would fail -> skipping is observable.
    val second = new Pipeline(spark, dir).run().count()
    assert(first == second)
  }

  test("a failing branch: its own exception, after the other branches' " +
    "jobs have ended, with no pool thread left") {
    val dir = buildFixture()
    corruptZip(dir, "TaxHist36061")
    intercept[ZipException] { new Pipeline(spark, dir).run() }
    // the status tracker learns of job ends through the listener bus
    GraftTestBus.flush(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName.startsWith("fa-pipeline-") && t.isAlive))
  }

  test("stage log: one whole line per stage while the branches overlap") {
    val dir = buildFixture()
    val logFile = Paths.get(dir, "pipeline.log")
    new Pipeline(spark, dir, logFile = Some(logFile.toString)).run()
    val StageLine =
      """^(\S+) stage=(\S+) wall=([0-9.]+)s heapUsedMb=-?\d+ rssMb=-?\d+$""".r
    val logged = Files.readAllLines(logFile).asScala.toSeq.map {
      case StageLine(at, name, wall) =>
        java.time.Instant.parse(at)
        assert(wall.matches("""\d+\.\d{3}"""), s"$name: wall=$wall is not in ms")
        name
      case other => fail(s"not a stage line: $other")
    }
    assert(logged.length == 6)
    assert(logged.sorted == stageNames.sorted)
    // within a branch the stages still run in order
    assert(logged.indexOf("Deed") < logged.indexOf("ranked_Deed"))
    assert(logged.indexOf("ValHist") < logged.indexOf("ranked_ValHist"))
  }

  test("resume: a lost _SUCCESS marker recomputes only that family") {
    val dir = buildFixture()
    val first = panel(dir)
    val staging = Paths.get(dir, "staging")
    def mtime(st: String) = Files.getLastModifiedTime(staging.resolve(st))
    val before = stageNames.map(st => st -> mtime(st)).toMap
    Files.delete(staging.resolve("TaxHist/_SUCCESS"))
    // a family unzipped again would now fail: its zip is no zip any more
    Seq("Deed36061", "Prop36061", "ValHist36061").foreach(corruptZip(dir, _))
    assert(panel(dir) == first)
    stageNames.filterNot(_ == "TaxHist")
      .foreach(st => assert(mtime(st) == before(st), s"$st was rewritten"))
    assert(mtime("TaxHist") != before("TaxHist"), "TaxHist was not recomputed")
    assert(Files.exists(staging.resolve("TaxHist/_SUCCESS")))
  }

  test("partitionByFips: one FIPS directory per county, and a FIPS-filtered " +
    "read of staged Prop scans only that county's parquet files") {
    val dir = buildFixture()
    val raw = Paths.get(dir, "raw")
    // a second county (raw FIPS without its leading zero) beside 36061
    writeZip(raw, "Deed06037",
      "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate",
      Seq("7|210000|20200601|6037|20230101|1E|2|20200601"))
    writeZip(raw, "Prop06037",
      "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode",
      Seq("7|R|20230101|34.0|-118.2|7 Palm Dr|Los Angeles|CA|90001|6037|22222|700|A"))
    writeZip(raw, "TaxHist06037", "PropertyID|TaxYear|TaxAmt",
      Seq("7|2020|300000"))
    writeZip(raw, "ValHist06037",
      "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear",
      Seq("7|800000|2020|||||2020"))
    assert(new Pipeline(spark, dir, partitionByFips = true).run().count() == 4)

    val prop = Paths.get(dir, "staging", "Prop")
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }
    def parquetFiles(d: Path): Long =
      list(d).count(_.getFileName.toString.endsWith(".parquet")).toLong
    val partitions = list(prop).filter(Files.isDirectory(_))
    assert(partitions.map(_.getFileName.toString).toSet ==
      Set("FIPS=36061", "FIPS=06037"))

    // pruning checked physically: the scan's numFiles metric against the
    // files in the county's partition directory, not the plan text
    val pruned = spark.read.parquet(prop.toString)
      .filter(org.apache.spark.sql.functions.col("FIPS") === "06037")
    val plan = pruned.queryExecution.executedPlan
    // one execution populates this plan instance's scan metrics
    assert(plan.executeCollect().length == 1)
    val scanned = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }
    val countyFiles = parquetFiles(prop.resolve("FIPS=06037"))
    assert(countyFiles > 0 && scanned.contains(countyFiles),
      s"scanned $scanned files; county 06037 has $countyFiles")
    assert(countyFiles < partitions.map(parquetFiles).sum)
  }

  test("unzip refuses two entries that flatten to the same file") {
    val base = Files.createTempDirectory("fa_unzip_clash")
    val zipPath = base.resolve("Deed36061.txt.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    Seq("a/x.txt" -> "first", "b/x.txt" -> "second").foreach { case (n, body) =>
      zos.putNextEntry(new ZipEntry(n))
      zos.write(body.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    val dest = base.resolve("unzipped")
    val e = intercept[IllegalStateException] {
      graft.ops.Sources.unzip(zipPath.toString, dest.toString)
    }
    assert(e.getMessage.contains("'a/x.txt'") && e.getMessage.contains("'b/x.txt'"))
    assert(!Files.exists(dest.resolve("Deed36061.txt__x.txt")), "wrote a clashing entry")
  }

  test("Annual/ValueHistory filename variant (fa-etl.sbatch:28-29 naming)") {
    val base = Files.createTempDirectory("fa_annual")
    val raw = Files.createDirectories(base.resolve("raw"))
    writeZip(raw, "Deed10001",
      "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate",
      Seq("1|100000|20200115|10001|20230101|1X|2|20200110"))
    writeZip(raw, "Annual10001",
      "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode",
      Seq("1|R|20230101|40.7|-73.9|1 Main St|Town|ST|10001|10001|123|1|A"))
    writeZip(raw, "TaxHist10001", "PropertyID|TaxYear|TaxAmt",
      Seq("1|2020|50000"))
    writeZip(raw, "ValueHistory10001",
      "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear",
      Seq("1|500000|2020|||||2020"))
    val merged = new Pipeline(spark, base.toString,
      names = Schemas.FamilyNames(annual = "Annual",
        valueHistory = "ValueHistory")).run()
    assert(merged.count() == 1)
    assert(merged.columns.length == 17)
  }

  test("CLI main runs the fa-etl.sh invocation shape end to end") {
    val base = Files.createTempDirectory("fa_cli")
    val raw = Files.createDirectories(base.resolve("raw"))
    writeZip(raw, "Deed20001",
      "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate",
      Seq("1|250000|20210310|20001|20230101|1X|2|20210301"))
    writeZip(raw, "Prop20001",
      "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode",
      Seq("1|R|20230101|41.1|-74.2|2 Oak St|Ville|ST|20001|20001|456|2|A"))
    writeZip(raw, "TaxHist20001", "PropertyID|TaxYear|TaxAmt",
      Seq("1|2021|60000"))
    writeZip(raw, "ValHist20001",
      "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear",
      Seq("1|600000|2021|||||2021"))
    val logFile = base.resolve("deploy_etl.log")
    Main.main(Array(
      "--input_dir", base.toString,
      "--log_file", logFile.toString,
      "--annual_file_string", "Prop",
      "--value_history_file_string", "ValHist"))
    assert(spark.read.parquet(s"$base/unified/merged.parquet").count() == 1)
    val logged = Files.readString(logFile)
    assert(logged.contains("stage=Deed") && logged.contains("rssMb="))
  }

  test("CLI main rejects missing required flags argparse-style") {
    val e = intercept[IllegalArgumentException] {
      Main.parseArgs(Array("--input_dir", "/tmp/x"))
    }
    assert(e.getMessage.contains("--log_file"))
    assert(e.getMessage.contains("--value_history_file_string"))
  }

  test("CLI main errors on a value flag with a missing value") {
    // a forgotten value must be a startup error, not a silent bind to
    // "true" (which would send telemetry to a file literally named true)
    val e = intercept[IllegalArgumentException] {
      Main.parseArgs(Array("--input_dir", "/tmp/x", "--log_file",
        "--annual_file_string", "Prop",
        "--value_history_file_string", "ValHist"))
    }
    assert(e.getMessage.contains("--log_file") &&
      e.getMessage.contains("expected one argument"))
  }

  test("missing family aborts (fa-etl.py:541-545 presence validation)") {
    val base = Files.createTempDirectory("fa_missing")
    Files.createDirectories(base.resolve("raw"))
    val e = intercept[IllegalArgumentException] {
      new Pipeline(spark, base.toString).run()
    }
    assert(e.getMessage.contains("Deed"))
  }
}
