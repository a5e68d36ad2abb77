package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded synthetic First American raw corpus: one `.txt.zip` per county
  * and file family (Deed, Prop, TaxHist, ValHist), pipe-delimited with a
  * header line, in the layout `fa.Pipeline` reads from `raw/`.
  *
  * @param counties       number of counties (FIPS codes)
  * @param propsPerCounty properties per county; Prop has one row each
  * @param years          assessment years in TaxHist and ValHist; each
  *                       property's history covers the last one to `years`
  *                       of them, and Deed sales fall in the same years
  * @param salesSkew      Pareto tail of sales per property:
  *                       P(sales >= k) = k^(-1/salesSkew), capped at 40
  * @param malformedFrac  share of data lines that get one unparseable cell
  *                       or lose their last one to three fields (ragged),
  *                       which the pipeline's PERMISSIVE read turns to nulls
  * @param emptyAssdFrac  share of ValHist rows with an empty AssdTotalValue
  * @param intactPropKeys leave Prop's PropertyID undamaged. This works
  *                       around a defect: `Joins.withUniqueKeyGuard` counts
  *                       NULL keys as duplicates, so a Prop extract with two
  *                       or more unparseable PropertyIDs aborts
  *                       `fa.Pipeline.run`
  */
final case class FaParams(counties: Int, propsPerCounty: Int, years: Int,
                          salesSkew: Double, malformedFrac: Double,
                          emptyAssdFrac: Double, intactPropKeys: Boolean)

/** Data-line counts and byte sizes of one generated family. */
final case class FamilyStats(rows: Long, zipBytes: Long, textBytes: Long)

object FaCorpus {
  private val FirstYear = 2015

  /** The timed corpus. Sized so the staged Prop table exceeds Spark's
    * 10 MB broadcast threshold, as a national run's does; see METRICS.md.
    * Prop keys stay intact (see [[FaParams]]). */
  val timed: FaParams = FaParams(counties = 16, propsPerCounty = 17000,
    years = 2, salesSkew = 0.4, malformedFrac = 0.01, emptyAssdFrac = 0.05,
    intactPropKeys = true)

  /** A small check-only corpus whose damage may hit Prop's PropertyID
    * (about 13 unparseable keys), so the NULL-key defect shows. */
  val damagedKeys: FaParams = FaParams(counties = 2, propsPerCounty = 3000,
    years = 2, salesSkew = 0.4, malformedFrac = 0.05, emptyAssdFrac = 0.05,
    intactPropKeys = false)

  /** Generates both corpora in a process of its own, so that the
    * benchmark JVM's memory and JIT state are the program's alone:
    * `FaCorpus <dir> <seed> <threads>` writes `<dir>/raw`,
    * `<dir>/keys/raw` and `<dir>/corpus.tsv` (family, rows, zip bytes and
    * text bytes of the timed corpus). */
  def main(args: Array[String]): Unit = {
    val Array(dir, seed, threads) = args
    val stats = generate(s"$dir/raw", timed, seed.toLong, threads.toInt)
    generate(s"$dir/keys/raw", damagedKeys, seed.toLong, threads.toInt)
    Files.writeString(Paths.get(dir, "corpus.tsv"), stats.toSeq.sortBy(_._1)
      .map { case (f, s) => s"$f\t${s.rows}\t${s.zipBytes}\t${s.textBytes}" }
      .mkString("", "\n", "\n"))
  }

  def readStats(dir: String): Map[String, FamilyStats] =
    Files.readAllLines(Paths.get(dir, "corpus.tsv")).asScala.map { l =>
      val Array(f, r, z, t) = l.split("\t")
      f -> FamilyStats(r.toLong, z.toLong, t.toLong)
    }.toMap

  val headers: Map[String, String] = Map(
    "Deed" -> "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate|DocumentNumber|BuyerName",
    "Prop" -> "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode|YearBuilt|LotSizeSqFt",
    "TaxHist" -> "PropertyID|TaxYear|TaxAmt|TaxRateCodeArea",
    "ValHist" -> "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear")

  private val streets = Array("Oak", "Maple", "Cedar", "Pine", "Elm", "Walnut",
    "Hickory", "Willow", "Birch", "Spruce", "Lake", "Hill", "River", "Park",
    "Ridge", "Meadow", "Forest", "Sunset", "Highland", "Church", "Mill",
    "Spring", "Valley", "Washington", "Lincoln", "Jefferson", "Madison")
  private val directions = Array("", "", "", "N ", "S ", "E ", "W ", "NE ",
    "NW ", "SE ", "SW ")
  private val suffixes = Array("St", "Ave", "Rd", "Blvd", "Dr", "Ln", "Ct",
    "Way", "Pl", "Ter")
  private def pad(n: Int, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** Degrees with six decimals, as the vendor files print them. */
  private def deg(d: Double): String = {
    val micro = math.round(math.abs(d) * 1e6)
    (if (d < 0) "-" else "") + (micro / 1000000) + "." + pad((micro % 1000000).toInt, 6)
  }
  private val garbage = Array("N/A", "#VALUE!", "12a4", "?", "--", "0x1F", "NULL?")

  /** Writes the corpus under `rawDir` (counties in parallel, each from
    * its own seeded generator); returns per-family statistics. */
  def generate(rawDir: String, p: FaParams, seed: Long,
               threads: Int): Map[String, FamilyStats] = {
    Files.createDirectories(Paths.get(rawDir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val perCounty = try Await.result(Future.traverse((0 until p.counties).toList) { c =>
      Future {
        val fips = pad(1001 + c * 2, 5)
        val rng = new Random(seed * 7919L + c)
        countyLines(c, fips, p, rng).map { case (fam, rows) =>
          fam -> writeZip(rawDir, s"$fam$fips", headers(fam), rows, p, fam, rng)
        }
      }
    }, Duration.Inf) finally pool.shutdown()
    headers.keys.map { fam =>
      val s = perCounty.map(_(fam))
      fam -> FamilyStats(s.map(_.rows).sum, s.map(_.zipBytes).sum,
        s.map(_.textBytes).sum)
    }.toMap
  }

  private def countyLines(c: Int, fips: String, p: FaParams,
                          rng: Random): Map[String, IndexedSeq[Array[String]]] = {
    def pid(i: Int): String = (c.toLong * 10000000L + i + 1).toString
    def day(y: Int): String =
      (y * 10000 + (1 + rng.nextInt(12)) * 100 + 1 + rng.nextInt(28)).toString
    val years = FirstYear until FirstYear + p.years
    val lat0 = 30.0 + rng.nextDouble() * 15
    val lon0 = -120.0 + rng.nextDouble() * 45

    val deed = (0 until p.propsPerCounty).flatMap { i =>
      val u = 1.0 - rng.nextDouble()
      val sales = math.min(40, math.pow(u, -p.salesSkew).toInt)
      (0 until sales).map { s =>
        val rec = day(years(rng.nextInt(years.size)))
        Array(pid(i), (40000 + rng.nextInt(960000)).toString, rec, fips,
          day(2023), s"${"13469".charAt(rng.nextInt(5))}${rng.nextInt(1000000)}",
          (1 + rng.nextInt(7)).toString, if (rng.nextInt(10) == 0) "" else rec,
          s"D${rng.nextInt(100000000)}", s"BUYER ${rng.nextInt(100000)}")
      }
    }
    val prop = (0 until p.propsPerCounty).map { i =>
      Array(pid(i), if (rng.nextInt(10) == 0) "C" else "R", day(2023),
        if (rng.nextInt(50) == 0) "0" else deg(lat0 + rng.nextDouble() * 0.8),
        if (rng.nextInt(50) == 0) "0" else deg(lon0 - rng.nextDouble() * 0.8),
        s"${1 + rng.nextInt(29999)} ${directions(rng.nextInt(directions.length))}" +
          s"${streets(rng.nextInt(streets.length))} ${streets(rng.nextInt(streets.length))} " +
          suffixes(rng.nextInt(suffixes.length)) +
          (if (rng.nextInt(3) == 0) s" UNIT ${1 + rng.nextInt(2400)}" else ""),
        s"TOWN ${c * 10 + rng.nextInt(10)}", "ST", (500 + rng.nextInt(99400)).toString,
        if (rng.nextInt(100) == 0) fips.drop(1) else fips,
        (1 + rng.nextInt(999999)).toString, (1 + rng.nextInt(9999)).toString,
        "579ABXRQ".charAt(rng.nextInt(8)).toString,
        (1900 + rng.nextInt(124)).toString, (1000 + rng.nextInt(50000)).toString)
    }
    // history length per property, shared by its TaxHist and ValHist rows
    val since = IndexedSeq.fill(p.propsPerCounty)(years.last - rng.nextInt(years.size))
    val taxHist = (0 until p.propsPerCounty).flatMap { i =>
      years.filter(_ >= since(i)).map(y => Array(pid(i), y.toString,
        (50000 + rng.nextInt(2000000)).toString, pad(rng.nextInt(999), 3)))
    }
    val valHist = (0 until p.propsPerCounty).flatMap { i =>
      years.filter(_ >= since(i)).map { y =>
        val assd =
          if (rng.nextDouble() < p.emptyAssdFrac) ""
          else if (rng.nextInt(40) == 0) "0"
          else (100000 + rng.nextInt(900000)).toString
        val hasAppr = rng.nextInt(4) == 0
        Array(pid(i), assd, y.toString, (150000 + rng.nextInt(900000)).toString,
          y.toString, if (hasAppr) (120000 + rng.nextInt(900000)).toString else "",
          if (hasAppr) y.toString else "", y.toString)
      }
    }
    Map("Deed" -> deed, "Prop" -> prop, "TaxHist" -> taxHist, "ValHist" -> valHist)
  }

  /** Damages a line with probability `malformedFrac`: one cell becomes
    * unparseable text, or (one time in three) the last one to three fields
    * are dropped. With `intactPropKeys`, Prop's PropertyID is never the
    * damaged cell. */
  private def damage(cells: Array[String], fam: String, p: FaParams,
                     rng: Random): String = {
    if (rng.nextDouble() >= p.malformedFrac) cells.mkString("|")
    else if (rng.nextInt(3) == 0)
      cells.dropRight(1 + rng.nextInt(math.min(3, cells.length - 2))).mkString("|")
    else {
      val first = if (fam == "Prop" && p.intactPropKeys) 1 else 0
      val i = first + rng.nextInt(cells.length - first)
      cells.updated(i, garbage(rng.nextInt(garbage.length))).mkString("|")
    }
  }

  private def writeZip(dir: String, stem: String, header: String,
                       rows: IndexedSeq[Array[String]], p: FaParams, fam: String,
                       rng: Random): FamilyStats = {
    val path = Paths.get(dir, s"$stem.txt.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    var text = 0L
    try {
      zos.putNextEntry(new ZipEntry(s"$stem.txt"))
      def line(s: String): Unit = {
        val b = (s + "\n").getBytes(UTF_8)
        text += b.length
        zos.write(b)
      }
      line(header)
      rows.foreach(r => line(damage(r, fam, p, rng)))
      zos.closeEntry()
    } finally zos.close()
    FamilyStats(rows.size.toLong, Files.size(path), text)
  }
}
