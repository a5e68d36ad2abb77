package graft.fa

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Exprs, Joins, Windows}

/** The reference's four conversion programs + unified join, re-expressed as
  * composable `DataFrame => DataFrame` stages (SURVEY.md §3; reference
  * fa-etl.py:20-483). Each stage is pure plan construction — materialization
  * (parquet checkpoints, idempotent skip) is the Pipeline's concern.
  */
object Stages {

  import Exprs._

  /** Deed clean (fa-etl.py:60-83): project → key/price filters → casts,
    * yyyyMMdd parses, whitelists → year derivations → SaleFlag. */
  def cleanSales(raw: DataFrame): DataFrame =
    raw.select(Schemas.deedColumns.map(col): _*)
      .filter(col("PropertyID").isNotNull)
      .withColumn("PropertyID", castOrNull(col("PropertyID"), LongType))
      .withColumn("SaleAmt", castOrNull(col("SaleAmt"), LongType))
      .filter(col("SaleAmt") > 0 && col("SaleAmt").isNotNull)
      .withColumn("RecordingYearSlice", strPrefix(col("RecordingDate"), 4))
      .withColumn("FIPS", padKey(col("FIPS"), 5))
      .withColumn("RecordingDate", parseYyyymmdd(col("RecordingDate")))
      .withColumn("SaleDate", parseYyyymmdd(col("SaleDate")))
      .withColumn("FATimeStamp", parseYyyymmdd(col("FATimeStamp")))
      .withColumn("FATransactionID_1", strPrefix(col("FATransactionID"), 1))
      .withColumn("TransactionType",
        whitelistElseNull(col("TransactionType").cast(StringType),
          Seq("1", "2", "3", "4", "5", "6")))
      .withColumn("RecordingYear", year(col("RecordingDate")).cast(LongType))
      .withColumn("SaleYear", year(col("SaleDate")).cast(LongType))
      .withColumn("FATimeStampYear", year(col("FATimeStamp")).cast(LongType))
      .withColumn("SaleFlag",
        when(col("FATransactionID_1").isin("1", "6") &&
          col("TransactionType").isin("2", "3"), 1).otherwise(0))

  /** Deed rank (fa-etl.py:96-106): keep the latest arms-length sale per
    * (RecordingYear, PropertyID). The reference breaks equal-date ties
    * randomly (rank(method="random", seed=1)); engines can't share a seeded
    * RNG, so the tie-break is a deterministic total order (SURVEY.md §5).
    * Spark plans the rank filter with a `WindowGroupLimit` pre-reduction
    * before the exchange, so the shuffle carries ~|groups| rows. */
  def rankSales(cleaned: DataFrame): DataFrame =
    Windows.topOnePerGroup(
        cleaned.filter(col("SaleFlag") === 1),
        Seq(col("RecordingYear"), col("PropertyID")),
        Seq(col("RecordingDate").desc, col("SaleAmt").desc,
          col("SaleDate").desc_nulls_last))
      .select(col("PropertyID"), col("SaleAmt"), col("RecordingYear"))

  /** Prop/Annual clean (fa-etl.py:161-176): residential filter, geo
    * zero→null, zero-padded keys, geo-status whitelist, strict concat with
    * FIPS fallback. */
  def cleanProp(raw: DataFrame): DataFrame =
    raw.select(Schemas.propColumns.map(col): _*)
      .filter(col("PropertyClassID") === "R")
      .filter(col("PropertyID").isNotNull)
      .withColumn("PropertyID", castOrNull(col("PropertyID"), LongType))
      .withColumn("FATimeStamp", parseYyyymmdd(col("FATimeStamp")))
      .withColumn("SitusLatitude",
        zeroToNull(castOrNull(col("SitusLatitude"), DoubleType)))
      .withColumn("SitusLongitude",
        zeroToNull(castOrNull(col("SitusLongitude"), DoubleType)))
      .withColumn("FIPS", padKey(col("FIPS"), 5))
      .withColumn("SitusCensusTract", padKey(col("SitusCensusTract"), 6))
      .withColumn("SitusCensusBlock", padKey(col("SitusCensusBlock"), 4))
      .withColumn("SitusZIP5", padKey(col("SitusZIP5"), 5))
      .withColumn("SitusGeoStatusCode",
        whitelistElseNull(col("SitusGeoStatusCode").cast(StringType),
          Seq("5", "7", "9", "A", "B", "X", "R")))
      .withColumn("FIPS_SitusCensusTract",
        concatStrictOrElse("_", col("FIPS"), col("FIPS"), col("SitusCensusTract")))

  /** TaxHist clean (fa-etl.py:227-235): casts + the ×100 adjustment. */
  def cleanTaxHist(raw: DataFrame): DataFrame =
    raw.select(Schemas.taxHistColumns.map(col): _*)
      .withColumn("PropertyID", castOrNull(col("PropertyID"), LongType))
      .withColumn("TaxYear", castOrNull(col("TaxYear"), LongType))
      .withColumn("TaxAmt", castOrNull(col("TaxAmt"), LongType))
      .withColumn("TaxAmtAdjusted", col("TaxAmt").cast(DoubleType) / 100)

  /** ValHist clean (fa-etl.py:297-308): all-Int64 casts. */
  def cleanValHist(raw: DataFrame): DataFrame =
    raw.select(Schemas.valHistColumns.map(col): _*)
      .select(Schemas.valHistColumns.map(c => castOrNull(col(c), LongType).as(c)): _*)

  /** One per-measure table of the manual unpivot (fa-etl.py:325-346):
    * (PropertyID, <measure>, Year) with value & year non-null. */
  private def measureTable(cleaned: DataFrame, valueCol: String,
                           yearCol: String): DataFrame =
    cleaned.withColumn("Year", col(yearCol))
      .filter(col(valueCol).isNotNull && col(yearCol).isNotNull)
      .select(col("PropertyID"), col(valueCol), col("Year"))

  /** ValHist rank (fa-etl.py:325-419): unpivot → assd-anchored left joins →
    * Assd/Market/Appr preference cascade → Assd-only filter. The
    * empty-appraisal special case (fa-etl.py:366-391) needs no branch: a
    * left join against an empty side yields the same null column. */
  def rankValHist(cleaned: DataFrame): DataFrame = {
    val assd = measureTable(cleaned, "AssdTotalValue", "AssdYear")
    val market = measureTable(cleaned, "MarketTotalValue", "MarketValueYear")
    val appr = measureTable(cleaned, "ApprTotalValue", "ApprYear")
    val joined = Joins.leftJoin(
      Joins.leftJoin(assd, market, Seq("PropertyID", "Year")),
      appr, Seq("PropertyID", "Year"))
    val (value, used) = preferNonZero(Seq(
      "Assd" -> col("AssdTotalValue"),
      "Market" -> col("MarketTotalValue"),
      "Appr" -> col("ApprTotalValue")))
    joined
      .withColumn("Value", value.cast(LongType))
      .withColumn("AssessmentUsed", used)
      .filter(col("AssessmentUsed") === "Assd")
      .select("PropertyID", "Year", "Value", "MarketTotalValue", "ApprTotalValue")
  }

  /** Unified join (fa-etl.py:429-483): ranked_valhist ⟕ prop ⟕ ranked_deed
    * ⟕ taxhist, SaleAmt-not-null filter (Catalyst converts the deed join to
    * inner), drop helper columns.
    *
    * Scale: prop is the dimension side (unique on PropertyID) →
    * broadcastable per county, but national-scale prop exceeds broadcast.
    * Without broadcast the plan has SIX exchanges, not one per side:
    * prop is shuffled twice on PropertyID, once for the m:1 guard's
    * window and once for the join, because the guard's `CASE WHEN`
    * rewrites the key column; ranked_valhist is shuffled for the prop
    * join; and the joined fact side is shuffled again on (PropertyID,
    * Year) for the deed and taxhist joins, each of whose right sides is
    * shuffled once on its (PropertyID, year) keys.
    *
    * The prop join enforces the reference's `validate='m:1'` intent
    * (fa-etl.py:464): a duplicated PropertyID in prop would silently fan
    * out the panel, so it aborts instead — LAZILY
    * (Joins.withUniqueKeyGuard rides the join's execution), keeping this
    * function's pure-plan-construction contract: building the plan runs
    * zero jobs. Prop rows with a NULL PropertyID match nothing and pass. */
  def unifiedJoin(rankedValHist: DataFrame, prop: DataFrame,
                  rankedDeed: DataFrame, taxHist: DataFrame): DataFrame =
    Joins.leftJoinValidated(rankedValHist, prop, Seq("PropertyID"), expect = "m:1")
      .transform(d => Joins.leftJoinRenamed(d, rankedDeed,
        Seq("PropertyID" -> "PropertyID", "Year" -> "RecordingYear")))
      .transform(d => Joins.leftJoinRenamed(d, taxHist,
        Seq("PropertyID" -> "PropertyID", "Year" -> "TaxYear")))
      .filter(col("SaleAmt").isNotNull)
      .drop("PropertyClassID", "FATimeStamp", "SitusGeoStatusCode",
        "FIPS_SitusCensusTract", "AssessmentUsed")
}
