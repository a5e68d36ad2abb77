package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot diff — the CDC-shaped comparison of two versions of a keyed
  * table (yesterday's corpus vs today's, a re-run vs its golden output):
  * one row per key present in either side, classified
  * `added` / `removed` / `changed` / `unchanged` with the list of
  * changed columns.
  *
  * Scale shape: ONE full-outer equi-join on the keys — each side
  * shuffles once (SMJ), the per-row comparison is codegen'd column
  * equality, and nothing aggregates: cost is two scans + two exchanges
  * regardless of how many columns are compared. Snapshots bucketed by
  * the key on disk (Spark bucketed tables) diff with no exchange at all. The
  * output is itself narrow (keys + status + changed column names), so
  * downstream consumers (incremental refresh, alerting) never touch the
  * wide payloads again.
  */
object Snapshot {

  /** Diff `newDf` against `oldDf` on `keys`. Both sides must share the
    * schema (same value columns; enforced). Null-safe comparison: a
    * column going null→non-null or non-null→null is a change, null→null
    * is not (`<=>`). `unchanged` rows are dropped unless
    * `includeUnchanged` — at 100 TB they are the overwhelming mass, and
    * filtering them before the result materializes is the point. */
  def diff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
           includeUnchanged: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(oldDf.columns.toSeq == newDf.columns.toSeq,
      s"schemas differ: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    val valueCols = oldDf.columns.filterNot(keys.contains).toSeq
    val o = oldDf.select(
      keys.map(col) :+ struct(valueCols.map(col): _*).as("__old"): _*)
    val n = newDf.select(
      keys.map(col) :+ struct(valueCols.map(col): _*).as("__new"): _*)
    val joined = o.join(n, keys, "full_outer")
    val changed: Column = filter(
      array(valueCols.map(c => when(
        !(col(s"__old.$c") <=> col(s"__new.$c")), lit(c))): _*),
      x => x.isNotNull)
    val status = when(col("__old").isNull, "added")
      .when(col("__new").isNull, "removed")
      .when(size(changed) > 0, "changed")
      .otherwise("unchanged")
    val out = joined.select(
      keys.map(col) :+ status.as("status") :+
        when(status === "changed", changed)
          .otherwise(array().cast("array<string>")).as("changed_cols"): _*)
    if (includeUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** SCD TYPE-1 MERGE — apply a CDC change batch to a keyed base
    * snapshot, last-write-wins (the batch face of Delta/Iceberg `MERGE
    * INTO`, and the inverse of [[diff]]: `applyCdc(old, diff-as-changes)`
    * reconstructs `new`). `changes` carries the base's key + value
    * columns plus `seqCol` (change order within the batch) and `opCol`.
    * Per key, only the HIGHEST-`seqCol` change applies: an `upsertOp`
    * change replaces the base row (or inserts a new one); a change with
    * any other op, such as "D", deletes it. Untouched base rows pass
    * through. Output:
    * the merged snapshot with a `src` column (`base` = passed through
    * unchanged, `cdc` = inserted/replaced by the batch).
    *
    * PRECONDITION: `seqCol` totally orders each key's changes (at most
    * one change per (key, seq)) — with ties the surviving change is
    * engine-dependent, exactly the ambiguity a CDC log's LSN exists to
    * remove.
    *
    * Scale shape: ONE window top-1 over the (small) change batch on the
    * key, then ONE left-anti equi-join of the base against the change
    * keys plus a union — the base table is never window-sorted and never
    * aggregated, and when the batch is broadcast-sized the anti-join
    * ships no base bytes at all (AQE picks the broadcast side at
    * runtime). At 100 TB this is the nightly-merge shape: cost scales
    * with the base scan + the batch, not base × batch. */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
               seqCol: String, opCol: String,
               upsertOp: String = "U"): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    // the provenance column is appended below — a base that already
    // carries one would pass the shape check (it lands in valueCols)
    // and then be silently overwritten with "base"/"cdc"
    require(!base.columns.contains("src"),
      "base must not carry a 'src' column (reserved for provenance)")
    val valueCols = base.columns.filterNot(keys.contains).toSeq
    val expected = (keys ++ valueCols ++ Seq(seqCol, opCol)).sorted
    require(changes.columns.sorted.toSeq == expected,
      s"changes columns ${changes.columns.sorted.toSeq} != $expected")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc)
    val latest = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val kept = base.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("src", lit("base"))
    val upserted = latest.filter(col(opCol) === upsertOp)
      .select((keys ++ valueCols).map(col) :+ lit("cdc").as("src"): _*)
    kept.unionByName(upserted)
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view algebra
    * (count/sum are self-maintainable: Gupta & Mumick's classic result):
    * given the OLD snapshot and the NEW one, produce the new per-group
    * (row count, integer sum) WITHOUT re-aggregating unchanged rows —
    * base aggregate ⊕ (new-side delta of changed keys) ⊖ (old-side
    * delta of changed keys). Changed keys come from [[diff]], so the
    * three pieces compose from operators this library already verifies.
    *
    * THE CONTRACT (and exactly what q145's oracle checks): the
    * incremental result equals the full recompute over the new
    * snapshot, group for group — because count/sum form an abelian
    * group, subtraction of the old contributions is exact (INTEGER
    * measures only — floats would accumulate ulp drift under ⊖, which
    * is why every production incremental pipeline aggregates cents, not
    * dollars).
    *
    * Scale shape: at 100 TB the base aggregate is a STORED table (here
    * recomputed from oldDf for a self-contained checked query — one
    * combinable aggregation); the incremental path then costs ONE
    * full-outer key diff plus aggregations over the CHANGED-key rows
    * only (semi-join pushdown) — cost tracks the delta, not the
    * corpus. Groups whose count reaches zero drop out (a group is its
    * rows, not a tombstone). */
  def maintainAgg(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                  groupCol: String, centsCol: String): DataFrame = {
    val changed = diff(oldDf, newDf, keys).select(keys.map(col): _*)
      .localCheckpoint(eager = false)
    def agg(df: DataFrame, sign: Long) =
      df.join(broadcast(changed), keys, "left_semi")
        .groupBy(col(groupCol))
        .agg((count(lit(1)) * sign).as("dn"), (sum(col(centsCol)) * sign).as("ds"))
    val baseAgg = oldDf.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n0"), sum(col(centsCol)).as("s0"))
    baseAgg
      .join(agg(oldDf, -1L).select(col(groupCol), col("dn").as("dn_o"),
        col("ds").as("ds_o")), Seq(groupCol), "full_outer")
      .join(agg(newDf, 1L).select(col(groupCol), col("dn").as("dn_n"),
        col("ds").as("ds_n")), Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn_o"), lit(0L)) +
          coalesce(col("dn_n"), lit(0L))).as("n_rows"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("ds_o"), lit(0L)) +
          coalesce(col("ds_n"), lit(0L))).as("total_cents"))
      .filter(col("n_rows") > 0)
  }
}
