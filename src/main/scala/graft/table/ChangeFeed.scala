package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The change feed's vocabulary and its one typing rule (Delta CDF's
  * shape). Every writer of change rows (commit-time sidecars, replace
  * diffs, the backfill, the DV merge's projection) and every reader that
  * interprets them (the typed bucket walk, tails that drop before-images,
  * incremental aggregates) goes through here, so a fix to the rule cannot
  * miss a copy.
  */
object ChangeFeed {
  /** the synthesised change-kind column */
  val TypeCol = "_change_type"
  val Insert = "insert"
  val UpdatePreimage = "update_preimage"
  val UpdatePostimage = "update_postimage"
  val Delete = "delete"

  /** The type rule: a tombstone deletes; a version whose key's previous
    * version is live updates; a version with no previous version, or a
    * tombstoned one, inserts.
    */
  def typeOf(deleted: Column, prevLive: Column): Column =
    when(deleted, Delete).when(prevLive, UpdatePostimage).otherwise(Insert)

  def typeOf(deleted: Boolean, prevLive: Boolean): String =
    if (deleted) Delete else if (prevLive) UpdatePostimage else Insert

  /** the sidecar schema of a snapshot: its stored columns plus the type */
  def schemaOf(s: Snapshot): StructType = StructType.fromDDL(s.schemaDdl).add(TypeCol, StringType)

  /** the registered sidecars that can hold changes in (lo, hi] */
  def sidecarsIn(s: Snapshot, lo: Long, hi: Long): Seq[CdfEntry] =
    s.cdfFiles.filter(f => f.maxLsn > lo && f.minLsn <= hi)

  /** the key's previous version, as a struct column `changeRows` reads;
    * null when the key had none
    */
  val Prev = "__prev"

  /** `Prev` from a stored chain: each row's predecessor in its key's
    * (lsn, commit, tieBreak...) order, carrying `prevCols`
    */
  def withChainPrev(chain: DataFrame, prevCols: Seq[String], tieBreak: Column*): DataFrame =
    chain.withColumn(Prev, lag(struct(prevCols.map(col): _*), 1).over(
      Window.partitionBy("repo", "path").orderBy((col("lsn") +: col("commit") +: tieBreak): _*)))

  /** Rows that carry their key's previous version in `Prev` → change rows.
    * `Prev` holds `deleted` alone on a post-only feed, or `deleted` plus
    * the payloads on a full feed. The output is the input's columns (minus
    * `Prev`) plus `TypeCol`: every row as its post-image, typed by the
    * rule. A full feed also gives each delete the old values of a live
    * previous version, and adds one `update_preimage` row per update: the
    * old values under the new change's (lsn, commit).
    */
  def changeRows(rows: DataFrame): DataFrame = {
    val prevLive = col(Prev).isNotNull && !col(s"$Prev.deleted")
    val typed = rows.withColumn(TypeCol, typeOf(col("deleted"), prevLive))
    val prevFields = rows.schema(Prev).dataType.asInstanceOf[StructType].fieldNames.toSet
    val cols = rows.columns.toSeq.filterNot(_ == Prev)
    val pay = cols.filter(c => prevFields(c) && !Set("lsn", "commit", "deleted")(c)).toSet
    if (pay.isEmpty) typed.drop(Prev)
    else {
      val post = typed.select(cols.map(c =>
        if (pay(c)) when(col(TypeCol) === Delete && prevLive, col(s"$Prev.$c")).otherwise(col(c)).as(c)
        else col(c)) :+ col(TypeCol): _*)
      val pre = typed.where(col(TypeCol) === UpdatePostimage).select(cols.map(c =>
        if (pay(c)) col(s"$Prev.$c").as(c)
        else if (c == "deleted") lit(false).as(c)
        else col(c)) :+ lit(UpdatePreimage).as(TypeCol): _*)
      post.unionByName(pre)
    }
  }
}
