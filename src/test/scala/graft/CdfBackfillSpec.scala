package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** CDF backfill (round-7): `backfillChangeFeed` materializes the
  * history-walk's typed output ONCE as lsn-range-partitioned sidecars and
  * drops the coverage floor to 0, so a table whose feed was enabled late
  * (or never) stops paying the per-trigger bucket-history walk. The
  * contract under test: the backfilled feed is row-identical to what the
  * walk delivered (per apply mode, including the walk's own fidelity
  * limits), coverage is continuous across subsequent commits, full-mode
  * backfill reproduces the commit-time full feed exactly, and the
  * operation is idempotent and gap-safe.
  */
class CdfBackfillSpec extends SparkSpec {

  val cfg = GenConfig(seed = 91, events = 3000, repos = 8, filesPerRepo = 10)
  val batches = 3
  val per: Long = cfg.events / batches

  private def build(mode: ApplyMode.Value, tag: String, nBatches: Int = batches,
                    cdf: Boolean = false, cdfFull: Boolean = false): LakeTable = {
    val t = new LakeTable(spark, tmpDir(tag), defaultBuckets = 4, mode,
      defaultCdf = cdf, defaultCdfFull = cdfFull)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    (0 until nBatches).foreach { i =>
      t.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), tag, i.toLong)
    }
    t
  }

  private def mergeBatch(t: LakeTable, tag: String, i: Int): Unit =
    t.merge(ChangeLogGen.changeLog(spark, cfg)
      .where(col("lsn").between(i * per + 1, (i + 1) * per)), tag, i.toLong)

  private def runTyped(root: String, name: String): DataFrame = {
    val q = spark.readStream.format("graft").option("changeTypes", "true").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir(s"cp$name"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  private def typedSet(df: DataFrame): Set[(String, String, Long, String, String)] =
    df.select("repo", "path", "lsn", "commit", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4))).toSet

  private def fullSet(df: DataFrame): Set[(String, String, Long, String, Boolean, String, String)] =
    df.select("repo", "path", "lsn", "commit", "deleted", "_change_type", "contentSha")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getBoolean(4), r.getString(5), Option(r.getString(6)).orNull)).toSet

  for (mode <- Seq(ApplyMode.MergeOnRead, ApplyMode.CopyOnWrite, ApplyMode.DeletionVector)) {
    test(s"backfilled sidecars deliver exactly the walk's typed feed ($mode)") {
      val t = build(mode, s"bf$mode")
      assert(t.currentSnapshot().get.cdfSinceLsn < 0, "fixture must start feed-OFF")
      val walked = typedSet(runTyped(t.root, s"bf_walk_$mode"))
      val written = t.backfillChangeFeed()
      assert(written > 0)
      val snap = t.currentSnapshot().get
      assert(snap.cdfSinceLsn == 0L)
      assert(snap.cdfFiles.size == written)
      // the audit hook proves the read path flipped: any cursor now plans
      // sidecars, including the inclusive-from-0 read
      assert(t.filesForChangedSince(1L)._1 == "cdf")
      assert(t.filesForChangedSince(0L)._1 == "cdf")
      assert(typedSet(runTyped(t.root, s"bf_cdf_$mode")) == walked)
      // the batch table_changes twin plans the same sidecars
      assert(typedSet(spark.read.format("graft").option("changeTypes", "true")
        .load(t.root)) == walked)
    }
  }

  test("full-mode backfill reproduces the commit-time full feed row-for-row") {
    val live = build(ApplyMode.MergeOnRead, "bf_fullref", cdfFull = true)
    val late = build(ApplyMode.MergeOnRead, "bf_fulllate")
    assert(late.backfillChangeFeed(full = true) > 0)
    val snap = late.currentSnapshot().get
    assert(snap.cdfSinceLsn == 0L && snap.cdfFullSinceLsn == 0L)
    // before-images (update_preimage rows, old values on deletes) must
    // match the feed a born-full table wrote commit by commit
    assert(fullSet(late.readChangesBetween(0)) == fullSet(live.readChangesBetween(0)))
    assert(fullSet(late.readChangesBetween(0)).exists(_._6 == "update_preimage"),
      "fixture must exercise preimages")
  }

  /** every change row with every column, payloads included, as a sorted list */
  private def allRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
  }

  // the post-only twin of the full-mode case: the commit-time writer and
  // the backfill type their rows through the same rule. A CoW rewrite keeps
  // one stored version per key, so its backfill can only reproduce a
  // commit-time feed whose batches touch disjoint keys (inserts and
  // deletes); the MoR chain keeps every version, updates included.
  for ((mode, byKey) <- Seq((ApplyMode.MergeOnRead, false), (ApplyMode.CopyOnWrite, true))) {
    test(s"post-only backfill reproduces the commit-time post-only feed row-for-row ($mode)") {
      def make(tag: String, cdf: Boolean): LakeTable =
        if (!byKey) build(mode, tag, cdf = cdf)
        else {
          val t = new LakeTable(spark, tmpDir(tag), defaultBuckets = 4, mode, defaultCdf = cdf)
          val wal = ChangeLogGen.changeLog(spark, cfg)
          (0 until batches).foreach { i =>
            t.merge(wal.where(pmod(xxhash64(col("repo"), col("path")), lit(batches.toLong)) === i),
              tag, i.toLong)
          }
          t
        }
      val live = make(s"bf_postref$mode", cdf = true)
      val late = make(s"bf_postlate$mode", cdf = false)
      assert(late.backfillChangeFeed() > 0)
      val expected = allRows(live.readChangesBetween(0))
      assert(allRows(late.readChangesBetween(0)) == expected)
      val types = live.readChangesBetween(0).select("_change_type").distinct().collect().map(_.getString(0)).toSet
      assert(types == (if (byKey) Set("insert", "delete") else Set("insert", "update_postimage", "delete")),
        s"fixture must exercise every type it can: $types")
    }
  }

  test("mid-life enablement: backfill closes the pre-enablement gap; coverage continuous after") {
    val t = build(ApplyMode.MergeOnRead, "bf_mid", nBatches = 1)
    t.enableChangeDataFeed()
    assert(t.currentSnapshot().get.cdfSinceLsn == per, "floor starts at enable-time hwm")
    mergeBatch(t, "bf_mid", 1) // commit-time sidecar above the floor
    val walked = typedSet(runTyped(t.root, "bf_mid_walk")) // one batch spanning walk + sidecar ranges
    assert(t.backfillChangeFeed() > 0)
    assert(t.currentSnapshot().get.cdfSinceLsn == 0L)
    assert(typedSet(runTyped(t.root, "bf_mid_cdf")) == walked)
    // a commit AFTER the backfill appends its sidecar as usual — no seam
    mergeBatch(t, "bf_mid2", 2)
    val after = t.currentSnapshot().get
    assert(after.cdfSinceLsn == 0L)
    val typed = typedSet(spark.read.format("graft").option("changeTypes", "true").load(t.root))
    assert(typed.count(_._3 > 2 * per) > 0, "batch-3 changes must flow through the feed")
    assert(typed.filter(_._3 <= 2 * per) == walked)
  }

  test("idempotent: a covered feed is a metadata no-op; enabling-off table with no rows still enables") {
    val t = build(ApplyMode.MergeOnRead, "bf_idem")
    assert(t.backfillChangeFeed() > 0)
    val v = t.currentSnapshot().get.version
    assert(t.backfillChangeFeed() == 0)
    assert(t.currentSnapshot().get.version == v, "no-op must not commit")
  }

  test("full=true on a post-only feed errors loudly (the single-floor gap)") {
    val t = build(ApplyMode.MergeOnRead, "bf_gap", nBatches = 2)
    t.enableChangeDataFeed() // post-only from here
    mergeBatch(t, "bf_gap", 2)
    val e = intercept[IllegalArgumentException](t.backfillChangeFeed(full = true))
    assert(e.getMessage.contains("post-only"))
    // post-only backfill of the same table is the supported path
    assert(t.backfillChangeFeed() > 0)
    assert(t.currentSnapshot().get.cdfSinceLsn == 0L)
  }

  test("readChangedSince(0) on a floor-0 feed takes the sidecar path and matches the file path") {
    val t = build(ApplyMode.MergeOnRead, "bf_since0", cdf = true)
    assert(t.filesForChangedSince(0L)._1 == "cdf")
    val viaCdf = t.readChangedSince(0L)
      .select("repo", "path", "lsn", "commit", "deleted").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
      .toSet
    // independent derivation: latest version per key from the resolved read
    val viaFiles = t.readResolved()
      .select("repo", "path", "lsn", "commit", "deleted").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
      .toSet
    assert(viaCdf == viaFiles)
  }
}
