package graft

import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** DeletionVector apply mode: appends new versions + positional DV
  * sidecars instead of rewriting buckets. Must converge to the IDENTICAL
  * table state as CopyOnWrite on any batch split, honour the max-LSN
  * guard, survive out-of-order replay, compact away, and time-travel.
  */
class DeletionVectorSpec extends SparkSpec {

  val cfg = GenConfig(seed = 41, events = 6000, repos = 15, filesPerRepo = 15)
  val cols = Seq("repo", "path", "commit", "lang", "contentSha", "lsn")

  private def applyBatches(mode: ApplyMode.Value, dir: String, splits: Seq[(Long, Long)],
                           wal: org.apache.spark.sql.DataFrame): LakeTable = {
    val t = new LakeTable(spark, dir, defaultBuckets = 4, mode)
    splits.zipWithIndex.foreach { case ((lo, hi), i) =>
      t.merge(wal.where(col("lsn").between(lo, hi)), "dv", i.toLong)
    }
    t
  }

  test("dv mode == cow mode after a multi-batch apply (incl. tombstones)") {
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      val splits = Seq((1L, 2000L), (2001L, 4000L), (4001L, 6000L))
      val dv = applyBatches(ApplyMode.DeletionVector, tmpDir("dvA"), splits, wal)
      val cow = applyBatches(ApplyMode.CopyOnWrite, tmpDir("cowA"), splits, wal)
      assert(collectSorted(dv.read().selectExpr(cols: _*)) ==
        collectSorted(cow.read().selectExpr(cols: _*)))
      val snap = dv.currentSnapshot().get
      assert(snap.dvRows > 0, "updates must have produced deletion vectors")
      assert(snap.dvFiles.nonEmpty)
      // dead rows are physically still there: stored > live
      assert(snap.totalRows > dv.read().count())
      // each batch's ledger tombstone count is the `deleted` rows it wrote
      val entries = dv.ledger.entries()
      assert(entries.size == splits.size)
      val byCommit = snap.files.groupBy(_.path.split("/b=").head).values.toSeq
      assert(byCommit.size == splits.size, "one commit dir per batch")
      val ledgerTombs = entries.map(e =>
        "\"tombstoneRows\":(\\d+)".r.findFirstMatchIn(e).get.group(1).toLong).sorted
      val written = byCommit.map(fs => spark.read.parquet(fs.map(f => dv.resolvePath(f.path)): _*)
        .where(col("deleted")).count()).sorted
      assert(ledgerTombs.exists(_ > 0), s"fixture must delete: $ledgerTombs")
      assert(ledgerTombs == written, s"ledger $ledgerTombs != written $written")
    } finally wal.unpersist()
  }

  test("write-side readers == read() over multi-commit DVs") {
    // truncate's replace sidecar, readChangedSince's file path, compact()
    // and rebucket all read the stored rows through the scan, which masks
    // every live sidecar's positions as read() does
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      val splits = Seq((1L, 1500L), (1501L, 3000L), (3001L, 4500L), (4501L, 6000L))
      def build(dir: String) = applyBatches(ApplyMode.DeletionVector, tmpDir(dir), splits, wal)
      val t = build("dvRd")
      val snap = t.currentSnapshot().get
      val dvCommits = snap.dvFiles.map(_.split("/dv/").head).distinct
      assert(dvCommits.size >= 3, s"fixture: live DVs from several commits, got $dvCommits")
      val live = collectSorted(t.read().selectExpr(cols: _*))
      Seq(0L, 3500L).foreach { from =>
        assert(t.filesForChangedSince(from)._1 == "files")
        assert(collectSorted(t.readChangedSince(from).where(!col("deleted")).selectExpr(cols: _*)) ==
          collectSorted(t.read().where(col("lsn") >= from).selectExpr(cols: _*)), s"from $from")
      }
      // truncate with the feed on: one delete row per live key, no other
      t.enableChangeDataFeed()
      val hwm = t.currentSnapshot().get.hwm
      t.truncate()
      val deletes = t.readChangesBetween(hwm)
      assert(deletes.where(col("_change_type") =!= "delete").count() == 0)
      assert(collectSorted(deletes.select("repo", "path")) == collectSorted(t.readAt(snap.version).select("repo", "path")))
      val u = build("dvRdC")
      u.compact()
      assert(u.currentSnapshot().get.dvFiles.isEmpty)
      assert(collectSorted(u.read().selectExpr(cols: _*)) == live, "compact()")
      u.rebucket(3)
      assert(u.currentSnapshot().get.nBuckets == 3)
      assert(collectSorted(u.read().selectExpr(cols: _*)) == live, "rebucket")
    } finally wal.unpersist()
  }

  test("driver-side tombstone count == distributed count (tombstones.driverMaxRows)") {
    // below spark.graft.tombstones.driverMaxRows a commit's tombstones are
    // decoded driver-side; at 0 every commit takes the distributed count —
    // both must record the same ledger tombstoneRows
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      val splits = Seq((1L, 2000L), (2001L, 4000L), (4001L, 6000L))
      def field(e: String, f: String) = ("\"" + f + "\":(\\d+)").r.findFirstMatchIn(e).get.group(1).toLong
      def tombs(t: LakeTable) = // batchId -> tombstoneRows
        t.ledger.entries().map(e => field(e, "batchId") -> field(e, "tombstoneRows")).toMap
      Seq(ApplyMode.MergeOnRead, ApplyMode.CopyOnWrite).foreach { mode =>
        val viaDriver = tombs(applyBatches(mode, tmpDir("tombDrv"), splits, wal))
        spark.conf.set("spark.graft.tombstones.driverMaxRows", "0") // force the distributed count
        val viaJob = try tombs(applyBatches(mode, tmpDir("tombJob"), splits, wal))
          finally spark.conf.unset("spark.graft.tombstones.driverMaxRows")
        assert(viaDriver.size == splits.size && viaDriver.values.exists(_ > 0),
          s"$mode fixture must delete: $viaDriver")
        assert(viaDriver == viaJob, s"$mode: driver $viaDriver != distributed $viaJob")
      }
    } finally wal.unpersist()
  }

  test("write amplification: dv writes O(batch), cow rewrites buckets") {
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      val splits = Seq((1L, 3000L), (3001L, 3100L)) // second batch tiny
      val dv = applyBatches(ApplyMode.DeletionVector, tmpDir("dvW"), splits, wal)
      val cow = applyBatches(ApplyMode.CopyOnWrite, tmpDir("cowW"), splits, wal)
      def rowsInCommit(t: LakeTable, v: Int): Long = // commit dirs are c<v>-<token>
        t.currentSnapshot().get.files.filter(_.path.contains(s"/c$v-")).map(_.rows).sum
      val dvWrote = rowsInCommit(dv, 2)
      val cowWrote = rowsInCommit(cow, 2)
      assert(dvWrote <= 100, s"dv second commit wrote $dvWrote rows (expected <= batch size)")
      assert(cowWrote > dvWrote * 2, s"cow rewrote $cowWrote vs dv $dvWrote")
      // and the cow commit is the whole affected-bucket row set, dv is not
      assert(cowWrote == cow.read().count() + cow.readResolved().where(col("deleted")).count() ||
        cowWrote > 200, s"cow commit should carry whole buckets, got $cowWrote")
    } finally wal.unpersist()
  }

  test("max-LSN guard: out-of-order and duplicate replay converge") {
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      // batches applied out of order, one range twice (different batchIds
      // so the idempotent-commit skip does NOT kick in — the merge itself
      // must be order-robust)
      val t = new LakeTable(spark, tmpDir("dvO"), defaultBuckets = 4, ApplyMode.DeletionVector)
      t.merge(wal.where(col("lsn").between(4001, 6000)), "dv", 0L)
      t.merge(wal.where(col("lsn").between(1, 2000)), "dv", 1L)
      t.merge(wal.where(col("lsn").between(2001, 4000)), "dv", 2L)
      t.merge(wal.where(col("lsn").between(1, 2000)), "dv", 3L) // stale replay
      val cow = applyBatches(ApplyMode.CopyOnWrite, tmpDir("cowO"),
        Seq((1L, 6000L)), wal)
      assert(collectSorted(t.read().selectExpr(cols: _*)) ==
        collectSorted(cow.read().selectExpr(cols: _*)))
    } finally wal.unpersist()
  }

  test("compact folds DVs away; readChangedSince and time travel work") {
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      val t = applyBatches(ApplyMode.DeletionVector, tmpDir("dvC"),
        Seq((1L, 3000L), (3001L, 6000L)), wal)
      val before = collectSorted(t.read().selectExpr(cols: _*))
      val changed = collectSorted(t.readChangedSince(5000).selectExpr(cols: _*))
      val vPre = t.currentSnapshot().get.version
      // DSv2 serves LIVE-DV snapshots: dead positions skipped inside the
      // partition readers, no join in the plan
      assert(t.currentSnapshot().get.dvRows > 0)
      assert(collectSorted(spark.read.format("graft").load(t.root).selectExpr(cols: _*)) == before)
      t.compact()
      val snap = t.currentSnapshot().get
      assert(snap.dvFiles.isEmpty && snap.dvRows == 0)
      assert(snap.totalRows == t.readResolved().count(), "no dead rows after compact")
      assert(collectSorted(t.read().selectExpr(cols: _*)) == before)
      assert(collectSorted(t.readChangedSince(5000).selectExpr(cols: _*)) == changed)
      // pre-compact snapshot still time-travels with ITS deletion vectors
      assert(collectSorted(t.readAt(vPre).selectExpr(cols: _*)) == before)
      // and the compacted (DV-free) table reads identically through DSv2
      assert(collectSorted(spark.read.format("graft").load(t.root).selectExpr(cols: _*)) == before)
    } finally wal.unpersist()
  }

  test("maybeCompact triggers on dv fraction") {
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 43, events = 2000, repos = 5, filesPerRepo = 6)).persist()
    try {
      val t = new LakeTable(spark, tmpDir("dvM"), defaultBuckets = 2, ApplyMode.DeletionVector)
      t.merge(wal.where(col("lsn") <= 1000), "dv", 0L)
      assert(!t.maybeCompact(dvMaxFraction = 0.3), "no DVs yet")
      // heavy-update second batch: most keys revisited → many DVs
      t.merge(wal.where(col("lsn") > 1000), "dv", 1L)
      val frac = { val s = t.currentSnapshot().get; s.dvRows.toDouble / s.totalRows }
      assert(t.maybeCompact(dvMaxFraction = math.max(0.01, frac / 2)) ||
        t.currentSnapshot().get.dvRows == 0)
      assert(t.currentSnapshot().get.dvFiles.isEmpty)
    } finally wal.unpersist()
  }
}
