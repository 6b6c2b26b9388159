package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.gen.{ChangeLogGen, GenConfig}
import graft.sources.GraftInputPartition
import graft.table.{ApplyMode, FileEntry, LakeTable, Snapshot}

/** Every read of a snapshot's data files is a DSv2 scan: the live reads
  * (`read`, `readAt`, `readLive`, `readResolved`) and the write side's
  * (`storedAt`, `readChangedSince`'s file path). Each case compares it, by
  * sorted rows, against the DataFrame formulas the reads used before —
  * `LakeTable.latestPerKey` over the raw files on MergeOnRead, the
  * positional anti-join against the DV sidecars on DeletionVector —
  * recomputed here, and checks the column order.
  */
class ReadPathSpec extends SparkSpec {

  val cfg = GenConfig(seed = 41, events = 4000, repos = 12, filesPerRepo = 15)

  private def wal = ChangeLogGen.changeLog(spark, cfg)

  /** the stored rows of `files` as spark's parquet source reads them,
    * under `s`'s physical schema
    */
  private def rawOf(t: LakeTable, s: Snapshot, files: Seq[FileEntry]): DataFrame =
    spark.read.schema(StructType.fromDDL(s.schemaDdl)).parquet(files.map(f => t.resolvePath(f.path)): _*)

  /** the pre-DSv2 read formulas over `s`'s raw files */
  private def oldFormula(t: LakeTable, s: Snapshot, buckets: Option[Set[Int]] = None,
                         keepDeleted: Boolean = false): DataFrame = {
    val resolved = oldResolve(t, s, s.files.filter(f => buckets.forall(_(f.bucket))))
    val out = if (keepDeleted) resolved else resolved.where(!col("deleted")).drop("deleted")
    out.select(out.columns.map(c => col(c).as(s.logicalOf(c))).toSeq: _*)
  }

  /** the old write-side resolve (`readRawAt` + latestPerKey / applyDv):
    * `files` resolved per mode, physical names in schema order, tombstones
    * kept
    */
  private def oldResolve(t: LakeTable, s: Snapshot, files: Seq[FileEntry]): DataFrame = {
    val raw = rawOf(t, s, files)
    def rel(c: org.apache.spark.sql.Column) = regexp_replace(c, "^.*/data/", "data/")
    val resolved = s.mode match {
      case "mor" => LakeTable.latestPerKey(raw)
      case "dv" if s.dvFiles.nonEmpty =>
        val dead = spark.read.parquet(s.dvFiles.map(t.resolvePath): _*)
          .select(rel(col("file_path")).as("dvf"), col("row_index").as("dvr"))
        raw.withColumn("fp", rel(col("_metadata.file_path")))
          .withColumn("ri", col("_metadata.row_index"))
          .join(dead, col("fp") === col("dvf") && col("ri") === col("dvr"), "left_anti")
          .drop("fp", "ri")
      case _ => raw
    }
    resolved.select(raw.columns.map(c => col(s"`$c`")).toSeq: _*)
  }

  /** same rows as the old formula, columns in logical-schema order */
  private def assertSame(got: DataFrame, t: LakeTable, s: Snapshot,
                         buckets: Option[Set[Int]] = None, keepDeleted: Boolean = false): Unit = {
    val expectCols = s.logicalSchema.fieldNames.toSeq.filter(c => keepDeleted || c != "deleted")
    assert(got.columns.toSeq == expectCols, s"columns ${got.columns.toSeq} != $expectCols")
    val old = oldFormula(t, s, buckets, keepDeleted)
    val rows = collectSorted(got)
    assert(rows.nonEmpty, "fixture must serve rows")
    assert(rows == collectSorted(old.select(expectCols.map(c => col(s"`$c`")): _*)))
  }

  private def partitions(df: DataFrame): Seq[GraftInputPartition] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten.map(_.asInstanceOf[GraftInputPartition])

  private def stackedMor(name: String, batches: Int = 3): LakeTable = {
    val t = new LakeTable(spark, tmpDir(name), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val w = wal
    (0 until batches).foreach(i => t.merge(w.where(pmod(col("lsn"), lit(batches)) === i), name, i.toLong))
    t
  }

  test("CopyOnWrite: read() == raw live rows") {
    val t = new LakeTable(spark, tmpDir("rpcow"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    t.merge(wal.where(col("lsn") <= 2000), "c", 0L)
    t.merge(wal.where(col("lsn") > 2000), "c", 1L)
    assertSame(t.read(), t, t.currentSnapshot().get)
  }

  test("stacked MergeOnRead: read() == latestPerKey, with no aggregate or shuffle of its own") {
    val t = stackedMor("rpmor")
    assertSame(t.read(), t, t.currentSnapshot().get)
    assert(partitions(t.read()).exists(p => p.resolveLatest && p.sortedResolve))
    // a lang count: the only Exchange is the user's aggregate
    val plan = t.read().groupBy("lang").count().queryExecution.executedPlan.toString
    assert(!plan.contains("max(struct(lsn"), plan)
    assert("Exchange".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("MergeOnRead clustered base plus new deltas: the unsorted hash-map resolve") {
    val t = new LakeTable(spark, tmpDir("rpclus"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val w = wal
    t.merge(w.where(col("lsn") <= 2500), "cl", 0L)
    t.setClustering(Seq("lang"))
    t.compact()
    t.merge(w.where(col("lsn") > 2500), "cl", 1L)
    val s = t.currentSnapshot().get
    assert(s.files.exists(!_.sorted), "fixture needs a clustered (unsorted) base")
    assertSame(t.read(), t, s)
    assert(partitions(t.read()).exists(p => p.resolveLatest && !p.sortedResolve),
      "a bucket with an unsorted base must take the hash-map resolve")
  }

  test("compacted MergeOnRead: plain partitions only") {
    val t = stackedMor("rpcomp")
    t.compact()
    assertSame(t.read(), t, t.currentSnapshot().get)
    assert(partitions(t.read()).forall(!_.resolveLatest))
  }

  test("DeletionVector with live sidecars: positions masked in the scan, no anti-join") {
    val t = new LakeTable(spark, tmpDir("rpdv"), defaultBuckets = 4, ApplyMode.DeletionVector)
    val w = wal
    (0 until 3).foreach(i => t.merge(w.where(pmod(col("lsn"), lit(3)) === i), "dv", i.toLong))
    val s = t.currentSnapshot().get
    assert(s.dvRows > 0, "fixture must have live deletion vectors")
    assertSame(t.read(), t, s)
    val plan = t.read().groupBy("lang").count().queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan") && !plan.contains("LeftAnti"), plan)
    assert("Exchange".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("renamed plus added column; readAt before the rename keeps the old names") {
    val t = stackedMor("rpren", batches = 2)
    t.addColumns(Seq(StructField("branch", StringType)))
    t.merge(wal.where(col("lsn") > 3500).withColumn("branch", lit("main")), "rpren", 2L)
    val vPre = t.currentSnapshot().get.version
    t.renameColumn("branch", "ref")
    val s = t.currentSnapshot().get
    assert(s.renames.nonEmpty)
    assertSame(t.read(), t, s)
    val pre = t.readAt(vPre)
    assert(pre.columns.contains("branch") && !pre.columns.contains("ref"))
    assertSame(pre, t, t.log.at(vPre))
  }

  test("readLive(Some(buckets)) serves exactly those buckets") {
    val t = stackedMor("rplive")
    val bs = Set(1, 3)
    val live = t.readLive(Some(bs))
    assert(partitions(live).map(_.bucket).toSet.subsetOf(bs))
    assertSame(live, t, t.currentSnapshot().get, Some(bs))
  }

  test("readResolved() keeps tombstone winners and the deleted column") {
    Seq(ApplyMode.MergeOnRead, ApplyMode.DeletionVector, ApplyMode.CopyOnWrite).foreach { m =>
      val t = new LakeTable(spark, tmpDir(s"rpres$m"), defaultBuckets = 4, m)
      val w = wal
      (0 until 3).foreach(i => t.merge(w.where(pmod(col("lsn"), lit(3)) === i), "rr", i.toLong))
      val got = t.readResolved()
      assert(got.where(col("deleted")).count() > 0, s"$m: fixture must hold tombstone winners")
      assertSame(got, t, t.currentSnapshot().get, keepDeleted = true)
      // pruning `deleted` away must not change the row count
      assert(got.select("repo").count() == got.collect().length, m.toString)
    }
  }

  /** a `mode` table whose column `ref` (stored as `branch`) was added
    * after two commits — the older files null-backfill it — and then
    * renamed
    */
  private def evolved(m: ApplyMode.Value, name: String): LakeTable = {
    val t = new LakeTable(spark, tmpDir(name), defaultBuckets = 4, m)
    val w = wal
    t.merge(w.where(col("lsn") <= 1500), name, 0L)
    t.merge(w.where(col("lsn").between(1501L, 3000L)), name, 1L)
    t.addColumns(Seq(StructField("branch", StringType)))
    t.merge(w.where(col("lsn") > 3000).withColumn("branch", lit("main")), name, 2L)
    t.renameColumn("branch", "ref")
    val s = t.currentSnapshot().get
    assert(s.physicalOf("ref") == "branch")
    assert(m != ApplyMode.DeletionVector || s.dvFiles.nonEmpty, "fixture must have live deletion vectors")
    t
  }

  private val modes = Seq(ApplyMode.CopyOnWrite, ApplyMode.MergeOnRead, ApplyMode.DeletionVector)

  test("storedAt == old raw + resolve formula, physical names") {
    modes.foreach { m =>
      val t = evolved(m, s"rpw$m")
      val s = t.currentSnapshot().get
      val phys = StructType.fromDDL(s.schemaDdl).fieldNames.toSeq
      val got = t.storedAt(Some(s), None)
      assert(got.columns.toSeq == phys, s"$m: columns ${got.columns.toSeq} != $phys")
      val rows = collectSorted(got)
      assert(rows == collectSorted(oldResolve(t, s, s.files)), m.toString)
      // tombstone winners kept; the added column backfills older files
      assert(got.where(col("deleted")).count() > 0, s"$m: fixture must hold tombstone winners")
      assert(got.where(col("branch").isNull).count() > 0 && got.where(col("branch") === "main").count() > 0,
        s"$m: the added column must be null on older files and set on newer ones")
      // a bucket subset reads exactly those buckets' rows
      val bs = Set(0, 2)
      assert(collectSorted(t.storedAt(Some(s), Some(bs))) ==
        collectSorted(oldResolve(t, s, s.files.filter(f => bs(f.bucket)))), m.toString)
    }
  }

  test("chain view: every stored version, unresolved, unmasked") {
    Seq(ApplyMode.MergeOnRead, ApplyMode.DeletionVector).foreach { m =>
      val t = evolved(m, s"rpchain$m")
      val s = t.currentSnapshot().get
      val chain = t.storedAt(Some(s), None, chain = true)
      assert(chain.columns.toSeq == StructType.fromDDL(s.schemaDdl).fieldNames.toSeq)
      val rows = collectSorted(chain)
      assert(rows.size.toLong == s.totalRows, s"$m: the chain serves every stored row")
      assert(rows == collectSorted(rawOf(t, s, s.files)), m.toString)
      assert(rows.size > t.storedAt(Some(s), None).count(), s"$m: fixture must hold superseded versions")
    }
  }

  test("readChangedSince file path == old formula and its files") {
    modes.foreach { m =>
      val t = evolved(m, s"rpcs$m")
      val s = t.currentSnapshot().get
      val from = 2000L
      val (kind, files) = t.filesForChangedSince(from)
      assert(kind == "files")
      val got = t.readChangedSince(from)
      assert(got.columns.toSeq == s.logicalSchema.fieldNames.toSeq, m.toString)
      val old = oldResolve(t, s, s.files.filter(_.maxLsn >= from)).where(col("lsn") >= from)
      val rows = collectSorted(got)
      assert(rows.nonEmpty, m.toString)
      assert(rows == collectSorted(old), m.toString)
      val planned = partitions(got).flatMap(_.files).toSet
      // (copy-on-write rewrites every bucket this fixture touches)
      assert(m == ApplyMode.CopyOnWrite || files.size < s.files.size, s"$m: fixture must skip files by lsn")
      assert(planned == files.toSet, s"$m: planned ${planned.size} files, expected ${files.size}")
    }
  }
}
