package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.sources.GraftInputPartition
import graft.table.{ApplyMode, LakeTable, SnapshotLog}

/** Table maintenance: auto-compaction bounds MOR read amplification; expiry
  * reclaims unreferenced files while retained snapshots stay readable and
  * the final state never changes.
  */
class MaintenanceSpec extends SparkSpec {

  val cfg = GenConfig(seed = 33, events = 4000, repos = 10, filesPerRepo = 12)

  def stateOf(t: LakeTable) =
    collectSorted(t.read().select("repo", "path", "commit", "contentSha"))

  /** the partitions a read's DSv2 scan plans */
  def planned(df: DataFrame): Seq[GraftInputPartition] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten.map(_.asInstanceOf[GraftInputPartition])

  /** the buckets whose scan partitions resolve latest-per-key */
  def resolving(t: LakeTable): Set[Int] = planned(t.read()).filter(_.resolveLatest).map(_.bucket).toSet

  test("MOR resolve elision: single-commit buckets skip latest-per-key; mixed tables split") {
    val t = new LakeTable(spark, tmpDir("elide"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      (0 until 6).foreach(i => t.merge(wal.where(pmod(col("lsn"), lit(6)) === i), "el", i.toLong))
      val before = stateOf(t)
      // delta-stacked: the read must resolve (the scan plans latest-per-key
      // resolve partitions)
      val stacked = resolving(t)
      assert(stacked.nonEmpty, "stacked buckets must pay latest-per-key")
      // fold TWO buckets: mixed table -> only the unfolded buckets resolve
      val byBucket = t.currentSnapshot().get.files.groupBy(_.bucket)
      val two = byBucket.collect { case (b, fl) if fl.size > 1 => b }.take(2).toSet
      t.compactBuckets(two)
      assert(resolving(t) == stacked -- two, "only the unfolded buckets may resolve")
      assert(stateOf(t) == before, "partial fold: split read must not change state")
      // full compact: every bucket is one commit's files -> no partition
      // resolves and the read plan has no shuffle
      t.compact()
      val plan = t.read().queryExecution.executedPlan.toString
      assert(resolving(t).isEmpty && !plan.contains("Exchange"),
        s"post-compact read must elide the resolve and any shuffle:\n$plan")
      assert(stateOf(t) == before, "elided read must serve the identical state")
    } finally wal.unpersist()
  }

  test("maybeCompact folds deltas when a bucket exceeds the file threshold") {
    val t = new LakeTable(spark, tmpDir("mc"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      (0 until 8).foreach(i => t.merge(wal.where(pmod(col("lsn"), lit(8)) === i), "m", i.toLong))
      val before = stateOf(t)
      val filesBefore = t.currentSnapshot().get.files.size
      assert(t.maybeCompact(maxFilesPerBucket = 4), "compaction should trigger")
      assert(!t.maybeCompact(maxFilesPerBucket = 4), "second call is a no-op")
      val filesAfter = t.currentSnapshot().get.files.size
      assert(filesAfter < filesBefore)
      assert(t.currentSnapshot().get.files.groupBy(_.bucket).values.forall(_.size == 1))
      assert(stateOf(t) == before, "state preserved")
    } finally wal.unpersist()
  }

  test("compactBuckets folds only the selected buckets; every other entry byte-identical") {
    val t = new LakeTable(spark, tmpDir("tcb"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      (0 until 8).foreach(i => t.merge(wal.where(pmod(col("lsn"), lit(8)) === i), "tc", i.toLong))
      val snap0 = t.currentSnapshot().get
      val byBucket = snap0.files.groupBy(_.bucket)
      val target = byBucket.collectFirst { case (b, fl) if fl.size > 1 => b }.get
      val before = stateOf(t)
      assert(t.compactBuckets(Set(target)) == 1)
      val snap1 = t.currentSnapshot().get
      assert(snap1.version == snap0.version + 1)
      // untouched buckets keep their EXACT FileEntry lists (no rewrite)
      (byBucket - target).foreach { case (b, fl) =>
        assert(snap1.files.filter(_.bucket == b) == fl,
          s"bucket $b was rewritten by a fold targeting $target")
      }
      // the target bucket holds a fresh sorted fold, disjoint from its old files
      val folded = snap1.files.filter(_.bucket == target)
      assert(folded.nonEmpty && folded.forall(_.sorted))
      assert(folded.map(_.path).toSet.intersect(byBucket(target).map(_.path).toSet).isEmpty)
      assert(folded.size < byBucket(target).size)
      assert(snap1.totalRows == snap1.files.map(_.rows).sum)
      // state identical through both read paths (mixed folded/unfolded layout)
      assert(stateOf(t) == before)
      assert(collectSorted(spark.read.format("graft").load(t.root)
        .select("repo", "path", "commit", "contentSha")) == before)
      // absent bucket = no-op, no commit
      assert(t.compactBuckets(Set(9999)) == 0)
      assert(t.currentSnapshot().get.version == snap1.version)
      // deltas landing AFTER the fold still out-resolve the folded base
      val extra = ChangeLogGen.changeLog(spark, cfg.copy(seed = 34, events = 1000))
      t.merge(extra, "tc", 99L)
      val ref = new LakeTable(spark, tmpDir("tcbref"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
      ref.merge(wal, "ref", 0L); ref.merge(extra, "ref", 1L)
      assert(stateOf(t) == stateOf(ref))
    } finally wal.unpersist()
  }

  test("maybeCompact under skew folds ONLY the offending buckets") {
    val t = new LakeTable(spark, tmpDir("skewc"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      t.merge(wal.where(col("lsn") <= 2000), "sk", 0L)
      // hot traffic lands in ONE bucket: re-merge only that bucket's keys
      val hotB = pmod(xxhash64(col("repo"), col("path")), lit(4)) === 2
      (1 to 6).foreach(i => t.merge(
        wal.where(col("lsn").between(2000 + (i - 1) * 300 + 1, 2000 + i * 300) && hotB),
        "sk", i.toLong))
      val snap0 = t.currentSnapshot().get
      val counts0 = snap0.files.groupBy(_.bucket).view.mapValues(_.size).toMap
      assert(counts0(2) > 4, s"bucket 2 must be the offender, got $counts0")
      assert(counts0.filter(_._1 != 2).values.forall(_ <= 4), s"cold buckets stacked: $counts0")
      val before = stateOf(t)
      assert(t.maybeCompact(maxFilesPerBucket = 4))
      val snap1 = t.currentSnapshot().get
      // cold buckets' entries untouched; offender folded
      snap0.files.filterNot(_.bucket == 2).foreach(f => assert(snap1.files.contains(f)))
      assert(snap1.files.count(_.bucket == 2) <= 4)
      assert(stateOf(t) == before)
      assert(!t.maybeCompact(maxFilesPerBucket = 4), "post-fold call is a no-op")
    } finally wal.unpersist()
  }

  test("compactBuckets in DV mode: applied positions leave the sidecars, survivors still apply") {
    val t = new LakeTable(spark, tmpDir("tcdv"), defaultBuckets = 4, ApplyMode.DeletionVector)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      t.merge(wal.where(col("lsn") <= 2000), "dv", 0L)
      t.merge(wal.where(col("lsn") > 2000), "dv", 1L)
      val snap0 = t.currentSnapshot().get
      assert(snap0.dvRows > 0, "fixture must produce dead positions")
      val dvByBucket = spark.read.parquet(snap0.dvFiles.map(t.resolvePath): _*)
        .groupBy(regexp_extract(col("file_path"), "/b=(\\d+)/", 1).cast("int").as("b"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val target = dvByBucket.maxBy(_._2)._1
      val before = stateOf(t)
      assert(t.compactBuckets(Set(target)) == 1)
      val snap1 = t.currentSnapshot().get
      // exact accounting: the target bucket's dead positions are APPLIED
      assert(snap1.dvRows == snap0.dvRows - dvByBucket(target),
        s"dvRows ${snap0.dvRows} -> ${snap1.dvRows}, expected -${dvByBucket(target)}")
      val onDisk =
        if (snap1.dvFiles.isEmpty) 0L
        else spark.read.parquet(snap1.dvFiles.map(t.resolvePath): _*).count()
      assert(onDisk == snap1.dvRows, "sidecar fold must match the snapshot accounting")
      // survivors keep masking the untouched buckets' dead rows
      assert(stateOf(t) == before)
      assert(collectSorted(spark.read.format("graft").load(t.root)
        .select("repo", "path", "commit", "contentSha")) == before)
    } finally wal.unpersist()
  }

  test("compactBuckets leaves the change feed untouched (floor, hwm, typed rows)") {
    val t = new LakeTable(spark, tmpDir("tccdf"), defaultBuckets = 4,
      ApplyMode.MergeOnRead, defaultCdf = true)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      (0 until 4).foreach(i =>
        t.merge(wal.where(col("lsn").between(i * 1000 + 1, (i + 1) * 1000)), "cf", i.toLong))
      val snap0 = t.currentSnapshot().get
      val feedCols = Seq("repo", "path", "lsn", "_change_type")
      val feedBefore = collectSorted(t.readChangesBetween(0).select(feedCols.head, feedCols.tail: _*))
      val target = snap0.files.groupBy(_.bucket).maxBy(_._2.size)._1
      assert(t.compactBuckets(Set(target)) == 1)
      val snap1 = t.currentSnapshot().get
      assert(snap1.cdfSinceLsn == snap0.cdfSinceLsn && snap1.hwm == snap0.hwm)
      assert(snap1.cdfFiles == snap0.cdfFiles, "a fold must not write or drop sidecars")
      assert(collectSorted(t.readChangesBetween(0).select(feedCols.head, feedCols.tail: _*))
        == feedBefore, "typed feed must ride across the fold unchanged")
    } finally wal.unpersist()
  }

  test("resolve parallelism decouples from bucket count (sub-split shuffle)") {
    // force a cluster "wider" than the bucket count: 4 buckets, 16 slots
    spark.conf.set("spark.graft.resolve.minParallelism", "16")
    try {
      val t = new LakeTable(spark, tmpDir("split"), defaultBuckets = 4, ApplyMode.MergeOnRead)
      val wal = ChangeLogGen.changeLog(spark, cfg).persist()
      try {
        // the merge's resolve shuffle: more write tasks than buckets, k =
        // 16/4 = 4 → up to 4 key-disjoint files per bucket directory,
        // strictly more than one per bucket (compact() reads through the
        // scan, one task per bucket, and shuffles nothing)
        t.merge(wal.where(col("lsn") <= 2000), "s", 0L)
        val before = stateOf(t)
        val snap = t.currentSnapshot().get
        assert(snap.files.size > 4, s"expected sub-split output, got ${snap.files.size} files")
        assert(snap.files.groupBy(_.bucket).values.forall(_.size <= 4))
        // per-FILE stats: with several files per bucket, rows/totalRows must
        // count each file's OWN rows (a bucket-level copy would overcount k×)
        val actualRows = spark.read
          .parquet(snap.files.map(f => t.resolvePath(f.path)): _*).count()
        assert(snap.totalRows == actualRows,
          s"totalRows ${snap.totalRows} != stored rows $actualRows")
        assert(snap.files.map(_.rows).sum == actualRows)
        // DSv2 still serves the multi-file-per-bucket layout
        assert(collectSorted(spark.read.format("graft").load(t.root)
          .select("repo", "path", "commit", "contentSha")) == before)
        t.merge(wal.where(col("lsn") > 2000), "s", 1L)
        val merged = stateOf(t)
        t.compact()
        assert(stateOf(t) == merged, "compaction must not change table state")
      } finally wal.unpersist()
    } finally spark.conf.unset("spark.graft.resolve.minParallelism")
  }

  test("rebucket(newN) rewrites the layout; reads, merges and time travel stay correct") {
    val t = new LakeTable(spark, tmpDir("rb"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      t.merge(wal.where(col("lsn") <= 2000), "r", 0L)
      t.merge(wal.where(col("lsn").between(2001, 3000)), "r", 1L)
      val before = stateOf(t)
      val vPre = t.currentSnapshot().get.version
      t.rebucket(16)
      val snap = t.currentSnapshot().get
      assert(snap.nBuckets == 16 && t.nBuckets == 16, "snapshot must record the new layout")
      assert(snap.files.map(_.bucket).distinct.size > 4, "rows must spread over the new buckets")
      assert(stateOf(t) == before, "rebucket must not change table state")
      // time travel to a PRE-rebucket snapshot reads under the old layout
      assert(collectSorted(t.readAt(vPre).select("repo", "path", "commit", "contentSha")) == before)
      // a merge AFTER rebucket prunes against the new layout and converges
      // to the same state as a one-shot reference apply
      t.merge(wal.where(col("lsn") > 3000), "r", 2L)
      val ref = new LakeTable(spark, tmpDir("rbref"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
      ref.merge(wal, "ref", 0L)
      assert(stateOf(t) == stateOf(ref))
      // reopening with different constructor args still follows the snapshot
      assert(new LakeTable(spark, t.root, defaultBuckets = 4, ApplyMode.MergeOnRead).nBuckets == 16)
    } finally wal.unpersist()
  }

  test("expireSnapshots reclaims old files; current state intact; replay still exact-once") {
    val t = new LakeTable(spark, tmpDir("exp"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      (0 until 4).foreach(i => t.merge(wal.where(col("lsn").between(i * 1000 + 1, (i + 1) * 1000)), "e", i.toLong))
      val before = stateOf(t)
      val dataFilesBefore = Files.walk(Paths.get(t.root, "data"))
        .filter(p => p.toString.endsWith(".parquet")).count()
      t.expireSnapshots(keep = 1)
      val dataFilesAfter = Files.walk(Paths.get(t.root, "data"))
        .filter(p => p.toString.endsWith(".parquet")).count()
      assert(dataFilesAfter < dataFilesBefore, s"$dataFilesAfter < $dataFilesBefore")
      assert(stateOf(t) == before, "current snapshot unaffected")
      // exactly-once memory survives expiry (committed set is in the CURRENT snapshot)
      assert(t.merge(wal.where(col("lsn") <= 1000), "e", 0L).isEmpty)
      // and the table still accepts new batches afterwards
      val extra = ChangeLogGen.changeLog(spark, cfg.copy(seed = 34, events = 500))
      t.merge(extra, "e", 99L)
      assert(t.read().count() > 0)
    } finally wal.unpersist()
  }

  test("auto snapshot retention bounds the meta dir across commits (spark.graft.snapshots.retain)") {
    spark.conf.set("spark.graft.snapshots.retain", "3")
    try {
      val t = new LakeTable(spark, tmpDir("autoret"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
      val wal = ChangeLogGen.changeLog(spark, cfg).persist()
      try {
        (0 until 8).foreach(i =>
          t.merge(wal.where(col("lsn").between(i * 500 + 1, (i + 1) * 500)), "ar", i.toLong))
        val head = t.currentSnapshot().get.version
        // the version chain is BOUNDED at the retention count, not O(commits)
        val versions = SnapshotLog.existingVersions(t.fs.exists, s"${t.root}/meta", head)
        assert(versions == Seq(head - 2, head - 1, head),
          s"meta must hold exactly the 3 retained versions, got $versions")
        // time travel works across the retained window and errors below it
        assert(t.readAt(head - 2).count() > 0)
        intercept[IllegalArgumentException](t.readAt(head - 3))
        // storage is bounded too: every parquet on disk is referenced by a
        // retained snapshot (expired commits' files AND emptied dirs gone)
        val referenced = versions.flatMap { v =>
          val s = graft.table.SnapshotIO.read(
            t.fs.readString(s"${t.root}/meta/snap-$v.json"),
            mp => t.fs.readString(s"${t.root}/$mp"))
          (s.files.map(_.path) ++ s.dvFiles ++ s.cdfFiles.map(_.path)).map(t.resolvePath)
        }.toSet
        val onDisk = Files.walk(Paths.get(t.root, "data")).iterator()
        val stray = new scala.collection.mutable.ArrayBuffer[String]
        onDisk.forEachRemaining { p =>
          if (p.toString.endsWith(".parquet") && !referenced(p.toString)) stray += p.toString
        }
        assert(stray.isEmpty, s"unreferenced files survived auto-retention: $stray")
        // exactly-once memory lives in the CURRENT snapshot — replay still no-op
        assert(t.merge(wal.where(col("lsn") <= 500), "ar", 0L).isEmpty)
      } finally wal.unpersist()
    } finally spark.conf.unset("spark.graft.snapshots.retain")
  }

  test("a bad spark.graft.snapshots.retain fails the merge with nothing committed") {
    val t = new LakeTable(spark, tmpDir("badret"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "br", 0L)
    val head = t.currentSnapshot().map(_.version)
    Seq("1", "lots").foreach { v =>
      spark.conf.set("spark.graft.snapshots.retain", v)
      try {
        val e = intercept[IllegalArgumentException](t.merge(wal.where(col("lsn") > 2000), "br", 1L))
        assert(e.getMessage.contains("spark.graft.snapshots.retain"), e.getMessage)
      } finally spark.conf.unset("spark.graft.snapshots.retain")
      assert(t.currentSnapshot().map(_.version) == head, s"retain=$v: the failed merge must not commit")
    }
    // the batch was never recorded: it applies once the conf is fixed
    assert(t.merge(wal.where(col("lsn") > 2000), "br", 1L).nonEmpty)
  }

  test("a data pass that throws after writing leaves no attempt directory behind") {
    // the tombstone count reads spark.graft.tombstones.driverMaxRows after
    // the commit's files are written, so a bad value fails mid-pass
    val t = new LakeTable(spark, tmpDir("passleak"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "pl", 0L)
    val batch = wal.where(col("lsn") > 2000)
    assert(batch.where(col("op") === "D").count() > 0, "the batch must delete")
    val head = t.currentSnapshot().get
    spark.conf.set("spark.graft.tombstones.driverMaxRows", "lots")
    try intercept[IllegalArgumentException](t.merge(batch, "pl", 1L))
    finally spark.conf.unset("spark.graft.tombstones.driverMaxRows")
    assert(t.currentSnapshot().map(_.version) == Some(head.version), "the failed merge must not commit")
    val commitDirs = new java.io.File(s"${t.root}/data").listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(commitDirs == head.files.map(_.path.split('/')(1)).toSet,
      s"commit dirs $commitDirs outside the head's files")
  }

  test("time travel: readAt(v) reproduces each retained snapshot's state") {
    val t = new LakeTable(spark, tmpDir("tt"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      t.merge(wal.where(col("lsn") <= 2000), "t", 0L)
      val stateV1 = stateOf(t)
      t.merge(wal.where(col("lsn") > 2000), "t", 1L)
      val stateV2 = stateOf(t)
      assert(stateV1 != stateV2)
      assert(collectSorted(t.readAt(1).select("repo", "path", "commit", "contentSha")) == stateV1)
      assert(collectSorted(t.readAt(2).select("repo", "path", "commit", "contentSha")) == stateV2)
      t.expireSnapshots(keep = 1)
      intercept[IllegalArgumentException](t.readAt(1))
    } finally wal.unpersist()
  }

  test("keyed DELETE/UPDATE victim scans prune to the key's bucket") {
    val t = new LakeTable(spark, tmpDir("keydel"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal, "kd", 0L)
    val key = t.read().select("repo", "path").head()
    val (repo, path) = (key.getString(0), key.getString(1))
    val keyedCond = col("repo") === repo && col("path") === path && col("lsn") > 0L

    // the derived bucket set is exactly the key's bucket; extra non-key
    // conjuncts only narrow the victims and never block the derivation
    val expect = LakeTable.bucketOf(repo, path, 8)
    assert(t.bucketsFor(keyedCond).contains(Set(expect)))
    // repo alone cannot pin a bucket (the hash needs both key columns)
    assert(t.bucketsFor(col("repo") === repo).isEmpty)
    // IN-lists cross-product; reversed equality binds too
    assert(t.bucketsFor(col("repo").isin("a", "b") && col("path").isin("p", "q")).get.size <= 4)
    assert(t.bucketsFor(lit(repo) === col("repo") && col("path") === path)
      .contains(Set(expect)))
    // a predicate on a non-existent column must degrade to no pruning
    assert(t.bucketsFor(col("no_such_col") === "x").isEmpty)

    // the pruned victim scan opens ONLY that bucket's files
    def files(df: DataFrame) = planned(df).flatMap(_.files)
    val victims = files(t.readLive(t.bucketsFor(keyedCond)))
    assert(victims.nonEmpty && victims.forall(_.contains(s"/b=$expect/")),
      s"victim scan leaked outside bucket $expect: $victims")
    assert(victims.length < files(t.read()).length)

    // end-to-end: the keyed delete removes exactly the key, nothing else
    val before = t.read().count()
    t.deleteWhere(keyedCond)
    assert(t.read().where(col("repo") === repo && col("path") === path).isEmpty)
    assert(t.read().count() == before - 1)

    // keyed UPDATE through the same pruned path
    val key2 = t.read().select("repo", "path").head()
    t.updateWhere(col("repo") === key2.getString(0) && col("path") === key2.getString(1),
      Map("content" -> lit("patched")))
    val row = t.read().where(col("repo") === key2.getString(0) && col("path") === key2.getString(1))
    assert(row.select("content").head().getString(0) == "patched")
    assert(t.read().count() == before - 1, "update must not change cardinality")
  }
}
