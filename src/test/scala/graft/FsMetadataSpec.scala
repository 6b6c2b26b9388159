package graft

import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table._

/** A RawLocalFileSystem under a NON-default scheme: any `java.io.File` /
  * `java.nio.Files` call on a `graftfs:` path would fail outright, so a
  * full table lifecycle on this scheme proves the entire metadata/data path
  * goes through the Hadoop FileSystem API (the 100 TB deployments' HDFS/S3
  * contract).
  */
class TrackingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Round-2: table metadata/IO layer must be object-store capable — no
  * java.io/java.nio on the table path, bounded snapshot metadata, exact
  * 64-bit JSON round-trips.
  */
class FsMetadataSpec extends SparkSpec {

  val cfg = GenConfig(seed = 21, events = 3000, repos = 10, filesPerRepo = 10)

  private def lifecycle(root: String): Unit = {
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      val t = new LakeTable(spark, root, defaultBuckets = 4, ApplyMode.MergeOnRead)
      t.merge(wal.where(col("lsn") <= 1000), "fs", 0L)
      t.merge(wal.where(col("lsn") > 1000 && col("lsn") <= 2000), "fs", 1L)
      val v2 = t.currentSnapshot().get.version
      t.merge(wal.where(col("lsn") > 2000), "fs", 2L)
      assert(t.read().count() > 0)
      // idempotent replay through the FS-backed committed state
      assert(t.merge(wal.where(col("lsn") <= 1000), "fs", 0L).isEmpty)
      // time travel on the FS-backed snapshot history
      assert(t.readAt(v2).count() > 0)
      // lineage ledger on the same FS
      assert(t.ledger.entries().size == 3)
      // compaction + expiry (listing, deleting through the FS)
      t.compact()
      t.expireSnapshots(keep = 2)
      assert(t.read().count() > 0)
      // incremental read with file skipping still works
      assert(t.readChangedSince(2500).count() > 0)
    } finally wal.unpersist()
  }

  test("full table lifecycle against an explicit file: URI root") {
    lifecycle("file:" + tmpDir("fsuri"))
  }

  test("full table lifecycle against a NON-DEFAULT FileSystem scheme (graftfs:)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[TrackingFs].getName)
    lifecycle("graftfs:" + tmpDir("fstrack"))
  }

  test("catalog works against a file: URI root") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[TrackingFs].getName)
    val cat = new Catalog(spark, "graftfs:" + tmpDir("cat"))
    val t = cat.table("tenant_a", nBuckets = 4)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 500), "cat", 0L)
    assert(cat.list() == Seq("tenant_a"))
    assert(cat.properties("tenant_a")("format") == "graft-lake-v1")
    // reopen takes stored layout
    assert(cat.table("tenant_a", nBuckets = 99).nBuckets == 4)
  }

  test("tables are RELOCATABLE: move the directory, reopen at the new root") {
    // snapshots + DV sidecars store root-relative paths, so a table can be
    // moved/renamed/replicated (DR, env promotion) and reopened — including
    // a DeletionVector table with LIVE DVs, whose positions must keep
    // applying at the new location
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      for (mode <- Seq(ApplyMode.CopyOnWrite, ApplyMode.MergeOnRead, ApplyMode.DeletionVector)) {
        val src = tmpDir(s"reloc_src_$mode")
        val t = new LakeTable(spark, src, defaultBuckets = 4, mode)
        t.merge(wal.where(col("lsn") <= 1500), "r", 0L)
        t.merge(wal.where(col("lsn") > 1500), "r", 1L)
        val want = collectSorted(t.read().selectExpr("repo", "path", "commit", "lsn"))
        val vHist = t.currentSnapshot().get.version - 1
        val wantHist = collectSorted(t.readAt(vHist).selectExpr("repo", "path", "lsn"))
        if (mode == ApplyMode.DeletionVector)
          assert(t.currentSnapshot().get.dvRows > 0, "test needs live DVs")

        val dst = tmpDir(s"reloc_dst_$mode") + "_moved"
        val conf = spark.sessionState.newHadoopConf()
        val hfs = org.apache.hadoop.fs.FileSystem.get(conf)
        assert(hfs.rename(new org.apache.hadoop.fs.Path(src), new org.apache.hadoop.fs.Path(dst)))

        val moved = new LakeTable(spark, dst, defaultBuckets = 4, mode)
        assert(collectSorted(moved.read().selectExpr("repo", "path", "commit", "lsn")) == want,
          s"mode=$mode: relocated table must read identically")
        assert(collectSorted(moved.readAt(vHist).selectExpr("repo", "path", "lsn")) == wantHist,
          s"mode=$mode: time travel must survive relocation")
        // lifecycle still works at the new root
        moved.compact()
        assert(collectSorted(moved.read().selectExpr("repo", "path", "commit", "lsn")) == want)
      }
    } finally wal.unpersist()
  }

  test("snapshot JSON holds manifest pointers; a commit writes only touched buckets' manifests") {
    val t = new LakeTable(spark, tmpDir("mani"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      t.merge(wal.where(col("lsn") <= 2500), "m", 0L) // wide commit: all buckets
      val metaDir = s"${t.root}/meta"
      def snapJson(v: Int) = t.fs.readString(s"$metaDir/snap-$v.json")
      def manifestsOf(v: Int) = // attempt-token suffix: man-<v>-<token>.json
        t.fs.listFiles(metaDir, n => n.startsWith(s"man-$v-") && n.endsWith(".json"))
      val v1 = t.currentSnapshot().get.version
      assert(manifestsOf(v1).size == 1, "a commit writes ONE manifest file")
      // data-file paths live in the manifests, NOT the snapshot JSON
      assert(!snapJson(v1).contains(".parquet"), snapJson(v1))

      // single-key batch → exactly ONE bucket touched → the new manifest
      // carries just that bucket; the other 7 pointers are reused from v1
      t.merge(wal.where(col("lsn") === 2600), "m", 1L)
      val v2 = t.currentSnapshot().get.version
      assert(manifestsOf(v2).size == 1, s"expected 1 new manifest, got ${manifestsOf(v2)}")
      val snap = t.currentSnapshot().get
      assert(snap.manifests.count(_._2.startsWith(s"meta/man-$v1-")) == 7, snap.manifests.toString)
      assert(SnapshotIO.readManifest(t.fs.readString(manifestsOf(v2).head)).size == 1,
        "new manifest must carry only the touched bucket")
      // per-commit snapshot growth is pointer-sized, independent of the
      // table's file count
      assert(math.abs(snapJson(v2).length - snapJson(v1).length) < 200,
        s"${snapJson(v1).length} -> ${snapJson(v2).length}")
      // hydration: the pointer-based snapshot still resolves the full file set
      assert(snap.files.nonEmpty && snap.files.map(_.rows).sum == snap.totalRows)
      assert(t.read().count() > 0)
    } finally wal.unpersist()
  }

  test("manifest auto-fold bounds distinct manifests (metadata-only compaction)") {
    val t = new LakeTable(spark, tmpDir("manifold"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg).persist()
    try {
      t.merge(wal.where(col("lsn") <= 2000), "f", 0L)
      // 30 narrow commits: without folding the snapshot would reference ~31
      // distinct manifests; the fold must keep hydration reads bounded by
      // the threshold, with NO data file rewritten
      (1 to 30).foreach { i =>
        t.merge(wal.where(col("lsn") === 2000 + i * 20), "f", i.toLong)
      }
      val snap = t.currentSnapshot().get
      val distinct = snap.manifests.map(_._2).distinct.size
      assert(distinct <= 16, s"expected <= 16 distinct manifests after fold, got $distinct")
      // folding is metadata-only: delta stack still un-compacted
      assert(snap.files.groupBy(_.bucket).values.map(_.size).max > 1)
      // hydrated state still exact
      assert(snap.files.map(_.rows).sum == snap.totalRows)
      assert(t.read().count() > 0)
    } finally wal.unpersist()
  }

  test("snapshot metadata is O(1) in committed batch count") {
    val base = Snapshot(1, "a BIGINT", 4, Seq.empty, Map.empty, 0L, 0L, "mor")
    val grown = (0 until 1000).foldLeft(base) { (s, i) =>
      s.copy(committed = s.withCommit("cp", i.toLong))
    }
    assert(grown.committedCount == 1000)
    assert(grown.committed("cp") == CommitState(999L, Nil))
    val json = SnapshotIO.write(grown)
    assert(json.length < 500, s"snapshot JSON must not grow with batch count: ${json.length}")
    assert(SnapshotIO.read(json) == grown)
  }

  test("out-of-order commits are tracked then folded into the hwm") {
    var c = CommitState()
    c = c.absorb(0L); c = c.absorb(2L); c = c.absorb(3L)
    assert(c == CommitState(0L, Seq(2L, 3L)))
    assert(c.contains(2L) && !c.contains(1L))
    c = c.absorb(1L)
    assert(c == CommitState(3L, Nil), "pending must fold once the gap fills")
    assert(c.absorb(2L) == c, "re-commit is a no-op")
  }

  test("atomicCreate falls back to Hadoop arbitration when the mount cannot hard-link") {
    val conf = spark.sessionState.newHadoopConf()
    val failures: Seq[(String, (java.nio.file.Path, java.nio.file.Path) => Unit)] = Seq(
      "unsupported" -> ((_, _) => throw new UnsupportedOperationException("no hard links here")),
      "fs-error" -> ((l, _) => throw new java.nio.file.FileSystemException(l.toString, null, "Operation not permitted")))
    failures.foreach { case (name, link) =>
      val fs = new Fs(conf, link)
      val dir = tmpDir(s"nolink-$name")
      (1 to 5).foreach { round =>
        val target = s"$dir/commit-$round.json"
        val start = new java.util.concurrent.CountDownLatch(1)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val racers = Seq("a", "b").map(w => pool.submit(() => { start.await(); w -> fs.atomicCreate(target, w) }))
          start.countDown()
          val results = racers.map(_.get())
          assert(results.count(_._2) == 1, s"$name round $round: exactly one creator wins, got $results")
          assert(fs.readString(target) == results.find(_._2).get._1, "the winner's content is published")
        } finally pool.shutdown()
        assert(!fs.atomicCreate(target, "late"), "an existing file is never replaced")
      }
      assert(new java.io.File(dir).list().forall(n => !n.endsWith(".tmp")), "no temp file is left behind")
    }
  }

  test("JSON round-trips 64-bit values above 2^53 exactly") {
    val hwm = (1L << 60) + 3L
    val s = Snapshot(1, "a BIGINT", 4,
      Seq(FileEntry(0, "file:/x/p.parquet", 10L, (1L << 55) + 1L, hwm)),
      Map("cp" -> CommitState(7L, Seq((1L << 54) + 1L))), hwm, 10L, "cow")
    assert(SnapshotIO.read(SnapshotIO.write(s)) == s)
    assert(JsonMini.parse(s"$hwm") == hwm)
    assert(JsonMini.parse("1.5") == 1.5)
    assert(JsonMini.parse("-42") == -42L)
  }
}
