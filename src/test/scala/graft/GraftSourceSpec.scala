package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.sources.GraftScan
import graft.table.{ApplyMode, LakeTable}

/** DataSourceV2 `graft` format: spark.read.format("graft").load(root) must
  * equal LakeTable.read(), push column pruning + lsn filters into the scan
  * (file-level skipping), serve time travel, and refuse un-compacted MOR.
  */
class GraftSourceSpec extends SparkSpec {

  val cfg = GenConfig(seed = 31, events = 4000, repos = 12, filesPerRepo = 15)

  private def buildCow(): LakeTable = {
    val t = new LakeTable(spark, tmpDir("dsv2"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "dsv2", 0L)
    t.merge(wal.where(col("lsn") > 2000), "dsv2", 1L)
    t
  }

  test("format(graft).load == LakeTable.read (live rows, no tombstones)") {
    val t = buildCow()
    val viaDsv2 = spark.read.format("graft").load(t.root)
    assert(!viaDsv2.columns.contains("deleted"))
    val cols = Seq("repo", "path", "commit", "lang", "contentSha", "lsn")
    assert(collectSorted(viaDsv2.select(cols.map(col): _*)) ==
      collectSorted(t.read().select(cols.map(col): _*)))
  }

  test("column pruning and lsn filters reach the graft scan; files skipped") {
    // second commit touches ONE key (one bucket), so the other buckets keep
    // their low-lsn files — exactly the shape lsn skipping prunes
    val t = new LakeTable(spark, tmpDir("dsv2skip"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "skip", 0L)
    t.merge(wal.where(col("lsn") === 3500), "skip", 1L)
    val df = spark.read.format("graft").load(t.root)
      .where(col("lsn") >= 3000).select("repo", "lsn")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.size == 1)
    val scan = scans.head.scan.asInstanceOf[GraftScan]
    assert(scan.readSchema().fieldNames.toSet == Set("repo", "lsn"), "columns not pruned")
    assert(scan.description().contains("GreaterThanOrEqual(lsn,3000)"), scan.description())
    // commit 1 rewrote the affected buckets; files whose whole lsn range is
    // below the cursor are skipped at plan time
    val total = t.currentSnapshot().get.files.size
    val scanned = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition].files.size).sum
    assert(scanned < total, s"expected file skipping: $scanned/$total")
    // and the result equals the LakeTable path
    assert(collectSorted(df) ==
      collectSorted(t.read().where(col("lsn") >= 3000).select("repo", "lsn")))
  }

  test("scan-task bin-packing: small same-bucket files share a partition") {
    // DV mode appends one version-file per commit per touched bucket — the
    // many-small-files shape packing exists for
    val t = new LakeTable(spark, tmpDir("dsv2pack"), defaultBuckets = 2, ApplyMode.DeletionVector)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    (0 until 4).foreach(i =>
      t.merge(wal.where(col("lsn") > i * 1000 && col("lsn") <= (i + 1) * 1000), "pack", i.toLong))
    val snap = t.currentSnapshot().get
    assert(snap.files.groupBy(_.bucket).values.exists(_.size > 1), "fixture needs multi-file buckets")
    val df = spark.read.format("graft").load(t.root).select("repo", "path", "commit", "lsn")
    val scan = scanOf(df)
    val parts = scan.planInputPartitions().map(_.asInstanceOf[graft.sources.GraftInputPartition])
    assert(parts.length < snap.files.size,
      s"packing must plan fewer partitions (${parts.length}) than files (${snap.files.size})")
    // a partition never mixes buckets (the SPJ partition-key contract)
    parts.foreach { p =>
      val bs = p.files.map(f => "/b=(\\d+)/".r.findFirstMatchIn(f).get.group(1).toInt).toSet
      assert(bs == Set(p.bucket), s"partition mixes buckets: $bs vs bucket ${p.bucket}")
    }
    // results identical to the engine read path (DVs still applied per file)
    assert(collectSorted(df) == collectSorted(t.read().select("repo", "path", "commit", "lsn")))
    // a cap below any file's rows restores one partition per file
    val one = spark.read.format("graft").option("packRows", "1").load(t.root).select("repo", "lsn")
    assert(scanOf(one).planInputPartitions().length == snap.files.size)
  }

  private def packRowsError(df: => org.apache.spark.sql.DataFrame): String =
    intercept[IllegalArgumentException](scanOf(df).planInputPartitions()).getMessage

  test("a malformed packRows read option fails naming the option") {
    val t = buildCow()
    val msg = packRowsError(spark.read.format("graft").option("packRows", "lots").load(t.root))
    assert(msg.contains("packRows") && msg.contains("'lots'"), msg)
  }

  test("a malformed spark.graft.scan.packRows fails naming the conf key") {
    val t = buildCow()
    spark.conf.set("spark.graft.scan.packRows", "lots")
    try {
      val msg = packRowsError(spark.read.format("graft").load(t.root))
      assert(msg.contains("spark.graft.scan.packRows") && msg.contains("'lots'"), msg)
    } finally spark.conf.unset("spark.graft.scan.packRows")
  }

  test("a malformed spark.graft.* conf fails naming its key (describe_detail, point lookup, merge)") {
    val t = buildCow()
    val cat = "gconf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", new java.io.File(t.root).getParent)
    val name = new java.io.File(t.root).getName
    def fails(key: String)(op: => Any): Unit = {
      spark.conf.set(key, "lots")
      try {
        val e = intercept[Exception](op)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains(key) && m.contains("'lots'")),
          s"$key: ${e.getMessage}")
      } finally spark.conf.unset(key)
    }
    fails("spark.graft.cdf.retentionLsns")(
      spark.sql(s"CALL $cat.system.describe_detail('$name')").collect())
    fails("spark.graft.bloom.scan.maxFiles")(
      spark.read.format("graft").load(t.root).where(col("repo") === "r" && col("path") === "p").collect())
    fails("spark.graft.tombstones.driverMaxRows")(
      t.merge(ChangeLogGen.changeLog(spark, cfg.copy(seed = 32, events = 200)), "conf", 2L))
  }

  /** `op` fails with an error (or a cause) naming `key` and quoting `v` */
  private def failsNaming(key: String, v: String)(op: => Any): Unit = {
    val e = intercept[Exception](op)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains(key) && m.contains(s"'$v'")), s"$key=$v: ${e.getMessage}")
  }

  test("bad table options fail naming the option: wideBucketRows, buckets, cdf") {
    // a stacked MoR bucket is what consults wideBucketRows
    val t = new LakeTable(spark, tmpDir("badopts"), defaultBuckets = 2, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg.copy(events = 400))
    t.merge(wal.where(col("lsn") <= 200), "bad", 0L)
    t.merge(wal.where(col("lsn") > 200), "bad", 1L)
    for (v <- Seq("0", "-1", "lots"))
      failsNaming("wideBucketRows", v)(scanOf(spark.read.format("graft")
        .option("wideBucketRows", v).load(t.root)).planInputPartitions())
    val rows = spark.read.format("graft").load(t.root).limit(3)
    for (v <- Seq("0", "-4", "lots")) {
      // the create-on-first-write read, and a write into an existing table
      failsNaming("buckets", v)(spark.read.format("graft").option("create", "true")
        .option("buckets", v).load(tmpDir("badbuckets")).schema)
      failsNaming("buckets", v)(rows.write.format("graft").option("buckets", v).mode("append").save(t.root))
    }
    failsNaming("cdf", "maybe")(rows.write.format("graft").option("cdf", "maybe").mode("append").save(t.root))
    assert(t.currentSnapshot().get.version == 2, "a refused write commits nothing")
    // the same options as SQL table properties
    val cat = "gbadopts"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    val catRoot = tmpDir("badoptscat")
    spark.conf.set(s"spark.sql.catalog.$cat.root", catRoot)
    def create(name: String, prop: String, v: String) = spark.sql(s"""CREATE TABLE $cat.$name
      (repo STRING, path STRING, commit STRING, content STRING, lsn BIGINT)
      TBLPROPERTIES ('$prop' = '$v')""")
    failsNaming("buckets", "0")(create("zero", "buckets", "0"))
    failsNaming("cdf", "maybe")(create("maybe", "cdf", "maybe"))
    // valid spellings still parse
    create("full", "cdf", "FULL")
    assert(new LakeTable(spark, s"$catRoot/full").currentSnapshot().get.cdfFullSinceLsn == 0L)
  }

  test("SQL over the DSv2 table (temp view)") {
    val t = buildCow()
    spark.read.format("graft").load(t.root).createOrReplaceTempView("dsv2_repos")
    val n = spark.sql("SELECT lang, count(*) n FROM dsv2_repos GROUP BY 1").count()
    assert(n > 0)
  }

  test("time travel via option(snapshot)") {
    val t = buildCow()
    val v1 = spark.read.format("graft").option("snapshot", 1).load(t.root)
    val expect = t.readAt(1).select("repo", "path", "lsn")
    assert(collectSorted(v1.select("repo", "path", "lsn")) == collectSorted(expect))
  }

  test("schema evolution: pre-evolution files read back null-backfilled") {
    val t = new LakeTable(spark, tmpDir("dsv2evo"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "evo", 0L)
    t.merge(wal.where(col("lsn") > 2000).withColumn("branch", lit("main")), "evo", 1L)
    val df = spark.read.format("graft").load(t.root)
    assert(df.columns.contains("branch"))
    assert(collectSorted(df.select("repo", "path", "branch")) ==
      collectSorted(t.read().select("repo", "path", "branch")))
  }

  test("un-compacted MergeOnRead served via per-bucket resolve readers; compacted too") {
    val t = new LakeTable(spark, tmpDir("dsv2mor"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "mor", 0L)
    t.merge(wal.where(col("lsn") > 2000), "mor", 1L)
    // live deltas: latest-per-key (incl. the tombstone filter) must resolve
    // INSIDE the scan, no compact() required
    val df = spark.read.format("graft").load(t.root)
    assert(collectSorted(df.select("repo", "path", "commit", "lsn")) ==
      collectSorted(t.read().select("repo", "path", "commit", "lsn")))
    // one resolve partition per multi-file bucket
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftScan]
    val parts = scan.planInputPartitions().map(_.asInstanceOf[graft.sources.GraftInputPartition])
    assert(parts.exists(p => p.resolveLatest && p.files.size > 1), "expected bucket resolve partitions")
    t.compact()
    assert(collectSorted(spark.read.format("graft").load(t.root).select("repo", "path", "lsn")) ==
      collectSorted(t.read().select("repo", "path", "lsn")))
  }

  test("PARTIALLY-compacted MoR scans plan uniformly (no mixed row/columnar crash)") {
    // Spark rejects mixed row/columnar partitions in one scan even under
    // PARTITION_DEFINED; a table whose buckets straddle single-file
    // (columnar-eligible) and multi-file (resolve = row) layouts used to
    // crash at planning. One bucket folded, the rest left as chains is
    // the steady state of TARGETED compaction — it must just read.
    val t = new LakeTable(spark, tmpDir("dsv2mix"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "mix", 0L)
    t.compact() // every bucket down to one file
    // second batch touches ONE key only — its bucket stacks a delta
    // chain, the other buckets stay single-file
    val k = wal.where(col("lsn") > 2000).orderBy(col("lsn").desc).select("repo", "path").head
    t.merge(wal.where(col("lsn") > 2000 &&
      col("repo") === k.getString(0) && col("path") === k.getString(1)), "mix", 1L)
    val byBucket = t.currentSnapshot().get.files.groupBy(_.bucket).values.map(_.size)
    assert(byBucket.exists(_ == 1) && byBucket.exists(_ > 1), "fixture must straddle layouts")
    assert(collectSorted(spark.read.format("graft").load(t.root).select("repo", "path", "lsn")) ==
      collectSorted(t.read().select("repo", "path", "lsn")))
  }

  test("MOR resolve: upper-bound lsn filter must not resurrect old versions") {
    val t = new LakeTable(spark, tmpDir("dsv2morhi"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "morhi", 0L)
    t.merge(wal.where(col("lsn") > 2000), "morhi", 1L)
    // a key updated after lsn 2000 must NOT come back as its pre-2000
    // version when the scan skips files by the pushed upper bound
    val viaDsv2 = spark.read.format("graft").load(t.root)
      .where(col("lsn") <= 2000).select("repo", "path", "commit", "lsn")
    val expect = t.read().where(col("lsn") <= 2000).select("repo", "path", "commit", "lsn")
    assert(collectSorted(viaDsv2) == collectSorted(expect))
  }

  test("live-DV tables: plan ships sidecar PATHS only; positions load reader-side") {
    val t = new LakeTable(spark, tmpDir("dsv2dv"), defaultBuckets = 4, ApplyMode.DeletionVector)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "dv", 0L)
    t.merge(wal.where(col("lsn") > 2000), "dv", 1L)
    val snap = t.currentSnapshot().get
    assert(snap.dvRows > 0, "fixture must have live deletion vectors")
    val df = spark.read.format("graft").load(t.root)
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftScan]
    val parts = scan.planInputPartitions().map(_.asInstanceOf[graft.sources.GraftInputPartition])
    // driver-side plan state is O(paths): no partition materialises positions
    assert(parts.forall(p => !p.productIterator.exists(_.isInstanceOf[Array[Long]])),
      "InputPartitions must not carry materialised DV positions")
    assert(parts.exists(_.dvSidecars.nonEmpty), "affected buckets must reference their sidecars")
    // sidecars are bucket-partitioned: a partition only sees its own bucket's
    // sidecars (never the whole table's)
    assert(parts.filter(_.dvSidecars.nonEmpty).forall(_.dvSidecars.size < snap.dvFiles.size + 1))
    // and the result still equals the engine read path
    val cols = Seq("repo", "path", "commit", "lang", "contentSha", "lsn")
    assert(collectSorted(df.select(cols.map(col): _*)) ==
      collectSorted(t.read().select(cols.map(col): _*)))
  }

  test("scan reports planner statistics; lsn pruning shrinks them proportionally") {
    val t = buildCow()
    def statsOf(df: org.apache.spark.sql.DataFrame) = {
      val scan = df.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftScan]
      scan.estimateStatistics()
    }
    val full = statsOf(spark.read.format("graft").load(t.root).select("repo", "lsn"))
    val snap = t.currentSnapshot().get
    assert(full.numRows.getAsLong == snap.totalRows)
    assert(full.sizeInBytes.getAsLong > 0)
    // prunable shape: a later single-key commit leaves the other buckets'
    // files wholly below the cursor
    val t2 = new LakeTable(spark, tmpDir("dsv2stat"), defaultBuckets = 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t2.merge(wal.where(col("lsn") <= 2000), "st", 0L)
    t2.merge(wal.where(col("lsn") === 3500), "st", 1L)
    val full2 = statsOf(spark.read.format("graft").load(t2.root).select("repo", "lsn"))
    val pruned = statsOf(spark.read.format("graft").load(t2.root)
      .where(col("lsn") >= 3000).select("repo", "lsn"))
    assert(full2.numRows.getAsLong == t2.currentSnapshot().get.totalRows)
    assert(pruned.numRows.getAsLong < full2.numRows.getAsLong,
      "file-level pruning must shrink the estimate")
    assert(pruned.numRows.getAsLong > 0, "a non-empty pruned scan must never estimate 0 rows")
  }

  test("vectorized columnar scan is the default; row fallback agrees") {
    val t = buildCow()
    val df = spark.read.format("graft").load(t.root)
    val exec = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(exec.supportsColumnar, "cow table scan should serve ColumnarBatches")
    val rowDf = spark.read.format("graft").option("vectorized", "false").load(t.root)
    val rowExec = rowDf.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    assert(!rowExec.supportsColumnar)
    val cols = Seq("repo", "path", "commit", "lang", "contentSha", "lsn")
    assert(collectSorted(df.select(cols.map(col): _*)) ==
      collectSorted(rowDf.select(cols.map(col): _*)))
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftScan =
    df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftScan]

  test("point lookup (repo AND path bound) prunes to ONE key-hash bucket") {
    val t = buildCow()
    val key = t.read().select("repo", "path").head()
    val (repo, path) = (key.getString(0), key.getString(1))
    val all = spark.read.format("graft").load(t.root)
    val total = scanOf(all.select("repo", "path", "lsn")).planInputPartitions().length
    val point = all.where(col("repo") === repo && col("path") === path)
      .select("repo", "path", "lsn")
    val scan = scanOf(point)
    val parts = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition])
    // the bound key hashes to exactly one of the 4 buckets; a point lookup
    // must open only that bucket's files — never the whole table
    val snap = t.currentSnapshot().get
    val bucketFiles = snap.files.groupBy(_.bucket).values.map(_.size).max
    assert(parts.length <= bucketFiles && parts.length < total,
      s"expected bucket pruning: ${parts.length} of $total partitions (max bucket files $bucketFiles)")
    val plannedBuckets = parts.flatMap(_.files).map(f =>
      "/b=(\\d+)/".r.findFirstMatchIn(f).get.group(1).toInt).toSet
    assert(plannedBuckets.size == 1, s"one bucket expected, planned $plannedBuckets")
    // and the result still equals the engine read path
    assert(collectSorted(point) == collectSorted(
      t.read().where(col("repo") === repo && col("path") === path)
        .select("repo", "path", "lsn")))
  }

  test("repo-only equality skips other commits' delta files via repo min/max stats") {
    // MOR deltas: one commit per repo → each commit's files carry a TIGHT
    // repo range, the shape a per-repo CDC consumer produces
    val t = new LakeTable(spark, tmpDir("dsv2repoeq"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    val repos = wal.select("repo").distinct().collect().map(_.getString(0)).sorted.take(4)
    repos.zipWithIndex.foreach { case (r, i) =>
      t.merge(wal.where(col("repo") === r), "kp", i.toLong)
    }
    val snap = t.currentSnapshot().get
    assert(snap.files.forall(f => f.minRepo != null && f.maxRepo != null),
      "commits must record per-file repo min/max stats")
    val all = spark.read.format("graft").load(t.root)
    val total = scanOf(all.select("repo", "lsn")).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition]).flatMap(_.files).length
    val one = all.where(col("repo") === repos.head).select("repo", "lsn")
    val planned = scanOf(one).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition]).flatMap(_.files)
    assert(planned.length < total,
      s"expected repo-range file skipping: ${planned.length}/$total")
    // correctness under the MOR resolve: winners of the bound repo are
    // complete (all its versions are in surviving files)
    assert(collectSorted(one) == collectSorted(
      t.read().where(col("repo") === repos.head).select("repo", "lsn")))
  }

  test("path-only equality skips files via path min/max stats (find-this-file-everywhere)") {
    // one commit per path-prefix cluster → tight per-file PATH ranges; a
    // path-only predicate binds no bucket and no repo range, so this is
    // the one skip the round-4 stats could not do
    val t = new LakeTable(spark, tmpDir("dsv2patheq"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    val paths = wal.select("path").distinct().collect().map(_.getString(0)).sorted.take(4)
    paths.zipWithIndex.foreach { case (p, i) =>
      t.merge(wal.where(col("path") === p), "pp", i.toLong)
    }
    val snap = t.currentSnapshot().get
    assert(snap.files.forall(f => f.minPath != null && f.maxPath != null),
      "commits must record per-file path min/max stats")
    val all = spark.read.format("graft").load(t.root)
    val total = scanOf(all.select("path", "lsn")).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition]).flatMap(_.files).length
    val one = all.where(col("path") === paths.head).select("path", "lsn")
    val planned = scanOf(one).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition]).flatMap(_.files)
    assert(planned.length < total,
      s"expected path-range file skipping: ${planned.length}/$total")
    // correctness under the MOR resolve: all versions of the bound path's
    // keys are in surviving files
    assert(collectSorted(one) == collectSorted(
      t.read().where(col("path") === paths.head).select("path", "lsn")))
  }

  test("MOR deltas written (repo,path)-sorted; resolve streams a k-way merge in O(files) memory") {
    val t = new LakeTable(spark, tmpDir("dsv2sorted"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "srt", 0L)
    t.merge(wal.where(col("lsn") > 2000), "srt", 1L)
    val snap = t.currentSnapshot().get
    assert(snap.files.forall(_.sorted), "bucketResolve outputs must be marked sorted")
    // the physical file really is ordered by (repo, path) — sort order is
    // part of the format now, the streaming merge depends on it
    val biggest = snap.files.maxBy(_.rows)
    val rows = spark.read.parquet(t.resolvePath(biggest.path))
      .select("repo", "path").coalesce(1).collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.sameElements(rows.sortBy(identity)), "file rows must be (repo,path)-sorted")
    // the scan takes the sorted-merge path for every multi-file bucket
    val df = spark.read.format("graft").load(t.root)
    val scan = scanOf(df.select("repo", "path", "commit", "lsn"))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[graft.sources.GraftInputPartition])
    assert(parts.filter(_.resolveLatest).nonEmpty, "fixture must have multi-file buckets")
    assert(parts.filter(_.resolveLatest).forall(_.sortedResolve),
      "sorted files must be served by the streaming merge reader")
    // and the served state equals the engine read path
    assert(collectSorted(df.select("repo", "path", "commit", "lsn")) ==
      collectSorted(t.read().select("repo", "path", "commit", "lsn")))
  }

  test("sorted-merge reader and hash-map fallback resolve identically") {
    val t = new LakeTable(spark, tmpDir("dsv2srteq"), defaultBuckets = 2, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 1500), "se", 0L)
    t.merge(wal.where(col("lsn") > 1500 && col("lsn") <= 3000), "se", 1L)
    t.merge(wal.where(col("lsn") > 3000), "se", 2L)
    val snap = t.currentSnapshot().get
    val bucketFiles = snap.files.filter(_.bucket == 0).map(f => t.resolvePath(f.path))
    assert(bucketFiles.size > 1)
    val required = org.apache.spark.sql.types.StructType.fromDDL(
      "repo STRING, path STRING, commit STRING, lsn BIGINT")
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val factory = new graft.sources.GraftReaderFactory(required, conf, false)
    def drain(p: graft.sources.GraftInputPartition): Seq[Seq[Any]] = {
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      try while (r.next()) {
        val row = r.get()
        out += Seq(row.getUTF8String(0).toString, row.getUTF8String(1).toString,
          row.getUTF8String(2).toString, row.getLong(3))
      } finally r.close()
      out.toSeq.sortBy(_.mkString("|"))
    }
    val viaSorted = drain(graft.sources.GraftInputPartition(bucketFiles, Nil,
      resolveLatest = true, sortedResolve = true))
    val viaHash = drain(graft.sources.GraftInputPartition(bucketFiles, Nil,
      resolveLatest = true, sortedResolve = false))
    assert(viaSorted.nonEmpty && viaSorted == viaHash,
      s"sorted merge and hash resolve must agree (${viaSorted.size} vs ${viaHash.size} rows)")
  }

  test("wide sorted MOR buckets split into key-range resolve tasks; union is exact") {
    // tiny rowgroups so the fixture files carry several blocks (the split
    // points come from rowgroup boundary stats)
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    val oldPage = hconf.get("parquet.page.size")
    hconf.setInt("parquet.block.size", 16 * 1024)
    hconf.setInt("parquet.page.size", 4 * 1024)
    try {
      val t = new LakeTable(spark, tmpDir("dsv2wide"), defaultBuckets = 2, ApplyMode.MergeOnRead)
      // a WIDE key space (4k keys) so the per-commit deduped delta files
      // span several of the tiny rowgroups configured above
      val wideCfg = GenConfig(seed = 77, events = 20000, repos = 40, filesPerRepo = 100)
      val wal = ChangeLogGen.changeLog(spark, wideCfg)
      t.merge(wal.where(col("lsn") <= 10000), "wd", 0L)
      t.merge(wal.where(col("lsn") > 10000), "wd", 1L)
      val nBuckets = t.currentSnapshot().get.files.map(_.bucket).distinct.size
      val df = spark.read.format("graft").option("wideBucketRows", "100").load(t.root)
      val scan = scanOf(df.select("repo", "path", "commit", "lsn"))
      val parts = scan.planInputPartitions().map(_.asInstanceOf[graft.sources.GraftInputPartition])
      val resolve = parts.filter(_.resolveLatest)
      assert(resolve.length > nBuckets,
        s"wide buckets must split: ${resolve.length} tasks over $nBuckets buckets")
      assert(resolve.exists(_.range.isDefined))
      // per bucket, the ranges must be ASCENDING and CHAINED (each hi is
      // the next lo): overlap would emit duplicate rows, a gap would lose
      // keys — split points come from non-monotonic rowgroup stat
      // composites and MUST be sorted before ranges are built
      resolve.filter(_.range.isDefined).groupBy(_.files).values.foreach { ps =>
        val rs = ps.flatMap(_.range)
        rs.sliding(2).foreach {
          case Array(a, b) =>
            // each range's ceiling IS the next range's floor — anything
            // else (incl. a floor-unbounded range mid-chain) overlaps or
            // gaps the key space
            assert(a.bounded && b.loRepo == a.hiRepo && b.loPath == a.hiPath,
              s"ranges must chain: $a -> $b")
          case _ => ()
        }
        assert(rs.head.loRepo == null, "first range must be floor-unbounded")
        assert(!rs.last.bounded, "last range must be ceiling-unbounded")
      }
      // ranges must PARTITION the key space: the split scan's result equals
      // the engine read exactly (no lost keys, no duplicated keys, each
      // key's history resolved completely within its one range)
      assert(collectSorted(df.select("repo", "path", "commit", "lsn")) ==
        collectSorted(t.read().select("repo", "path", "commit", "lsn")))
      // and an UNSPLIT scan of the same table agrees too
      val whole = spark.read.format("graft").load(t.root)
      assert(collectSorted(whole.select("repo", "path", "lsn")) ==
        collectSorted(t.read().select("repo", "path", "lsn")))
    } finally {
      if (oldBlock == null) hconf.unset("parquet.block.size") else hconf.set("parquet.block.size", oldBlock)
      if (oldPage == null) hconf.unset("parquet.page.size") else hconf.set("parquet.page.size", oldPage)
    }
  }

  test("runtime filtering: a broadcast join on repo prunes files at execution") {
    // per-repo commits → tight per-file repo ranges (the CDC shape)
    val t = new LakeTable(spark, tmpDir("dsv2rtf"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    val repos = wal.select("repo").distinct().collect().map(_.getString(0)).sorted.take(4)
    repos.zipWithIndex.foreach { case (r, i) =>
      t.merge(wal.where(col("repo") === r), "rtf", i.toLong)
    }
    val totalFiles = t.currentSnapshot().get.files.size
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the stats-based benefit heuristic compares against the dim's
    // (unknown) column stats; the fallback ratio path injects on size alone
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      import spark.implicits._
      // DPP needs a SELECTIVE FILTER on the build side (a bare local
      // relation never qualifies) — the realistic shape: a dim table
      // filtered to the repos of interest
      val dimDir = tmpDir("rtfdim")
      repos.zipWithIndex.toSeq.toDF("repo", "tier")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).where(col("tier") === 0).select("repo")
      val fact = spark.read.format("graft").load(t.root)
      val joined = fact.join(broadcast(dim), "repo").select(col("repo"), col("lsn"))
      val rows = joined.collect()
      // correctness first
      assert(rows.length ==
        t.read().where(col("repo") === repos.head).count().toInt, "join result wrong")
      // the executed scan carries a runtime filter and planned FEWER files
      // than the table holds (per-file repo ranges exclude the other repos)
      val scans = joined.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.nonEmpty)
      assert(scans.head.runtimeFilters.nonEmpty,
        "planner must inject a runtime filter for a filtered broadcast dim on filterAttributes")
      // execution called scan.filter(...) with the dim's observed repo
      // values — the scan now plans only the files whose repo range
      // intersects them (BatchScanExec.inputPartitions is the pre-filter
      // set, so re-plan through the mutated scan)
      val planned = scans.head.scan.asInstanceOf[GraftScan].planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition]).flatMap(_.files).length
      assert(planned < totalFiles,
        s"runtime filter must prune files: $planned/$totalFiles")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    }
  }

  test("changeTypes on BATCH reads needs the feed (loud error on a feed-off table)") {
    // since round 6 a COVERED batch changeTypes scan is served from the
    // CDF sidecars (CdfSidecarSpec pins it); on a feed-off table there is
    // no per-commit change history to serve — fail loudly, pointing at
    // enablement or the streaming tail's history walk
    val t = buildCow()
    val e = intercept[Exception] {
      spark.read.format("graft").option("changeTypes", "true").load(t.root).collect()
    }
    assert(e.getMessage.contains("change data feed"), e.getMessage)
  }

  test("a changeFeed batch read serves the same rows whatever columns it prunes") {
    // tombstones are served because the READ asked for them, not because
    // `deleted` survived column pruning
    val mor = new LakeTable(spark, tmpDir("cfmor"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val dv = new LakeTable(spark, tmpDir("cfdv"), defaultBuckets = 4, ApplyMode.DeletionVector)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    Seq(mor, dv).foreach { t =>
      (0 until 3).foreach(i => t.merge(wal.where(pmod(col("lsn"), lit(3)) === i), "cf", i.toLong))
      val df = spark.read.format("graft").option("changeFeed", "true").load(t.root)
      val n = df.collect().length
      assert(df.where(col("deleted")).count() > 0, s"${t.root}: fixture needs tombstones")
      assert(n == t.readResolved().count())
      assert(df.count() == n)
      assert(df.select("repo").count() == n)
      assert(df.groupBy("lang").count().agg(sum("count")).head().getLong(0) == n)
    }
    assert(mor.currentSnapshot().get.files.groupBy(_.bucket).values.exists(_.size > 1),
      "the MoR fixture must be stacked")
    assert(dv.currentSnapshot().get.dvRows > 0, "the DV fixture must have live deletion vectors")
  }

  test("pre-upgrade snapshots without repo stats: no skipping, correct results") {
    val t = buildCow()
    // simulate a pre-upgrade snapshot: strip the repo stats
    val snap = t.currentSnapshot().get
    val stripped = snap.files.map(_.copy(minRepo = null, maxRepo = null))
    val repo = t.read().select("repo").head().getString(0)
    val scan = new GraftScan(t.root, snap.copy(files = stripped, manifests = Nil),
      org.apache.spark.sql.types.StructType.fromDDL("repo STRING, lsn BIGINT"),
      Array.empty, Long.MinValue, Long.MaxValue, false, Map.empty,
      planRepoEq = Some(Set(repo)), planPathEq = None)
    assert(scan.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition].files.size).sum == stripped.size,
      "files without repo stats must never be skipped")
  }
}
