package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.GraftScan
import graft.table.{ApplyMode, LakeTable}

/** Key-evidence file skipping: point lookups on an un-compacted MergeOnRead
  * chain must read only the files that actually hold a version of the bound
  * key (bloom / dictionary-page membership witnesses), not the whole
  * bucket's delta chain — and never change results.
  *
  * The fixture is built so min/max KEY-RANGE stats cannot prune anything:
  * repo is constant and every commit's paths interleave across the whole
  * path space (commit i touches the paths ending in digit i), so each
  * file's [minPath, maxPath] covers every probe below. Only membership
  * evidence can skip a file here — exactly the delta-chain shape at fleet
  * scale, where small random batches span their bucket's key range.
  */
class KeyEvidenceSkipSpec extends SparkSpec {
  private lazy val sq = spark
  import sq.implicits._

  /** key space: ("main", f%03d.txt) for 0..199; commit i (0..9) updates the
    * keys with j % 10 == i; the HOT key f042.txt is also re-updated by
    * commit 7 — so it lives in exactly commits 2 and 7
    */
  private def buildChain(root: String): LakeTable = {
    val t = new LakeTable(spark, root, defaultBuckets = 2, ApplyMode.MergeOnRead)
    (0 until 10).foreach { i =>
      val keys = (0 until 200).filter(_ % 10 == i) ++ (if (i == 7) Seq(42) else Nil)
      val rows = keys.map(j => ("main", f"f$j%03d.txt", s"c$i", s"content-$i-$j", i * 1000L + j))
      t.merge(rows.toDF("repo", "path", "commit", "content", "lsn")
        .withColumn("op", lit("U")), "ev", i.toLong)
    }
    t
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftScan =
    df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftScan]

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    scanOf(df).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition].files.size).sum

  test("point lookup on an un-compacted MOR chain reads O(key's commits), not O(chain)") {
    val t = buildChain(tmpDir("kev"))
    val snap = t.currentSnapshot().get
    val hotBucket = LakeTable.bucketOf("main", "f042.txt", snap.nBuckets)
    val chainLen = snap.files.count(_.bucket == hotBucket)
    assert(chainLen >= 8, s"fixture must stack a delta chain, got $chainLen")
    // every commit interleaves paths across the space, so at least one of
    // each commit's (sorted, possibly sub-split) files RANGE-covers the
    // probe — ranges alone cannot get below ~1 file per commit
    def planned(on: Boolean): Int = {
      spark.conf.set("spark.graft.bloom.scan.enabled", on.toString)
      try plannedFiles(spark.read.format("graft").load(t.root)
        .where(col("repo") === "main" && col("path") === "f042.txt"))
      finally spark.conf.unset("spark.graft.bloom.scan.enabled")
    }
    val rangeOnly = planned(on = false)
    assert(rangeOnly >= 8, s"fixture broke: ranges alone pruned to $rangeOnly files")

    val df = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f042.txt")
    // evidence prunes the bucket's chain down to the two commits holding the
    // key (dictionary membership is exact at this scale — no false positives)
    val plannedOn = plannedFiles(df)
    assert(plannedOn == 2,
      s"expected 2 files (commits 2 and 7), planned $plannedOn of $chainLen (ranges alone: $rangeOnly)")
    assert(scanOf(df).description().contains("keySkipped="), scanOf(df).description())
    // and the winner is correct: commit 7's version
    val row = df.select("commit", "content", "lsn").collect()
    assert(row.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("c7", "content-7-42", 7042L)))
  }

  test("skipping never changes results: lookup equals the engine read path") {
    val t = buildChain(tmpDir("kevEq"))
    val lookup = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f123.txt")
      .select("repo", "path", "commit", "content", "lsn")
    val engine = t.read()
      .where(col("repo") === "main" && col("path") === "f123.txt")
      .select("repo", "path", "commit", "content", "lsn")
    assert(collectSorted(lookup) == collectSorted(engine))
    // absent key INSIDE every file's range: only evidence can prune it —
    // and it prunes everything (zero files, zero rows)
    val absent = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f0x0.txt")
    assert(plannedFiles(absent) == 0)
    assert(absent.count() == 0)
  }

  test("scan-side conf off: falls back to bucket+range pruning, identical rows") {
    val t = buildChain(tmpDir("kevOff"))
    val onPlanned = plannedFiles(spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f042.txt"))
    spark.conf.set("spark.graft.bloom.scan.enabled", "false")
    try {
      val df = spark.read.format("graft").load(t.root)
        .where(col("repo") === "main" && col("path") === "f042.txt")
      assert(plannedFiles(df) > onPlanned,
        s"conf off must plan MORE files than evidence-on ($onPlanned)")
      assert(df.select("commit").as[String].collect().toSeq == Seq("c7"))
    } finally spark.conf.unset("spark.graft.bloom.scan.enabled")
  }

  test("path-only equality prunes across buckets via path evidence alone") {
    val t = buildChain(tmpDir("kevPath"))
    val total = t.currentSnapshot().get.files.size
    // no repo bound -> no bucket pruning; path ranges cover everything;
    // the path dictionaries isolate the two commits holding the key
    val df = spark.read.format("graft").load(t.root).where(col("path") === "f042.txt")
    val planned = plannedFiles(df)
    assert(planned == 2, s"path evidence should isolate commits 2 and 7, planned $planned/$total")
    assert(df.select("commit").as[String].collect().toSeq == Seq("c7"))
  }

  test("bloom branch: non-dictionary chunks carry a probed bloom filter") {
    // force the bloom path (dictionary off) on a raw parquet file and probe
    // the evidence loader directly — whether an e2e fixture's chunk is
    // PLAIN (bloom) or dictionary-encoded depends on its values, so this
    // pins the bloom branch regardless
    val dir = tmpDir("kevBloom")
    (0 until 5000).map(i => (s"repo-$i", s"path-$i"))
      .toDF("repo", "path")
      .repartition(1)
      .write.mode("overwrite")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.bloom.filter.enabled#repo", "true")
      .option("parquet.bloom.filter.enabled#path", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .parquet(dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val ev = GraftScan.keyEvidenceFor(file.getAbsolutePath, spark.sessionState.newHadoopConf())
    val repoEv = ev("repo").head
    assert(repoEv.isInstanceOf[GraftScan.BloomEv], s"expected a bloom, got $repoEv")
    assert(GraftScan.evMayContain(repoEv, Set("repo-42")))
    assert(!GraftScan.evMayContain(repoEv, Set("repo-999999")))
    // a present value among absent ones still matches (exists semantics)
    assert(GraftScan.evMayContain(repoEv, Set("absent-1", "repo-7", "absent-2")))
  }

  test("content-address lookup on a resolved layout prunes via contentSha evidence") {
    // CoW: every bucket's files are key-disjoint and resolved — value
    // evidence applies to every file
    val t = new LakeTable(spark, tmpDir("kevSha"), defaultBuckets = 2, ApplyMode.CopyOnWrite)
    (0 until 5).foreach { i =>
      val rows = (0 until 40).map(j => ("main", f"f${i * 40 + j}%03d.txt", s"c$i", s"blob-$i-$j", i * 1000L + j))
      t.merge(rows.toDF("repo", "path", "commit", "content", "lsn")
        .withColumn("op", lit("U")), "sha", i.toLong)
    }
    val df = spark.read.format("graft").load(t.root)
    val target = df.where(col("path") === "f042.txt").select("contentSha")
      .collect().head.getString(0)
    val lookup = df.where(col("contentSha") === target)
    val total = t.currentSnapshot().get.files.size
    val planned = plannedFiles(lookup)
    assert(planned < total, s"sha evidence must prune: planned $planned/$total")
    assert(collectSorted(lookup.select("repo", "path", "content")) ==
      Seq(Seq("main", "f042.txt", "blob-1-2")))
  }

  test("sha evidence is NOT applied under a multi-file MOR chain (stale-winner trap)") {
    // the hot key's OLD version (commit 2) has a sha the LIVE winner
    // (commit 7) does not; if value evidence dropped commit 7's file, the
    // resolve would resurrect the old version and the residual sha filter
    // would PASS it — the correct answer is empty
    val t = buildChain(tmpDir("kevShaMor"))
    val oldSha = spark.read.format("graft").option("snapshot", 3).load(t.root)
      .where(col("repo") === "main" && col("path") === "f042.txt")
      .select("contentSha").collect().head.getString(0)
    val lookup = spark.read.format("graft").load(t.root)
      .where(col("contentSha") === oldSha)
    assert(lookup.count() == 0, "superseded version must not resurrect")
    // after compaction the layout is resolved: value evidence applies and
    // the absent digest prunes the whole scan
    t.compact()
    val folded = spark.read.format("graft").load(t.root)
      .where(col("contentSha") === oldSha)
    assert(plannedFiles(folded) == 0, "absent digest should plan zero files post-fold")
    assert(folded.count() == 0)
  }

  test("generalized value evidence: clusterBy compaction makes lang lookups prune files") {
    // any stored STRING column feeds the evidence gate; clustered
    // compaction (sort-by-value + bounded files) makes it selective —
    // the Delta OPTIMIZE ZORDER shape for equality lookups
    val t = new LakeTable(spark, tmpDir("kevClust"), defaultBuckets = 2, ApplyMode.CopyOnWrite)
    val exts = Seq("py", "rs", "go", "js")
    (0 until 4).foreach { i =>
      val rows = (0 until 80).map(j =>
        ("main", f"f${i * 80 + j}%03d.${exts(j % 4)}", s"c$i", s"body-$i-$j", i * 1000L + j))
      t.merge(rows.toDF("repo", "path", "commit", "content", "lsn")
        .withColumn("op", lit("U")), "cl", i.toLong)
    }
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try t.compact(clusterBy = Seq("lang")) finally
      spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val snap = t.currentSnapshot().get
    assert(snap.files.forall(!_.sorted), "clustered files are not key-sorted")
    assert(snap.files.size >= 8, "maxRecordsPerFile must split the sorted runs")
    val df = spark.read.format("graft").load(t.root).where(col("lang") === "go")
    val planned = plannedFiles(df)
    assert(planned < snap.files.size, s"lang evidence must prune: $planned/${snap.files.size}")
    assert(df.count() == 80 && df.where(col("lang") =!= "go").count() == 0)
    // evidence-off control: same rows, more files planned
    spark.conf.set("spark.graft.bloom.scan.enabled", "false")
    try {
      val off = spark.read.format("graft").load(t.root).where(col("lang") === "go")
      assert(plannedFiles(off) == snap.files.size, "without evidence nothing prunes")
      assert(off.count() == 80)
    } finally spark.conf.set("spark.graft.bloom.scan.enabled", "true")
  }

  test("mutable value column is NOT pruned under a MOR chain (stale-winner trap, generalized)") {
    // the hot key's `commit` column changes every version: pruning by the
    // OLD commit id on a chained layout would drop the winner file and
    // resurrect the old version (which passes the residual) — the gate's
    // resolved-layout rule forbids it; the correct answer is empty
    val t = buildChain(tmpDir("kevValMor"))
    val lookup = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f042.txt" && col("commit") === "c2")
    assert(lookup.count() == 0, "superseded version must not resurrect via value pruning")
    // post-fold the layout is resolved: the absent (key, old-commit) pair
    // prunes (commit evidence applies) and the answer stays empty
    t.compact()
    val folded = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f042.txt" && col("commit") === "c2")
    assert(folded.count() == 0)
    assert(plannedFiles(folded) <= 1)
  }

  test("evidence survives compaction and stays correct on the folded layout") {
    val t = buildChain(tmpDir("kevCompact"))
    t.compact()
    val df = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === "f042.txt")
    assert(df.select("commit").as[String].collect().toSeq == Seq("c7"))
    // post-fold: one resolved file per bucket; the lookup reads exactly the
    // key's bucket file (bucket pruning) — evidence cannot over-prune it
    assert(plannedFiles(df) == 1)
  }
}
