package graft

import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, Fs, LakeTable, SnapshotLog}

/** Multi-writer safety (optimistic concurrency): concurrent committers to
  * ONE table must never lose a commit — the snapshot chain stays dense,
  * every (cpId, batchId) lands exactly once, and the final state equals
  * the sequential replay. Exercises the create-exclusive snapshot commit,
  * the re-point path (MOR), the redo path (CoW bucket overlap), and a
  * compactor racing an ingester.
  */
class ConcurrentCommitSpec extends SparkSpec {

  val cfg = GenConfig(seed = 99, events = 4000, repos = 8, filesPerRepo = 10)
  val nb = 8 // batches across both writers
  val per: Long = cfg.events / nb

  private def replayOracle(): Seq[Seq[Any]] = {
    val t = new LakeTable(spark, tmpDir("occref"), 4, ApplyMode.CopyOnWrite)
    t.merge(ChangeLogGen.changeLog(spark, cfg), "ref", 0L)
    collectSorted(t.read().select("repo", "path", "commit", "lang", "contentSha", "lsn"))
  }

  private def state(root: String): Seq[Seq[Any]] =
    collectSorted(new LakeTable(spark, root)
      .read().select("repo", "path", "commit", "lang", "contentSha", "lsn"))

  /** run the bodies on parallel threads; rethrow the first failure */
  private def inParallel(bodies: (() => Unit)*): Unit = {
    @volatile var failure: Throwable = null
    val threads = bodies.map(b => new Thread(() =>
      try b() catch { case t: Throwable => failure = t }))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    if (failure != null) throw failure
  }

  private def writer(root: String, mode: ApplyMode.Value, cp: String,
                     batchIdxs: Seq[Int]): () => Unit = () => {
    val t = new LakeTable(spark, root, 4, mode)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    batchIdxs.zipWithIndex.foreach { case (b, i) =>
      t.merge(wal.where(col("lsn").between(b * per + 1, (b + 1) * per)), cp, i.toLong)
    }
  }

  test("atomicCreate is exclusive; atomicWrite overwrites") {
    val fs = new Fs(spark.sessionState.newHadoopConf())
    val p = s"${tmpDir("occfs")}/one.json"
    assert(fs.atomicCreate(p, "a"))
    assert(!fs.atomicCreate(p, "b"), "second create of the same path must lose")
    assert(fs.readString(p) == "a", "loser must not clobber the winner")
    fs.atomicWrite(p, "c")
    assert(fs.readString(p) == "c")
  }

  test("two concurrent MOR writers: dense chain, no lost commits") {
    val root = tmpDir("occmor")
    inParallel(
      writer(root, ApplyMode.MergeOnRead, "w1", Seq(0, 2, 4, 6)),
      writer(root, ApplyMode.MergeOnRead, "w2", Seq(1, 3, 5, 7)))
    val snap = new LakeTable(spark, root).currentSnapshot().get
    assert(snap.version == nb, s"every commit must land on the dense chain, got v${snap.version}")
    assert(snap.committedCount == nb)
    assert(snap.hwm == cfg.events)
    assert(state(root) == replayOracle())
  }

  test("two concurrent CDF writers: no lost or duplicated sidecar rows") {
    // with the feed on, MOR re-points are DENIED when the winner touched
    // our buckets (sidecar types derive from the base state) — the losing
    // writer redoes the merge. Whatever the interleave, the sidecars must
    // hold exactly one change row per stored winner: none lost to a race,
    // none duplicated by a redo. (Exact TYPES under out-of-order commits
    // have the documented immutable-sidecar semantics, so this pins the
    // row set; CdfSidecarSpec pins types on ordered histories.)
    val root = tmpDir("occcdf")
    val mk = () => new LakeTable(spark, root, 4, ApplyMode.MergeOnRead, defaultCdf = true)
    inParallel(
      () => { val t = mk(); val wal = ChangeLogGen.changeLog(spark, cfg)
        Seq(0, 2, 4, 6).zipWithIndex.foreach { case (b, i) =>
          t.merge(wal.where(col("lsn").between(b * per + 1, (b + 1) * per)), "w1", i.toLong) } },
      () => { val t = mk(); val wal = ChangeLogGen.changeLog(spark, cfg)
        Seq(1, 3, 5, 7).zipWithIndex.foreach { case (b, i) =>
          t.merge(wal.where(col("lsn").between(b * per + 1, (b + 1) * per)), "w2", i.toLong) } })
    val t = new LakeTable(spark, root)
    val snap = t.currentSnapshot().get
    assert(snap.committedCount == nb && snap.hwm == cfg.events)
    assert(state(root) == replayOracle())
    // sidecar rows == stored winners, exactly once each
    val sidecarRows = spark.read
      .parquet(snap.cdfFiles.map(f => t.resolvePath(f.path)): _*)
      .select("repo", "path", "lsn", "commit")
    assert(sidecarRows.count() == sidecarRows.distinct().count(), "no duplicated change rows")
    val storedAll = spark.read.parquet(snap.files.map(f => t.resolvePath(f.path)): _*)
      .select("repo", "path", "lsn", "commit")
    assert(collectSorted(sidecarRows) == collectSorted(storedAll),
      "every stored delta row has exactly one sidecar change row")
    // every row carries a valid type
    val types = spark.read.parquet(snap.cdfFiles.map(f => t.resolvePath(f.path)): _*)
      .select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("insert", "update_postimage", "delete")))
  }

  test("enableChangeDataFeed racing a merge: feed survives, no silent coverage gap") {
    // the r5-ADVICE race: a merge in flight while enableChangeDataFeed
    // lands concurrently used to pass the metadata-only re-point check and
    // commit cdfSinceLsn=-1/cdfFiles=Nil — silently disabling the feed and
    // dropping every registered sidecar. Pin the two invariants that must
    // hold under EVERY interleave: (1) the feed stays on; (2) coverage is
    // sound — every stored row above the final floor has exactly one
    // sidecar change row (a mid-race commit that wrote no sidecar must
    // have raised the floor past itself instead).
    (0 until 3).foreach { round =>
      val root = tmpDir(s"occenable$round")
      val wal = ChangeLogGen.changeLog(spark, cfg)
      val t0 = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
      t0.merge(wal.where(col("lsn") <= per), "seed", 0L) // table exists pre-race
      inParallel(
        () => { val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
          (1 until nb).foreach { b =>
            t.merge(wal.where(col("lsn").between(b * per + 1, (b + 1) * per)), "w", b.toLong) } },
        () => { Thread.sleep(50L * round); new LakeTable(spark, root).enableChangeDataFeed() })
      val t = new LakeTable(spark, root)
      val snap = t.currentSnapshot().get
      assert(snap.cdfSinceLsn >= 0, s"round $round: the race must never disable the feed")
      assert(snap.hwm == cfg.events)
      assert(state(root) == replayOracle())
      val covered = spark.read.parquet(snap.files.map(f => t.resolvePath(f.path)): _*)
        .where(col("lsn") > snap.cdfSinceLsn).select("repo", "path", "lsn", "commit")
      val sidecar =
        if (snap.cdfFiles.isEmpty) covered.limit(0)
        else spark.read.parquet(snap.cdfFiles.map(f => t.resolvePath(f.path)): _*)
          .where(col("lsn") > snap.cdfSinceLsn).select("repo", "path", "lsn", "commit")
      assert(collectSorted(sidecar) == collectSorted(covered),
        s"round $round: every stored row above the floor needs exactly one sidecar row")
    }
  }

  test("enableChangeDataFeed(full) racing a merge: preimage coverage never over-claims") {
    // the full-feed twin of the enable race above: a merge that derived a
    // POST-only sidecar while the head upgraded to full must raise the
    // preimage floor past its batch — above the final floor, every
    // update_postimage sidecar row has exactly one update_preimage partner
    // at the same (lsn, commit)
    (0 until 3).foreach { round =>
      val root = tmpDir(s"occfull$round")
      val wal = ChangeLogGen.changeLog(spark, cfg)
      val t0 = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead, defaultCdf = true)
      t0.merge(wal.where(col("lsn") <= per), "seed", 0L)
      inParallel(
        () => { val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
          (1 until nb).foreach { b =>
            t.merge(wal.where(col("lsn").between(b * per + 1, (b + 1) * per)), "w", b.toLong) } },
        () => { Thread.sleep(50L * round)
          new LakeTable(spark, root).enableChangeDataFeed(full = true) })
      val t = new LakeTable(spark, root)
      val snap = t.currentSnapshot().get
      assert(snap.cdfFullSinceLsn >= 0, s"round $round: the upgrade must land")
      assert(state(root) == replayOracle())
      val sc = spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl)
          .add("_change_type", org.apache.spark.sql.types.StringType))
        .parquet(snap.cdfFiles.map(f => t.resolvePath(f.path)): _*)
        .where(col("lsn") > snap.cdfFullSinceLsn)
      val posts = sc.where(col("_change_type") === "update_postimage")
        .select("repo", "path", "lsn", "commit")
      val pres = sc.where(col("_change_type") === "update_preimage")
        .select("repo", "path", "lsn", "commit")
      assert(collectSorted(pres) == collectSorted(posts),
        s"round $round: above the preimage floor, each update needs exactly one before-image")
    }
  }

  test("widenColumn racing concurrent merges: the wider type survives every interleave") {
    import org.apache.spark.sql.types.{LongType, StructType}
    (0 until 3).foreach { round =>
      val root = tmpDir(s"occwiden$round")
      val wal = ChangeLogGen.changeLog(spark, cfg)
      val t0 = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
      t0.merge(wal.where(col("lsn") <= per)
        .withColumn("score", (col("lsn") % 7).cast("int")), "seed", 0L)
      inParallel(
        () => { val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
          (1 until nb).foreach { b =>
            // narrow int batches keep racing the widening — unionSchema
            // must resolve every conflict to the wider committed type
            t.merge(wal.where(col("lsn").between(b * per + 1, (b + 1) * per))
              .withColumn("score", (col("lsn") % 7).cast("int")), "w", b.toLong) } },
        () => { Thread.sleep(30L * round)
          new LakeTable(spark, root).widenColumn("score", LongType) })
      val t = new LakeTable(spark, root)
      val snap = t.currentSnapshot().get
      assert(StructType.fromDDL(snap.schemaDdl)("score").dataType == LongType,
        s"round $round: a later narrow batch must not regress the widened type")
      assert(snap.hwm == cfg.events)
      // values exact through the mixed narrow/wide files (winner per key)
      val exp = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("repo", "path").orderBy(col("lsn").desc, col("commit").desc)
        wal.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .where(col("rn") === 1 && col("op") =!= "D")
          .agg(sum(col("lsn") % 7)).collect().head.getLong(0)
      }
      assert(t.read().agg(sum("score")).collect().head.getLong(0) == exp)
    }
  }

  test("overwrite with the feed on racing a merge: feed replay converges to the head") {
    // the replace diff reads the head's live keys, so a lost commit race
    // must RECOMPUTE it (stale diff = wrong deletions); conversely a merge
    // losing to a replace (all buckets touched) must redo, not re-point.
    // The interleave-independent invariant: replaying the change feed
    // (sidecar fast path of readChangedSince) converges to the table.
    (0 until 3).foreach { round =>
      val root = tmpDir(s"occrepl$round")
      val wal = ChangeLogGen.changeLog(spark, cfg)
      val t0 = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead, defaultCdf = true)
      t0.merge(wal.where(col("lsn") <= 4 * per), "seed", 0L)
      val keep = t0.read().select("repo", "path")
        .where(pmod(xxhash64(col("repo"), col("path")), lit(2L)) === 0L).collect()
        .map(r => (r.getString(0), r.getString(1)))
      inParallel(
        () => { val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead, defaultCdf = true)
          t.merge(wal.where(col("lsn").between(4 * per + 1, 5 * per)), "m2", 0L) },
        () => { Thread.sleep(30L * round)
          import spark.implicits._
          val keepDf = keep.toSeq.toDF("repo", "path")
          val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead, defaultCdf = true)
          t.overwrite(wal.where(col("op") =!= "D" && col("lsn") <= 4 * per)
            .join(keepDf, Seq("repo", "path"), "left_semi"), "repl", 0L) })
      val t = new LakeTable(spark, root)
      val snap = t.currentSnapshot().get
      assert(snap.cdfSinceLsn == 0L, s"round $round: coverage must survive the race")
      val replica = t.readChangedSince(1L) // covered → sidecar replay
      assert(collectSorted(replica.where(!col("deleted"))
          .select("repo", "path", "contentSha")) ==
        collectSorted(t.read().select("repo", "path", "contentSha")),
        s"round $round: feed replay must converge to the final table state")
    }
  }

  test("two concurrent CoW writers on overlapping buckets: redo path converges") {
    val root = tmpDir("occcow")
    inParallel(
      writer(root, ApplyMode.CopyOnWrite, "w1", Seq(0, 2, 4, 6)),
      writer(root, ApplyMode.CopyOnWrite, "w2", Seq(1, 3, 5, 7)))
    val snap = new LakeTable(spark, root).currentSnapshot().get
    assert(snap.committedCount == nb)
    assert(state(root) == replayOracle())
  }

  test("vacuumOrphans reclaims abandoned commit attempts, never live data") {
    val root = tmpDir("occvac")
    val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "v", 0L)
    t.merge(wal.where(col("lsn") > 2000), "v", 1L)
    val before = state(root)
    // a crashed attempt: data written, snapshot never committed
    val fs = t.fs
    fs.atomicWrite(s"$root/data/c99-deadbeef/b=0/part-orphan.parquet", "not-really-parquet")
    assert(t.vacuumOrphans(olderThanMs = 0L) == 1)
    assert(!fs.exists(s"$root/data/c99-deadbeef"), "orphan attempt must be reclaimed")
    assert(state(root) == before, "live data must survive the vacuum")
    assert(t.vacuumOrphans(olderThanMs = 0L) == 0)
  }

  test("vacuumOrphans reclaims manifests no snapshot references, keeps live ones") {
    val root = tmpDir("occvacman")
    val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn") <= 2000), "v", 0L)
    t.merge(wal.where(col("lsn") > 2000), "v", 1L)
    val before = state(root)
    val fs = t.fs
    // a crash between the manifest write and the snapshot create leaves the
    // manifest referenced by nothing — commitSnapshot only deletes it on a
    // cleanly-CAUGHT conflict
    fs.atomicWrite(s"$root/meta/man-99-deadbeef.json", """{"buckets":[]}""")
    val liveManifests = t.currentSnapshot().get.manifests.map(_._2).distinct
    assert(t.vacuumOrphans(olderThanMs = 0L) == 1)
    assert(!fs.exists(s"$root/meta/man-99-deadbeef.json"), "orphan manifest must be reclaimed")
    liveManifests.foreach(mp => assert(fs.exists(s"$root/$mp"), s"live manifest $mp must survive"))
    assert(state(root) == before, "table state must survive the manifest vacuum")
  }

  test("existingVersions probes downward from the head: O(existing), ascending") {
    val present = Set(7, 8, 9, 10)
    var probes = 0
    val vs = SnapshotLog.existingVersions(
      p => { probes += 1; "snap-(\\d+)".r.findFirstMatchIn(p).exists(m => present(m.group(1).toInt)) },
      "meta", 10)
    assert(vs == (7 to 10))
    // one probe per existing predecessor + the one failing probe below lo —
    // NEVER O(head): a version-50k table with 4 live snapshots pays 4 probes
    assert(probes == 4, s"expected 4 exists-probes, got $probes")
  }

  test("ledger entry names cannot collide across distinct raw cpIds") {
    import graft.table.Ledger
    assert(Ledger.safeName("a/b") != Ledger.safeName("a_b"))
    assert(Ledger.safeName("a/b") != Ledger.safeName("a\\b"))
    assert(Ledger.safeName("clean-id.0") == "clean-id.0") // readable + pre-upgrade stable
    assert(!Ledger.safeName("x y/z").exists(c => "/\\ ".contains(c)))
  }

  test("compactor racing an ingester loses cleanly and retries") {
    val root = tmpDir("occcompact")
    val compactor: () => Unit = () => {
      val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
      (0 until 3).foreach { _ => Thread.sleep(80); t.compact() }
    }
    inParallel(writer(root, ApplyMode.MergeOnRead, "w1", 0 until nb), compactor)
    val t = new LakeTable(spark, root)
    val snap = t.currentSnapshot().get
    assert(snap.committedCount == nb, "the compactor must never erase a merge")
    assert(snap.hwm == cfg.events)
    assert(state(root) == replayOracle())
  }

  test("merge racing addConstraint: a metadata conflict is never re-pointed") {
    // the round-7 advisor's hole: a MoR merge losing its commit race to a
    // concurrent addConstraint (metadata-only — the file checks pass) must
    // NOT re-point and commit rows that were never validated against the
    // new constraint; it redoes the merge so enforceConstraints runs under
    // the new metadata. Invariant (holds whether or not the race fires in
    // a given run): once the constraint exists, no violating live row is
    // ever observable.
    import spark.implicits._
    val root = tmpDir("occmeta")
    def batch(i: Int, content: String) =
      Seq((i.toLong + 1, "U", s"r${i % 4}", s"p$i.txt", f"c$i%03d", content))
        .toDF("lsn", "op", "repo", "path", "commit", "content")
    def tomb(i: Int) =
      Seq((i.toLong + 1001, "D", s"r${i % 4}", s"p$i.txt", f"d$i%03d",
        null.asInstanceOf[String])).toDF("lsn", "op", "repo", "path", "commit", "content")
    val t0 = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
    t0.merge(batch(0, "seed"), "seedcp", 0L)
    def chain(e: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = e
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    val writer: () => Unit = () => {
      val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
      (1 to 30).foreach { i =>
        val landed =
          try { t.merge(batch(i, "L" * 200), "wl", i.toLong); true }
          catch { case e: Exception if chain(e).contains("max_len") => false }
        if (landed) {
          // a violating batch that COMMITTED while the constraint exists is
          // exactly the re-point bug (a legitimate pre-constraint commit
          // can't coexist with the constraint: addConstraint validates
          // live rows, so it would have refused)
          if (t.currentSnapshot().get.constraints.contains("max_len")) {
            val live = t.read()
              .where(col("path") === s"p$i.txt" && length(col("content")) >= 100).count()
            assert(live == 0L,
              s"batch $i landed violating rows despite the max_len constraint (re-point hole)")
          }
          // cleanup so addConstraint's live-row validation can succeed
          t.merge(tomb(i), "wd", i.toLong)
        }
      }
    }
    val constrainer: () => Unit = () => {
      val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
      Thread.sleep(150)
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        try { t.addConstraint("max_len", "length(content) < 100"); done = true }
        catch { case _: Exception => Thread.sleep(15) }
      }
      assert(done, "addConstraint never won a quiet window")
    }
    inParallel(writer, constrainer)
    val t = new LakeTable(spark, root)
    assert(t.currentSnapshot().get.constraints.contains("max_len"))
    assert(t.read().where(length(col("content")) >= 100).count() == 0L,
      "no violating live rows may survive once the constraint exists")
  }

  test("restore racing merges under auto-retention: live files or loud refusal, never dangling") {
    // the round-7 judge's TOCTOU: restore(v) whose pre-loop existence check
    // passed, then a concurrent merge wins the race and its commit-time
    // auto-retention expires v's unique files — the retry must re-verify
    // and refuse instead of committing a head with dangling references.
    val root = tmpDir("occrestore")
    val t0 = new LakeTable(spark, root, 4, ApplyMode.CopyOnWrite)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    (0 until nb).foreach { i =>
      t0.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), "rst", i.toLong)
    }
    spark.conf.set("spark.graft.snapshots.retain", "3")
    try {
      val writer2: () => Unit = () => {
        val t = new LakeTable(spark, root, 4, ApplyMode.CopyOnWrite)
        (0 until nb).foreach { i =>
          t.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), "rst2", i.toLong)
        }
      }
      val restorer: () => Unit = () => {
        val t = new LakeTable(spark, root, 4, ApplyMode.CopyOnWrite)
        (0 until 6).foreach { _ =>
          val target = math.max(1, t.currentSnapshot().get.version - 3)
          try t.restore(target)
          catch { case _: Exception => () } // loud refusal is the correct race outcome
          Thread.sleep(40)
        }
      }
      inParallel(writer2, restorer)
    } finally spark.conf.unset("spark.graft.snapshots.retain")
    val t = new LakeTable(spark, root)
    val snap = t.currentSnapshot().get
    snap.files.foreach(f => assert(t.fs.exists(t.resolvePath(f.path)),
      s"head v${snap.version} references reclaimed file ${f.path}"))
    t.read().count() // and the head is actually readable
  }

  test("targeted compactor racing an ingester loses cleanly and retries") {
    // maybeCompact at threshold 1 folds the hot buckets after nearly every
    // merge — maximal interleave pressure on the bucket-scoped redo path
    val root = tmpDir("occtcompact")
    val compactor: () => Unit = () => {
      val t = new LakeTable(spark, root, 4, ApplyMode.MergeOnRead)
      (0 until 4).foreach { _ => Thread.sleep(60); t.maybeCompact(maxFilesPerBucket = 1) }
    }
    inParallel(writer(root, ApplyMode.MergeOnRead, "w1", 0 until nb), compactor)
    val t = new LakeTable(spark, root)
    val snap = t.currentSnapshot().get
    assert(snap.committedCount == nb, "a bucket fold must never erase a merge")
    assert(snap.hwm == cfg.events)
    assert(state(root) == replayOracle())
  }
}
