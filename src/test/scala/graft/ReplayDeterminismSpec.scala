package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** Suite 1 (SURVEY.md §5.2): replay-determinism. The engine applied in K
  * micro-batches, in 1 batch, and in COW vs MOR mode must all equal the
  * sequential oracle fold, row-for-row on (repo, path, commit, lang,
  * sha256(content)) — the BASELINE.json per-row invariant.
  */
class ReplayDeterminismSpec extends SparkSpec {

  val cfg = GenConfig(seed = 42, events = 10000, repos = 20, filesPerRepo = 25)
  lazy val wal: DataFrame = ChangeLogGen.changeLog(spark, cfg).persist()

  def oracleEvents(): Seq[OracleApplier.Ev] =
    wal.collect().toSeq.map(r => OracleApplier.Ev(
      r.getAs[Long]("lsn"), r.getAs[String]("op"), r.getAs[String]("repo"),
      r.getAs[String]("path"), r.getAs[String]("commit"), r.getAs[String]("content")))

  def snapshotRows(t: LakeTable): Seq[(String, String, String, String, String)] =
    t.read().select("repo", "path", "commit", "lang", "contentSha")
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .sorted

  def applyInBatches(t: LakeTable, k: Int): Unit = {
    val per = math.ceil(cfg.events.toDouble / k).toLong
    (0 until k).foreach { i =>
      val lo = i * per + 1; val hi = (i + 1) * per
      t.merge(wal.where(col("lsn").between(lo, hi)), "test", i.toLong)
    }
  }

  test("generator is deterministic across runs and partitionings") {
    val a = ChangeLogGen.changeLog(spark, cfg).orderBy("lsn").collect().map(_.toSeq.toList).toList
    val b = ChangeLogGen.changeLog(spark, cfg).repartition(13).orderBy("lsn").collect().map(_.toSeq.toList).toList
    assert(a == b)
  }

  test("K-batch apply == oracle replay (CopyOnWrite)") {
    val t = new LakeTable(spark, tmpDir("cow"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    applyInBatches(t, 7)
    assert(snapshotRows(t) == OracleApplier.liveRows(oracleEvents()))
  }

  test("1-batch apply == K-batch apply == oracle (MergeOnRead + compaction)") {
    val one = new LakeTable(spark, tmpDir("mor1"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    one.merge(wal, "test", 0L)
    val many = new LakeTable(spark, tmpDir("morK"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    (0 until 5).foreach { i =>
      val per = 2000L
      many.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), "test", i.toLong)
    }
    val oracle = OracleApplier.liveRows(oracleEvents())
    assert(snapshotRows(one) == oracle)
    assert(snapshotRows(many) == oracle)
    many.compact()
    assert(snapshotRows(many) == oracle, "compaction must preserve state")
    val snap = many.currentSnapshot().get
    assert(snap.files.groupBy(_.bucket).forall(_._2.map(f => f.path.split("data/").last.split("/")(0)).distinct.size == 1),
      "after compaction each bucket's files come from one commit")
  }

  test("batch-order permutation converges to the same state (max-LSN guard)") {
    // apply the second half BEFORE the first half: lower-LSN events must
    // not overwrite or resurrect higher-LSN state.
    val t = new LakeTable(spark, tmpDir("perm"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    t.merge(wal.where(col("lsn") > 5000), "test", 0L)
    t.merge(wal.where(col("lsn") <= 5000), "test", 1L)
    assert(snapshotRows(t) == OracleApplier.liveRows(oracleEvents()))
  }

  test("exactly-once: replaying a committed batchId is a no-op") {
    val t = new LakeTable(spark, tmpDir("eo"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    t.merge(wal.where(col("lsn") <= 5000), "test", 0L)
    val v1 = t.currentSnapshot().get.version
    val stats = t.merge(wal.where(col("lsn") <= 5000), "test", 0L) // replay
    assert(stats.isEmpty)
    assert(t.currentSnapshot().get.version == v1)
    t.merge(wal.where(col("lsn") > 5000), "test", 1L)
    assert(snapshotRows(t) == OracleApplier.liveRows(oracleEvents()))
  }

  test("skew: hot repo carrying ~50% of events converges identically") {
    val hot = GenConfig(seed = 7, events = 8000, repos = 10, filesPerRepo = 10, hotShare = 0.5)
    val w = ChangeLogGen.changeLog(spark, hot).persist()
    try {
      val counts = w.groupBy("repo").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.values.max > hot.events * 0.4, "skew profile present")
      val t = new LakeTable(spark, tmpDir("skew"), defaultBuckets = 8)
      (0 until 4).foreach(i => t.merge(w.where(pmod(col("lsn"), lit(4)) === i), "test", i.toLong))
      val evs = w.collect().toSeq.map(r => OracleApplier.Ev(
        r.getAs[Long]("lsn"), r.getAs[String]("op"), r.getAs[String]("repo"),
        r.getAs[String]("path"), r.getAs[String]("commit"), r.getAs[String]("content")))
      assert(snapshotRows(t) == OracleApplier.liveRows(evs))
    } finally w.unpersist()
  }
}
