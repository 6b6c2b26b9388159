package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** `compactBuckets` folds through the DSv2 scan: the scan resolves each
  * bucket inside its readers, so a fold is one job with one task per
  * bucket and no shuffle, breaks exact ties the way reads do, and keeps a
  * clustered table's value order.
  */
class FoldScanSpec extends SparkSpec {
  private lazy val sq = spark
  import sq.implicits._

  private def stateOf(t: LakeTable) =
    collectSorted(t.read().select("repo", "path", "commit", "contentSha"))

  /** (jobs, tasks, executed plans) of what `body` runs */
  private def traced(body: => Unit): (Int, Int, Seq[String]) = {
    val jobs = new AtomicInteger()
    val tasks = new AtomicInteger()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    val planLog = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.Internals.drainListenerBus(sc)
    sc.addSparkListener(counter)
    spark.listenerManager.register(planLog)
    try body
    finally {
      org.apache.spark.sql.graft.Internals.drainListenerBus(sc)
      sc.removeSparkListener(counter)
      spark.listenerManager.unregister(planLog)
    }
    (jobs.get, tasks.get, plans.asScala.toSeq)
  }

  test("a fold of 8 stacked buckets is one job, one task per bucket, no Exchange") {
    val t = new LakeTable(spark, tmpDir("fold8"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark,
      GenConfig(seed = 91, events = 17000, repos = 20, filesPerRepo = 300)).persist()
    try {
      (0 until 17).foreach(i =>
        t.merge(wal.where(col("lsn").between(i * 1000 + 1, (i + 1) * 1000)), "f8", i.toLong))
      val snap0 = t.currentSnapshot().get
      assert(snap0.files.groupBy(_.bucket).size == 8 &&
        snap0.files.groupBy(_.bucket).values.forall(_.size == 17),
        s"fixture: 17 commits in each of 8 buckets, got ${snap0.files.groupBy(_.bucket).view.mapValues(_.size).toMap}")
      val before = stateOf(t)
      var folded = 0
      val (jobs, tasks, plans) = traced { folded = t.compactBuckets((0 until 8).toSet) }
      assert(folded == 8)
      assert(jobs == 1, s"a fold must run one job, ran $jobs")
      assert(tasks <= 8, s"a fold must run one task per bucket, ran $tasks")
      assert(plans.exists(_.contains("BatchScan")), s"the fold's write plan was not seen: $plans")
      assert(!plans.exists(_.contains("Exchange")), s"a fold must not shuffle:\n${plans.mkString("\n")}")
      val snap1 = t.currentSnapshot().get
      assert(snap1.files.groupBy(_.bucket).values.forall(fs => fs.size == 1 && fs.head.sorted))
      assert(snap1.totalRows == snap1.files.map(_.rows).sum)
      assert(stateOf(t) == before, "a fold must not change the table")
    } finally wal.unpersist()
  }

  test("an exact (lsn, commit) tie folds to the later file's row, the row read() serves") {
    val t = new LakeTable(spark, tmpDir("foldtie"), defaultBuckets = 2, ApplyMode.MergeOnRead)
    val keys = (0 until 40).map(i => f"tie$i%02d.py")
    // two batches carry the same (lsn, commit) for every key, with different payloads
    def batch(tag: String) = keys.zipWithIndex
      .map { case (p, i) => (100L + i, "U", "r1", p, "c" * 40, s"$tag-$p") }
      .toDF("lsn", "op", "repo", "path", "commit", "content")
    // the earlier file is the larger one, so a file listing sorted by size
    // reads it first
    t.merge(batch("superseded"), "tie", 0L)
    t.merge(batch("kept"), "tie", 1L)
    def contents = t.read().select("path", "content").as[(String, String)].collect().toMap
    assert(contents == keys.map(p => p -> s"kept-$p").toMap, "reads serve the later file's row")
    assert(t.compactBuckets(Set(0, 1)) == 2)
    assert(contents == keys.map(p => p -> s"kept-$p").toMap,
      "the fold must keep the row reads served before it")
  }

  test("a clustered MoR base with deltas reads the same after maybeCompact and keeps its order") {
    val t = new LakeTable(spark, tmpDir("foldclus"), defaultBuckets = 2, ApplyMode.MergeOnRead)
    val exts = Seq("py", "rs", "go", "js")
    def batch(i: Int, n: Int) = (0 until n).map(j =>
      ("main", f"f${(i * 37 + j * 11) % 240}%03d.${exts((i + j) % 4)}", s"c$i", s"body-$i-$j", i * 1000L + j))
      .toDF("repo", "path", "commit", "content", "lsn").withColumn("op", lit("U"))
    (0 until 3).foreach(i => t.merge(batch(i, 80), "base", i.toLong))
    t.setClustering(Seq("lang"))
    t.compact()
    assert(t.currentSnapshot().get.files.forall(!_.sorted), "fixture: a clustered base")
    // deltas over the clustered base: every bucket holds an unsorted file,
    // so the fold resolves in the scan's hash-map reader
    (3 until 7).foreach(i => t.merge(batch(i, 30), "delta", i.toLong))
    val before = stateOf(t)
    assert(t.maybeCompact(maxFilesPerBucket = 2), "the auto-fold must trigger")
    val snap = t.currentSnapshot().get
    assert(snap.clusterBy == Seq("lang"))
    assert(snap.files.forall(!_.sorted), "a clustered fold must not be marked key-sorted")
    assert(stateOf(t) == before, "the fold must not change the table")
    snap.files.foreach { f =>
      val langs = spark.read.parquet(t.resolvePath(f.path))
        .select(col("lang"), col("_metadata.row_index").as("i"))
        .as[(String, Long)].collect().sortBy(_._2).map(_._1).toSeq
      assert(langs == langs.sorted, s"${f.path} lost the clusterBy order: $langs")
    }
  }

  test("a DV fold past dvMaxFraction is one job, one task per bucket, no Exchange, and drops every sidecar") {
    val t = new LakeTable(spark, tmpDir("folddv"), defaultBuckets = 8, ApplyMode.DeletionVector)
    val wal = ChangeLogGen.changeLog(spark,
      GenConfig(seed = 95, events = 6000, repos = 10, filesPerRepo = 40)).persist()
    try {
      (0 until 3).foreach(i =>
        t.merge(wal.where(col("lsn").between(i * 2000 + 1, (i + 1) * 2000)), "fdv", i.toLong))
      val snap0 = t.currentSnapshot().get
      assert(snap0.dvRows > 0 && snap0.dvFiles.nonEmpty, "fixture: live sidecars")
      assert(snap0.files.map(_.bucket).toSet.size == 8, "fixture: files in every bucket")
      val before = stateOf(t)
      val tombstones = collectSorted(t.readResolved().where(col("deleted")).select("repo", "path", "lsn"))
      var ran = false
      val frac = snap0.dvRows.toDouble / snap0.totalRows
      val (jobs, tasks, plans) = traced { ran = t.maybeCompact(dvMaxFraction = frac / 2) }
      assert(ran, "the dv fraction is past the threshold")
      assert(jobs == 1, s"a DV fold must run one job, ran $jobs")
      assert(tasks <= 8, s"a DV fold must run one task per bucket, ran $tasks")
      assert(plans.exists(_.contains("BatchScan")), s"the fold's write plan was not seen: $plans")
      assert(!plans.exists(_.contains("Exchange")), s"a DV fold must not shuffle:\n${plans.mkString("\n")}")
      val snap1 = t.currentSnapshot().get
      assert(snap1.dvFiles.isEmpty && snap1.dvRows == 0)
      assert(snap1.files.groupBy(_.bucket).values.forall(fs => fs.size == 1 && fs.head.sorted))
      assert(snap1.totalRows == snap1.files.map(_.rows).sum)
      assert(stateOf(t) == before, "a fold must not change the table")
      assert(collectSorted(t.readResolved().where(col("deleted")).select("repo", "path", "lsn")) == tombstones,
        "a fold keeps the tombstone winners")
    } finally wal.unpersist()
  }
}
