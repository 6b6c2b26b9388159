package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** The deletion-vector merge joins the batch against the DSv2 scan of the
  * affected buckets: a storage-partitioned join on (b = `_bucket`, repo,
  * path) that shuffles only the batch, lists no files and broadcasts
  * nothing, planned on a session of its own. Pins the job and exchange
  * shape, the caller's session staying untouched, the `_file`/`_pos`
  * metadata columns both readers serve, and the merge's edge cases
  * against a copy-on-write replay.
  */
class DvMergeScanSpec extends SparkSpec {
  private lazy val sq = spark
  import sq.implicits._

  private val cols = Seq("repo", "path", "commit", "lang", "contentSha", "lsn")
  private def stateOf(t: LakeTable) = collectSorted(t.read().selectExpr(cols: _*))

  /** the same batches applied to a DV table and a CoW table */
  private def both(tag: String, buckets: Int): (LakeTable, LakeTable) =
    (new LakeTable(spark, tmpDir(s"${tag}dv"), buckets, ApplyMode.DeletionVector),
      new LakeTable(spark, tmpDir(s"${tag}cow"), buckets, ApplyMode.CopyOnWrite))

  /** every node of an executed plan, looking through adaptive plans,
    * query stages and cached relations
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => o.children.flatMap(nodes)
  })

  /** (max tasks of any stage, per job; executed plans) of what `body` runs */
  private def traced(body: => Unit): (Seq[Int], Seq[SparkPlan]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.numTasks).max)
    }
    val planLog = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
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
    (jobs.asScala.toSeq, plans.asScala.toSeq)
  }

  test("a 2,500-event DV merge: ≤ 6 jobs, no listing job, one batch-side Exchange, no broadcast") {
    val wal = ChangeLogGen.changeLog(spark,
      GenConfig(seed = 17, events = 8500, repos = 12, filesPerRepo = 80)).persist()
    try {
      val (dv, cow) = both("spjA", 8)
      val splits = (0 until 6).map(i => (i * 1000L + 1, (i + 1) * 1000L))
      splits.zipWithIndex.foreach { case ((lo, hi), i) =>
        dv.merge(wal.where(col("lsn").between(lo, hi)), "a", i.toLong)
        cow.merge(wal.where(col("lsn").between(lo, hi)), "a", i.toLong)
      }
      val snap = dv.currentSnapshot().get
      assert(snap.files.size > 32, s"fixture: more than 32 live files, got ${snap.files.size}")
      assert(snap.dvFiles.nonEmpty && snap.dvRows > 0, "fixture: live sidecars")
      val batch = wal.where(col("lsn").between(6001L, 8500L))
      val (jobs, plans) = traced(dv.merge(batch, "a", 6L))
      cow.merge(batch, "a", 6L)
      assert(jobs.size <= 6, s"a DV merge must run at most 6 jobs, ran ${jobs.size}: $jobs")
      assert(jobs.forall(_ < snap.files.size),
        s"no job may run one task per file (${snap.files.size} files): $jobs")
      val writes = plans.filter(p => nodes(p).exists(_.isInstanceOf[DataWritingCommandExec]))
      val dataWrite = writes.filter(p => nodes(p).exists(_.isInstanceOf[BatchScanExec]))
      assert(dataWrite.nonEmpty, s"the merge's write plans were not seen:\n${plans.mkString("\n")}")
      dataWrite.foreach { p =>
        val all = nodes(p)
        val shuffles = all.collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.size == 1, s"exactly one Exchange expected:\n$p")
        assert(!nodes(shuffles.head).exists(_.isInstanceOf[BatchScanExec]),
          s"the Exchange must move the batch, not the scan:\n$p")
        assert(!all.exists(_.isInstanceOf[BroadcastExchangeLike]), s"no broadcast expected:\n$p")
      }
      assert(stateOf(dv) == stateOf(cow))
    } finally wal.unpersist()
  }

  test("the merge plans on its own session: the caller's confs and concurrent plans are untouched") {
    val wal = ChangeLogGen.changeLog(spark,
      GenConfig(seed = 23, events = 6000, repos = 10, filesPerRepo = 60)).persist()
    try {
      val (dv, _) = both("spjB", 8)
      // the probe joins two tables the merge does not write
      val Seq(x, y) = Seq("spjBx", "spjBy").map(n => new LakeTable(spark, tmpDir(n), 8, ApplyMode.CopyOnWrite))
      Seq(dv, x, y).foreach(_.merge(wal.where(col("lsn") <= 3000), "b", 0L))
      val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.shuffle.enabled", "spark.sql.autoBroadcastJoinThreshold")
      val confsBefore = keys.map(spark.conf.getOption)
      // a co-bucketed join whose plan changes with any of the merge's
      // settings (SPJ drops its Exchanges, broadcast-off drops the broadcast)
      def probe(): String = {
        val a = spark.read.format("graft").load(x.root)
        val b = spark.read.format("graft").load(y.root)
        a.join(b, a("repo") === b("repo") && a("path") === b("path") && a("_bucket") === b("_bucket"))
          .select(a("repo"), b("contentSha")).queryExecution.executedPlan.toString
          .replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "")
      }
      val alone = probe()
      val during = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val prober = new Thread(() => while (running.get) during.add(probe()))
      prober.start()
      try dv.merge(wal.where(col("lsn") > 3000), "b", 1L)
      finally { running.set(false); prober.join() }
      assert(keys.map(spark.conf.getOption) == confsBefore, "the merge must not set the caller's confs")
      assert(during.size > 0)
      during.asScala.foreach(p => assert(p == alone, s"a concurrent plan changed:\n$p\nvs\n$alone"))
      assert(probe() == alone)
    } finally wal.unpersist()
  }

  test("_file and _pos are the row's relativised file path and row index, row and vectorized readers") {
    val wal = ChangeLogGen.changeLog(spark,
      GenConfig(seed = 29, events = 4000, repos = 8, filesPerRepo = 30)).persist()
    try {
      val t = new LakeTable(spark, tmpDir("spjC"), 4, ApplyMode.DeletionVector)
      t.merge(wal.where(col("lsn") <= 2000), "c", 0L)
      t.merge(wal.where(col("lsn") > 2000), "c", 1L)
      val snap = t.currentSnapshot().get
      assert(snap.dvRows > 0, "fixture: files with dead positions")
      val rel = (c: org.apache.spark.sql.Column) => regexp_replace(c, "^.*/data/", "data/")
      val dead = spark.read.parquet(snap.dvFiles.map(t.resolvePath): _*)
        .select(rel(col("file_path")).as("f"), col("row_index").as("r"))
      val expected = spark.read.parquet(snap.files.map(f => t.resolvePath(f.path)): _*)
        .select(col("repo"), col("path"), col("lsn"), col("commit"), col("deleted"),
          rel(col("_metadata.file_path")).as("f"), col("_metadata.row_index").as("r"))
        .where(!col("deleted")).drop("deleted")
        .join(dead, Seq("f", "r"), "left_anti")
        .select("repo", "path", "lsn", "commit", "f", "r")
      for (vectorized <- Seq(true, false)) {
        val df = spark.read.format("graft").option("vectorized", vectorized.toString).load(t.root)
          .select("repo", "path", "lsn", "commit", "_file", "_pos")
        assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow") == vectorized,
          s"vectorized=$vectorized must pick that reader:\n${df.queryExecution.executedPlan}")
        assert(collectSorted(df) == collectSorted(expected), s"vectorized=$vectorized")
        // the metadata columns on their own (no stored column read alongside)
        assert(collectSorted(spark.read.format("graft").option("vectorized", vectorized.toString)
          .load(t.root).select("_file", "_pos")) == collectSorted(expected.select("f", "r")))
      }
    } finally wal.unpersist()
  }

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def events(rows: (Long, String, String, String, String, String)*): DataFrame =
    rows.map { case (lsn, op, repo, path, commit, content) => (lsn, ts, op, repo, path, commit, content) }
      .toDF("lsn", "ts", "op", "repo", "path", "commit", "content")

  test("edge cases against a CoW replay: empty buckets, delete then reinsert, exact ties keep the stored row") {
    val (dv, cow) = both("spjD", 8)
    // keys of three distinct buckets; the first batch fills only one
    val keys = (0 until 200).map(i => ("r", s"f$i.scala"))
    val byBucket = keys.groupBy { case (r, p) => LakeTable.bucketOf(r, p, 8) }
    val Seq(b0, b1, b2) = byBucket.keys.toSeq.sorted.take(3)
    val Seq(k0, k1, k2) = Seq(b0, b1, b2).map(byBucket(_).head)
    def apply(id: Long, ev: DataFrame): Unit = { dv.merge(ev, "d", id); cow.merge(ev, "d", id) }
    apply(0, events((1, "I", k0._1, k0._2, "c1", "v1")))
    assert(dv.currentSnapshot().get.files.map(_.bucket).toSet == Set(b0))
    // touches the filled bucket and two buckets without files
    apply(1, events((2, "U", k0._1, k0._2, "c2", "v2"), (3, "I", k1._1, k1._2, "c3", "w1"),
      (4, "I", k2._1, k2._2, "c4", "x1")))
    assert(stateOf(dv) == stateOf(cow))
    // delete, then reinsert in a later batch
    apply(2, events((5, "D", k1._1, k1._2, "c5", null)))
    assert(dv.read().where(col("path") === k1._2).count() == 0)
    apply(3, events((6, "I", k1._1, k1._2, "c6", "w2")))
    assert(dv.read().where(col("path") === k1._2).select("content").as[String].collect().toSeq == Seq("w2"))
    assert(stateOf(dv) == stateOf(cow))
    // every key has exactly one live stored position, tombstones included
    val live = dv.readResolved().groupBy("repo", "path").count()
    assert(live.where(col("count") =!= 1).count() == 0)
    // an exact (lsn, commit) tie with the stored row: the stored row stays
    dv.merge(events((4, "U", k2._1, k2._2, "c4", "x-replayed")), "d", 4L)
    assert(dv.read().where(col("path") === k2._2).select("content").as[String].collect().toSeq == Seq("x1"))
    // and a stale version never replaces the stored one
    dv.merge(events((3, "U", k2._1, k2._2, "c9", "x-stale")), "d", 5L)
    assert(dv.read().where(col("path") === k2._2).select("content").as[String].collect().toSeq == Seq("x1"))
  }
}
