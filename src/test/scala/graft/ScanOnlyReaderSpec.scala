package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.gen.{ChangeLogGen, GenConfig}
import graft.stream.IncrementalAgg
import graft.table.{ApplyMode, LakeTable, Snapshot}

/** The scan is the only reader of a snapshot's data files: every
  * operation reads them through `LakeTable.scanAt` (the DSv2 scan), never
  * through spark's parquet file source. Pinned the way ParquetOpenSpec
  * pins `openParquet`: a QueryExecutionListener collects the executed
  * plans of each operation, and the case fails on any
  * `FileSourceScanExec` over a file the operation's base snapshot lists.
  * Reads of an operation's own attempt directory and of change or DV
  * sidecars are not base data files and stay allowed.
  */
class ScanOnlyReaderSpec extends SparkSpec {

  private val wal = GenConfig(seed = 29, events = 3000, repos = 12, filesPerRepo = 80)

  /** every node of an executed plan, looking through adaptive plans,
    * query stages and cached relations
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes)
  })

  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def filesOf(t: LakeTable, s: Snapshot): Set[String] =
    s.files.map(f => norm(t.resolvePath(f.path))).toSet

  private def headFiles(t: LakeTable): Set[String] = filesOf(t, t.currentSnapshot().get)

  /** the files of `base` that `body` reads through a file-source scan */
  private def fileScans(base: Set[String])(body: => Unit): Seq[String] = {
    assert(base.nonEmpty, "fixture: the base snapshot must list files")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.Internals.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.sql.graft.Internals.drainListenerBus(sc)
      spark.listenerManager.unregister(listener)
    }
    assert(!plans.isEmpty, "the operation's plans were not seen")
    plans.asScala.toSeq.flatMap(nodes).collect { case f: FileSourceScanExec =>
      f.relation.location.inputFiles.toSeq.map(norm).filter(base)
    }.flatten
  }

  test("CoW merge over > 32 files: scan only, no listing job") {
    val w = ChangeLogGen.changeLog(spark, wal).persist()
    try {
      val t = new LakeTable(spark, tmpDir("socow"), defaultBuckets = 48, ApplyMode.CopyOnWrite)
      t.merge(w.where(col("lsn") <= 2000), "c", 0L)
      val s = t.currentSnapshot().get
      val batch = w.where(col("lsn") > 2000)
      val affected = batch.select("repo", "path").collect()
        .map(r => LakeTable.bucketOf(r.getString(0), r.getString(1), s.nBuckets)).toSet
      val read = s.files.count(f => affected(f.bucket))
      assert(read > 32, s"fixture: the merge must read more than 32 files, reads $read")
      val listings = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
      assert(fileScans(filesOf(t, s))(t.merge(batch, "c", 1L)).isEmpty)
      assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount == listings,
        "the merge started a file-listing job")
      // and the merge applied: the same state as a one-batch replay
      val one = new LakeTable(spark, tmpDir("socow1"), defaultBuckets = 48, ApplyMode.CopyOnWrite)
      one.merge(w, "c", 0L)
      val cols = Seq("repo", "path", "commit", "lsn")
      assert(collectSorted(t.read().selectExpr(cols: _*)) == collectSorted(one.read().selectExpr(cols: _*)))
    } finally w.unpersist()
  }

  test("MoR full-feed merge, compact, rebucket, restore: scan only") {
    val w = ChangeLogGen.changeLog(spark, wal).persist()
    try {
      val t = new LakeTable(spark, tmpDir("somor"), defaultBuckets = 4, ApplyMode.MergeOnRead,
        defaultCdfFull = true)
      t.merge(w.where(col("lsn") <= 1000), "m", 0L)
      val v1 = t.currentSnapshot().get.version
      t.merge(w.where(col("lsn").between(1001L, 2000L)), "m", 1L)
      assert(fileScans(headFiles(t))(t.merge(w.where(col("lsn") > 2000), "m", 2L)).isEmpty, "merge")
      val live = collectSorted(t.read())
      assert(fileScans(headFiles(t))(t.compact()).isEmpty, "compact()")
      assert(fileScans(headFiles(t))(t.rebucket(6)).isEmpty, "rebucket")
      assert(collectSorted(t.read()) == live)
      val base = headFiles(t) ++ filesOf(t, t.log.at(v1))
      val sidecars = t.currentSnapshot().get.cdfFiles.size
      assert(fileScans(base)(t.restore(v1)).isEmpty, "restore")
      assert(t.currentSnapshot().get.cdfFiles.size > sidecars, "the restore wrote its replace sidecar")
    } finally w.unpersist()
  }

  test("readChangedSince's file path and an MV fold: scan only") {
    val w = ChangeLogGen.changeLog(spark, wal).persist()
    try {
      val t = new LakeTable(spark, tmpDir("sodv"), defaultBuckets = 4, ApplyMode.DeletionVector)
      (0 until 3).foreach(i => t.merge(w.where(col("lsn").between(i * 1000L + 1, (i + 1) * 1000L)), "d", i.toLong))
      assert(t.filesForChangedSince(1500L)._1 == "files")
      assert(fileScans(headFiles(t))(t.readChangedSince(1500L).collect()).isEmpty, "readChangedSince")

      val up = new LakeTable(spark, tmpDir("somvup"), defaultBuckets = 4, ApplyMode.MergeOnRead,
        defaultCdfFull = true)
      val agg = IncrementalAgg(spark, tmpDir("somv"), col("lang"), length(col("content")))
      up.merge(w.where(col("lsn") <= 1500), "u", 0L)
      agg.applyOnce(up, "somv")
      up.merge(w.where(col("lsn") > 1500), "u", 1L)
      assert(fileScans(headFiles(up) ++ headFiles(agg.mv))(agg.applyOnce(up, "somv")).isEmpty, "MV fold")
      assert(agg.mv.currentSnapshot().get.hwm == up.currentSnapshot().get.hwm, "the fold applied")
    } finally w.unpersist()
  }
}
