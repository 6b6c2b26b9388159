package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.gen.{ChangeLogGen, GenConfig}
import graft.queries.RelationalQueries
import graft.sources.GraftInputPartition
import graft.table.{ApplyMode, FileEntry, LakeTable}

/** Physical-plan audits (the ".explain and iterate" contract): filters
  * reach the parquet scan, projections prune columns, small dims broadcast,
  * top-k avoids a global sort, and the merge resolve stage has exactly ONE
  * Exchange. These pin the plan shapes that make the engine scale; a
  * regression here is a performance bug even if results stay correct.
  */
class PlanAuditSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_quantity") > 40).select("l_orderkey")
    val p = planOf(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"), p)
  }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val p = planOf(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("dim joins broadcast (no shuffle of the fact side for the join)") {
    val p = planOf(RelationalQueries.q3JoinAgg(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("top-k plans as TakeOrderedAndProject (no global sort materialisation)") {
    val p = planOf(RelationalQueries.q2TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("merge resolve stage contains exactly one Exchange") {
    val t = new LakeTable(spark, tmpDir("audit"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 9, events = 2000, repos = 8, filesPerRepo = 10))
    // reproduce the resolve plan shape the merge writes
    val b = pmod(xxhash64(col("repo"), col("path")), lit(8L)).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("b", "repo", "path").orderBy(col("lsn").desc, col("commit").desc)
    val resolved = wal.withColumn("b", b).repartition(8, col("b"))
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    val exchanges = "Exchange".r.findAllMatchIn(planOf(resolved)).size
    assert(exchanges == 1, planOf(resolved))
    // the SUB-SPLIT variant (bucket × key-salt shuffle, window partitioned
    // by (b, repo, path, salt) — salt LAST so file rows come out
    // (repo,path)-sorted, the MOR sorted-merge format) must also plan
    // exactly one Exchange: HashPartitioning(b, salt) satisfies the
    // window's clustering regardless of the key order
    val salt = pmod(xxhash64(col("repo"), col("path")), lit(4L)).cast("int")
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("b", "repo", "path", "__salt").orderBy(col("lsn").desc, col("commit").desc)
    val split = wal.withColumn("b", b).withColumn("__salt", salt)
      .repartition(32, col("b"), col("__salt"))
      .withColumn("__rn", row_number().over(ws)).where(col("__rn") === 1).drop("__rn", "__salt")
    assert("Exchange".r.findAllMatchIn(planOf(split)).size == 1, planOf(split))
    // and the real merge still works on top of that shape
    assert(t.merge(wal, "a", 0L).nonEmpty)
  }

  /** a physical plan's nodes, through adaptive plans and query stages */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o.children.flatMap(nodes)
  })

  /** Run `body` (one merge) and return the task count of every stage that
    * wrote output, the new snapshot's files, and the Exchanges in the
    * executed write plan.
    */
  private def auditWrite(t: LakeTable)(body: => Unit): (Seq[Int], Seq[FileEntry], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    val tl = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val out = Option(e.taskMetrics).map(_.outputMetrics.recordsWritten).getOrElse(0L)
        tasks.merge(e.stageId, (1, out), (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec])) writes.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val before = t.currentSnapshot().map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    spark.sparkContext.addSparkListener(tl)
    spark.listenerManager.register(ql)
    try body finally {
      org.apache.spark.sql.graft.Internals.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tl)
      spark.listenerManager.unregister(ql)
    }
    import scala.jdk.CollectionConverters._
    val stages = tasks.asScala.values.collect { case (n, out) if out > 0 => n }.toSeq
    assert(writes.size == 1, s"one write per merge, got ${writes.size}")
    val exchanges = nodes(writes.peek()).count(_.isInstanceOf[ShuffleExchangeLike])
    (stages, t.currentSnapshot().get.files.filterNot(f => before(f.path)), exchanges)
  }

  /** every file's (repo, path) in file order are strictly increasing */
  private def keyOrdered(t: LakeTable, f: FileEntry): Boolean = {
    val keys = spark.read.parquet(s"${t.root}/${f.path}").select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    keys.nonEmpty && keys.zip(keys.drop(1)).forall { case (a, b) => Ordering[(String, String)].lt(a, b) }
  }

  /** the write task (the number in the file's `part-NNNNN` name) per new file */
  private def writeTask(f: FileEntry): String = f.path.split('/').last.split('-')(1)

  private def checkOneWave(t: LakeTable, wal: DataFrame, buckets: Int, perTask: Int): Unit = {
    t.merge(wal.where(col("lsn") <= 2000), "wave", 0L)
    val batch = wal.where(col("lsn") > 2000 && col("lsn") <= 3000)
    val affected = batch.select(pmod(xxhash64(col("repo"), col("path")), lit(buckets.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(affected.size == buckets, s"fixture defect: the batch must touch all $buckets buckets")
    val (stages, files, exchanges) = auditWrite(t)(t.merge(batch, "wave", 1L))
    assert(stages.size == 1 && stages.head <= 4, s"write stage tasks: $stages")
    assert(exchanges == 1, "the write plan shuffles once")
    assert(files.map(_.bucket).sorted == affected.toSeq.sorted, "exactly one new file per affected bucket")
    assert(files.forall(_.sorted) && files.forall(keyOrdered(t, _)), "every new file is key-ordered")
    assert(files.groupBy(writeTask).values.map(_.size).toSeq == Seq.fill(4)(perTask),
      s"files per write task: ${files.groupBy(writeTask).view.mapValues(_.size).toMap}")
  }

  test("the MoR resolve writes in one wave: 8 buckets on local[4] = 4 tasks of 2 files") {
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 41, events = 3000, repos = 8, filesPerRepo = 40))
    checkOneWave(new LakeTable(spark, tmpDir("wave8"), defaultBuckets = 8, ApplyMode.MergeOnRead), wal, 8, 2)
  }

  test("the MoR resolve writes in one wave: 32 buckets on local[4] = 4 tasks of 8 files") {
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 42, events = 3000, repos = 8, filesPerRepo = 80))
    checkOneWave(new LakeTable(spark, tmpDir("wave32"), defaultBuckets = 32, ApplyMode.MergeOnRead), wal, 32, 8)
  }

  test("the CoW resolve writes in one wave: 8 buckets on local[4] = 4 tasks of 2 files") {
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 43, events = 3000, repos = 8, filesPerRepo = 40))
    checkOneWave(new LakeTable(spark, tmpDir("wavecow"), defaultBuckets = 8, ApplyMode.CopyOnWrite), wal, 8, 2)
  }

  test("a second merge compiles no new class (pre-pass codegen)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 13, events = 3000, repos = 6, filesPerRepo = 20))
    // each batch is read back from parquet, so both merges plan the same
    // code over different data (over a local relation the optimizer would
    // fold the pre-pass projection away and compile nothing at all); an
    // odd bucket count keeps the classes apart from other suites' merges
    val dir = tmpDir("codegen-wal")
    wal.where(col("lsn") <= 1500).write.parquet(s"$dir/b0")
    wal.where(col("lsn") > 1500).write.parquet(s"$dir/b1")
    val t = new LakeTable(spark, tmpDir("codegen"), defaultBuckets = 7, ApplyMode.MergeOnRead)
    def compiled(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiled(t.merge(spark.read.parquet(s"$dir/b0"), "cg", 0L))
    assert(first > 0, "the first merge compiles its plans")
    val second = compiled(t.merge(spark.read.parquet(s"$dir/b1"), "cg", 1L))
    assert(second == 0, s"the second merge compiled $second new classes")
    assert(t.currentSnapshot().get.hwm == 3000L)
  }

  test("q52 substring dedup: hash joins only, no cartesian, no UDF") {
    val p = planOf(graft.queries.TextQueries.q52SubstringDedup(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "gram dedup must stay equi-join shaped:\n" + p)
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"), p)
    // grams travel as 8-byte hashes — never the raw 64-char windows
    assert(p.contains("xxhash64"), p)
  }

  test("MV fold state join scans ONLY the delta buckets' files") {
    import graft.stream.IncrementalAgg
    // per-key MV over many buckets; the delta touches few keys, so the
    // fold's state join must open only those keys' buckets — the scale
    // property that keeps per-trigger IO O(MV ∩ touched), never O(MV)
    val t = new LakeTable(spark, tmpDir("mvprune"), defaultBuckets = 4,
      ApplyMode.MergeOnRead, defaultCdfFull = true)
    val wal = ChangeLogGen.changeLog(spark,
      GenConfig(seed = 21, events = 2000, repos = 8, filesPerRepo = 10))
    t.merge(wal.where(col("lsn") <= 1900), "pa", 0L)
    t.merge(wal.where(col("lsn") > 1900), "pa", 1L)
    val agg = IncrementalAgg.multi(spark, tmpDir("mvprune-mv"),
      concat_ws("/", col("repo"), col("path")),
      Seq("total" -> length(col("content"))), buckets = 64)
    agg.applyChanges(t.readChangesBetween(0L, 1900L), "pa-mv", 1900L)
    val delta = t.readChangesBetween(1900L)
    val bs = agg.deltaBuckets(delta, agg.mv.nBuckets)
    assert(bs.size < 64, s"fixture defect: delta must touch a strict subset, got ${bs.size}")
    val events = agg.eventsFor(delta)
    events.collect()
    // every MV file the plan reads belongs to a touched bucket: the state
    // read is the DSv2 scan, so audit its planned partitions
    val snap = agg.mv.currentSnapshot().get
    def rel(p: String) = p.substring(p.lastIndexOf("/data/") + 1)
    val allowed = snap.files.filter(f => bs(f.bucket)).map(_.path).toSet
    val scanned = nodes(events.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.inputPartitions }.flatten
      .collect { case p: GraftInputPartition => p.files }.flatten
      .filter(_.contains(agg.mv.root)).map(rel).toSet
    assert(scanned.nonEmpty, "the state join must read SOME MV state")
    assert(scanned.subsetOf(allowed),
      s"state join read outside the delta buckets: ${scanned.diff(allowed)}")
    // and far fewer files than the full MV holds
    assert(scanned.size < snap.files.size,
      s"no pruning: read ${scanned.size} of ${snap.files.size} MV files")
  }

  test("clean-stage categorisation stays in whole-stage codegen (no UDF)") {
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 9, events = 100, repos = 3, filesPerRepo = 5))
    val df = wal.select(graft.model.LangRules.langFor(col("path")).as("lang"))
    val p = planOf(df)
    assert(p.linesIterator.next().trim.startsWith("*("), p) // inside codegen
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }
}
