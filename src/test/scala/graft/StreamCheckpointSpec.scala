package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.gen.{ChangeLogGen, GenConfig}
import graft.model.Schemas
import graft.stream.{IncrementalAgg, IngestStream}
import graft.table.{ApplyMode, CommitState, LakeTable}

/** The engine's foreachBatch tails (`IngestStream`, `IncrementalAgg.stream`)
  * run on a clone of the caller's session that writes the checkpoint logs
  * through Spark's FileSystem-based manager. The log format is Spark's own,
  * so a checkpoint written by a plain query under the default manager
  * resumes under the tail exactly once; the caller's session keeps its
  * settings, and the tail's query is visible only through its handle.
  */
class StreamCheckpointSpec extends SparkSpec {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def hadoopConf(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** segments 0..n-1 of a freshly written WAL moved into `live`, in order
    * and with their delivery-order mtimes
    */
  private def deliver(from: String, live: String, segments: Range): Unit = {
    Files.createDirectories(Paths.get(live))
    val parts = Files.list(Paths.get(from)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    segments.foreach { i =>
      val p = parts(i)
      val to = Paths.get(live).resolve(p.getFileName)
      Files.copy(p, to)
      Files.setLastModifiedTime(to, Files.getLastModifiedTime(p))
    }
  }

  /** a plain foreachBatch merge on the caller's session (Spark's default
    * checkpoint manager); `crashAfter` throws after that many merges
    */
  private def plainIngest(wal: String, t: LakeTable, cpId: String, cp: String,
                          crashAfter: Int = Int.MaxValue,
                          seenActive: mutable.Buffer[java.util.UUID] = mutable.Buffer()): Unit = {
    var merged = 0
    val q = spark.readStream.schema(Schemas.changeEvent).option("maxFilesPerTrigger", 2)
      .parquet(wal).writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        t.merge(b, cpId, id)
        seenActive ++= spark.streams.active.map(_.id)
        merged += 1
        if (merged >= crashAfter) sys.error("injected crash")
      }
      .start()
    try q.awaitTermination()
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException
      if e.getMessage.contains("injected crash") => () }
  }

  private def replayEquals(t: LakeTable, wal: String): Unit = {
    val scratch = new LakeTable(spark, tmpDir("replay"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    scratch.merge(spark.read.parquet(wal), "replay", 0L)
    val cols = Seq("repo", "path", "commit", "lang", "contentSha")
    assert(collectSorted(t.read().selectExpr(cols: _*)) == collectSorted(scratch.read().selectExpr(cols: _*)))
  }

  test("the tail's session writes checkpoints through the FileSystem-based manager; the caller's does not change") {
    val full = tmpDir("ckpt-wal")
    ChangeLogGen.writeWal(spark, GenConfig(seed = 31, events = 1200, repos = 4, filesPerRepo = 8), full, 4)
    val t = new LakeTable(spark, tmpDir("ckpt-t"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val cp = tmpDir("ckpt-cp")
    val before = spark.conf.getAll
    val q = IngestStream.start(spark, full, t, "ck", cp, maxFilesPerTrigger = 2)
    q.awaitTermination()
    assert(spark.conf.getAll == before, "starting the tail changed the caller's session conf")
    assert(!spark.conf.getOption(ManagerKey).isDefined)
    assert(q.sparkSession ne spark)
    assert(CheckpointFileManager.create(new HPath(cp), hadoopConf(q.sparkSession))
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(CheckpointFileManager.create(new HPath(cp), hadoopConf(spark))
      .isInstanceOf[FileContextBasedCheckpointFileManager], "the caller's session keeps Spark's default")
    assert(t.currentSnapshot().get.committed("ck") == CommitState(1L, Nil))

    // same log layout as Spark's default manager writes for the same input
    val cpDefault = tmpDir("ckpt-cp-default")
    plainIngest(full, new LakeTable(spark, tmpDir("ckpt-t2"), 4, ApplyMode.MergeOnRead), "ck2", cpDefault)
    def layout(dir: String): Set[String] = {
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).filterNot(n => n.split('/').exists(_.startsWith("."))).toSet
    }
    assert(layout(cp).nonEmpty && layout(cp) == layout(cpDefault))
  }

  test("repeated tail starts reuse one session: the listener bus does not grow per drain") {
    import org.apache.spark.sql.graft.ListenerBusProbe
    val full = tmpDir("bus-wal")
    ChangeLogGen.writeWal(spark, GenConfig(seed = 35, events = 600, repos = 3, filesPerRepo = 6), full, 2)
    val t = new LakeTable(spark, tmpDir("bus-t"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val cp = tmpDir("bus-cp")
    def drain() = { val q = IngestStream.start(spark, full, t, "bus", cp); q.awaitTermination(); q }
    val first = drain()
    val listeners = ListenerBusProbe.listeners(spark.sparkContext)
    val again = (1 to 3).map(_ => drain())
    assert(ListenerBusProbe.listeners(spark.sparkContext) == listeners)
    assert(again.forall(_.sparkSession eq first.sparkSession))
    // a changed caller conf gets a fresh clone that carries it
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val q = drain()
      assert((q.sparkSession ne first.sparkSession) && q.sparkSession.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("a default-manager checkpoint resumes under IngestStream exactly once") {
    val full = tmpDir("resume-full")
    val cfg = GenConfig(seed = 32, events = 3000, repos = 6, filesPerRepo = 10)
    ChangeLogGen.writeWal(spark, cfg, full, 8)
    val live = tmpDir("resume-live") + "/wal"
    deliver(full, live, 0 until 6)
    val t = new LakeTable(spark, tmpDir("resume-t"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val cp = tmpDir("resume-cp")
    // the second merge commits, then the query dies before its commit log entry
    plainIngest(live, t, "rs", cp, crashAfter = 2)
    assert(t.currentSnapshot().get.committed("rs") == CommitState(1L, Nil))
    deliver(full, live, 6 until 8)
    var replayed = Seq.empty[Long]
    IngestStream.runAvailable(spark, live, t, "rs", cp, maxFilesPerTrigger = 2,
      onBatch = (id, stats) => if (stats.isEmpty) replayed :+= id)
    val snap = t.currentSnapshot().get
    assert(replayed == Seq(1L), "batch 1 is redelivered and skipped, nothing else")
    assert(snap.committed("rs") == CommitState(3L, Nil), "4 batches, each committed once")
    assert(t.ledger.entries().size == 4)
    assert(snap.hwm == cfg.events)
    replayEquals(t, live)
  }

  test("a default-manager MV checkpoint resumes under IncrementalAgg.stream exactly once") {
    val t = new LakeTable(spark, tmpDir("mvres-t"), 4, ApplyMode.MergeOnRead, defaultCdfFull = true)
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 33, events = 3000, repos = 6, filesPerRepo = 8))
    (0 until 2).foreach(i => t.merge(wal.where(col("lsn").between(i * 1000 + 1, (i + 1) * 1000)), "up", i.toLong))
    val agg = IncrementalAgg(spark, tmpDir("mvres-mv"), col("repo"), length(col("content")))
    val cp = tmpDir("mvres-cp")
    var folded = 0
    val q = spark.readStream.format("graft").option("changeTypes", "true")
      .option("maxLsnsPerTrigger", "500").load(t.root).writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        agg.applyChanges(b, "mv", id)
        folded += 1
        if (folded >= 2) sys.error("injected crash")
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    t.merge(wal.where(col("lsn") > 2000), "up", 2L)
    agg.stream(spark, t.root, "mv", cp, maxLsnsPerTrigger = Some(500L)).awaitTermination()
    val recompute = t.read().select(col("repo").as("group"),
        coalesce(length(col("content")).cast("long"), lit(0L)).as("m"))
      .groupBy("group").agg(count(lit(1)).as("cnt"), sum("m").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // a second fold of batch 1 would double its groups' counts and totals
    assert(agg.read().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == recompute)
    val st = agg.mv.currentSnapshot().get.committed("mv")
    assert(st.pending.isEmpty && st.hwm >= 2L, s"contiguous batches past the crash, got $st")
  }

  test("the tail's query is not in the caller's spark.streams and its listener sees no event of it") {
    val full = tmpDir("vis-wal")
    ChangeLogGen.writeWal(spark, GenConfig(seed = 34, events = 800, repos = 4, filesPerRepo = 8), full, 2)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = events.add(e.id)
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress.id)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = events.add(e.id)
    }
    spark.streams.addListener(listener)
    try {
      val seenByTail = mutable.Buffer[java.util.UUID]()
      var batches = 0
      val t = new LakeTable(spark, tmpDir("vis-t"), 4, ApplyMode.MergeOnRead)
      val q = IngestStream.start(spark, full, t, "vis", tmpDir("vis-cp"), maxFilesPerTrigger = 1,
        onBatch = (_, _) => { batches += 1; seenByTail ++= spark.streams.active.map(_.id) })
      q.awaitTermination()
      // the control: the same shape of query on the caller's session is in
      // its spark.streams, and its listener hears it
      val seenByPlain = mutable.Buffer[java.util.UUID]()
      plainIngest(full, new LakeTable(spark, tmpDir("vis-t2"), 4, ApplyMode.MergeOnRead), "vis2",
        tmpDir("vis-cp2"), seenActive = seenByPlain)
      org.apache.spark.sql.graft.Internals.drainListenerBus(spark.sparkContext)
      assert(batches == 2 && !seenByTail.contains(q.id))
      assert(seenByPlain.nonEmpty && seenByPlain.toSet.size == 1)
      val heard = events.asScala.toSeq
      assert(heard.contains(seenByPlain.head), "the caller's listener hears a query on its own session")
      assert(!heard.contains(q.id), "the caller's listener heard the tail's query")
      assert(q.recentProgress.exists(_.numInputRows > 0), "the handle reports the tail's progress")
    } finally spark.streams.removeListener(listener)
  }
}
