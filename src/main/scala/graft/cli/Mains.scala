package graft.cli

import org.apache.spark.sql.SparkSession

import graft.gen.{ChangeLogGen, GenConfig}
import graft.stream.IngestStream
import graft.table.{ApplyMode, LakeTable}

/** spark-submit entry points (SURVEY.md §7.1). Local default is
  * `local[N]` with shuffle partitions = N (never the 200 default).
  */
object Cli {
  def session(name: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = SparkSession.builder().appName(name)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // under spark-submit --master wins; standalone runs fall back to local
    val s = (if (sys.props.contains("spark.master")) b else b.master(s"local[$cpus]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def mode(s: String): ApplyMode.Value = LakeTable.modeOf(s.toLowerCase)
}

/** Generate a seeded WAL (idempotent). Args: walDir events segments [seed]. */
object GenMain {
  def main(args: Array[String]): Unit = {
    val Array(walDir, events, segments, rest @ _*) = args
    val seed = rest.headOption.map(_.toLong).getOrElse(42L)
    val spark = Cli.session("graft-gen")
    ChangeLogGen.writeWal(spark, GenConfig(seed = seed, events = events.toLong,
      repos = math.max(10, (events.toLong / 2000).toInt), filesPerRepo = 40), walDir, segments.toInt)
    println(s"[gen] wal=$walDir events=$events segments=$segments seed=$seed")
    spark.stop()
  }
}

/** Tail a WAL into a lake table via Structured Streaming.
  * Args: walDir tableDir checkpointDir [cow|mor|dv] [maxFilesPerTrigger] [nBuckets] [failAfterBatches]
  *
  * `failAfterBatches` is crash injection for resume testing: the driver
  * process dies hard AFTER the Nth merge commit but BEFORE Spark's
  * checkpoint marks that batch complete — the worst-ordered crash window
  * (SURVEY.md §7.6); on restart the batch is replayed and must be skipped
  * by the idempotent commit.
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: IngestMain <walDir> <tableDir> <checkpointDir> [cow|mor|dv] [maxFilesPerTrigger] [nBuckets] [failAfterBatches]")
    val walDir = args(0); val tableDir = args(1); val cpDir = args(2)
    val m = Cli.mode(if (args.length > 3) args(3) else "cow")
    val mfpt = if (args.length > 4) args(4).toInt else 4
    val buckets = if (args.length > 5) args(5).toInt else 32
    val failAfter = if (args.length > 6) args(6).toLong else -1L
    val spark = Cli.session("graft-ingest")
    val table = new LakeTable(spark, tableDir, buckets, m)
    val t0 = System.nanoTime()
    var applied = 0L
    IngestStream.runAvailable(spark, walDir, table, cpId = "ingest", checkpointDir = cpDir,
      maxFilesPerTrigger = mfpt, onBatch = (_, _) => {
        applied += 1
        if (failAfter > 0 && applied >= failAfter) {
          System.err.println(s"[ingest] CRASH INJECTED after $applied merge commits")
          Runtime.getRuntime.halt(137)
        }
      })
    val sec = (System.nanoTime() - t0) / 1e9
    val snap = table.currentSnapshot().get
    val live = table.read().count()
    println(f"[ingest] mode=$m snapshots=${snap.version} hwm=${snap.hwm} storedRows=${snap.totalRows} liveRows=$live wallSec=$sec%.1f eventsPerSec=${snap.hwm / sec}%.0f")
    spark.stop()
  }
}

/** Rebuild from scratch in one batch and diff against an existing table —
  * the replay-determinism check at CLI level (SURVEY.md §7.5 step 4).
  * Args: walDir tableDir scratchDir
  */
object ReplayMain {
  def main(args: Array[String]): Unit = {
    val Array(walDir, tableDir, scratchDir) = args
    val spark = Cli.session("graft-replay")
    val wal = spark.read.parquet(walDir)
    val scratch = new LakeTable(spark, scratchDir, 32, ApplyMode.CopyOnWrite)
    scratch.merge(wal, "replay", 0L)
    val existing = new LakeTable(spark, tableDir)
    val cols = Seq("repo", "path", "commit", "lang", "contentSha")
    val a = existing.read().selectExpr(cols: _*)
    val b = scratch.read().selectExpr(cols: _*)
    val onlyA = a.exceptAll(b).count(); val onlyB = b.exceptAll(a).count()
    println(s"[replay] rows=${b.count()} onlyInTable=$onlyA onlyInReplay=$onlyB match=${onlyA == 0 && onlyB == 0}")
    if (onlyA != 0 || onlyB != 0) sys.exit(1)
    spark.stop()
  }
}

/** Tail a lake table's change feed downstream — the streaming SOURCE side
  * of the engine (readStream.format("graft")): drains everything available,
  * mirrors the feed into a parquet sink, prints progress. Re-running with
  * the same checkpoint delivers only commits that landed in between.
  * Args: tableDir outDir checkpointDir [startLsn] [maxLsnsPerTrigger]
  */
object TailMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TailMain <tableDir> <outDir> <checkpointDir> [startLsn] [maxLsnsPerTrigger]")
    val tableDir = args(0); val outDir = args(1); val cpDir = args(2)
    val startLsn = if (args.length > 3) args(3).toLong else 0L
    val maxPer = if (args.length > 4) Some(args(4).toLong) else None
    val spark = Cli.session("graft-tail")
    val reader = spark.readStream.format("graft")
      .option("changeFeed", "true").option("startLsn", startLsn.toString)
    maxPer.foreach(n => reader.option("maxLsnsPerTrigger", n.toString))
    val q = reader.load(tableDir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", cpDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    // empty feed: the sink may have written nothing at all
    val out = scala.util.Try(spark.read.parquet(outDir)).toOption
    val rows = out.map(_.count()).getOrElse(0L)
    val deletes = out.map(_.where(org.apache.spark.sql.functions.col("deleted")).count()).getOrElse(0L)
    val maxLsn = out.map(_.agg(org.apache.spark.sql.functions.max("lsn")).head)
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    println(s"[tail] table=$tableDir rows=$rows deletes=$deletes maxLsn=$maxLsn batchesThisRun=$batches")
    spark.stop()
  }
}
