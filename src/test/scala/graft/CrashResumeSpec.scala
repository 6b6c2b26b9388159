package graft

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.gen.{ChangeLogGen, GenConfig}
import graft.stream.IngestStream
import graft.table.{ApplyMode, LakeTable}

/** Suite 3 (SURVEY.md §5.2): crash-resume / exactly-once at the streaming
  * level. The stream dies AFTER a merge commit but BEFORE Spark's
  * checkpoint marks the batch complete (the worst-ordered window): on
  * restart Spark redelivers that batchId and the idempotent commit must
  * skip it — no duplicates, no lost batches, ledger consistent.
  */
class CrashResumeSpec extends SparkSpec {

  val cfg = GenConfig(seed = 5, events = 6000, repos = 12, filesPerRepo = 12)

  test("stream crash between merge-commit and checkpoint; resume converges") {
    val walDir = tmpDir("wal")
    ChangeLogGen.writeWal(spark, cfg, walDir, segments = 12)
    val tableDir = tmpDir("table"); val cpDir = tmpDir("cp")
    val t = new LakeTable(spark, tableDir, defaultBuckets = 8, ApplyMode.CopyOnWrite)

    var applied = 0
    val crashed = intercept[StreamingQueryException] {
      IngestStream.runAvailable(spark, walDir, t, "cp1", cpDir, maxFilesPerTrigger = 2,
        onBatch = (_, _) => { applied += 1; if (applied >= 3) sys.error("injected crash") })
    }
    assert(crashed.getMessage.contains("injected crash"))
    val vAtCrash = t.currentSnapshot().get.version
    assert(vAtCrash == 3, "exactly 3 merges committed before the crash")

    // resume from the same checkpoint: batch 2 is redelivered and skipped
    IngestStream.runAvailable(spark, walDir, t, "cp1", cpDir, maxFilesPerTrigger = 2)

    val snap = t.currentSnapshot().get
    // hwm-based commit state is duplicate-free by construction; 6 batches,
    // contiguous (no out-of-order leftovers)
    assert(snap.committedCount == 6, "all 6 batches committed exactly once")
    assert(snap.committed("cp1") == graft.table.CommitState(5L, Nil), "contiguous hwm, empty pending")
    assert(snap.hwm == cfg.events)
    assert(t.ledger.entries().size == snap.committedCount, "ledger complete, no gaps")

    // final state equals a from-scratch single-batch rebuild
    val scratch = new LakeTable(spark, tmpDir("scr"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    scratch.merge(spark.read.parquet(walDir), "scr", 0L)
    val cols = Seq("repo", "path", "commit", "lang", "contentSha")
    assert(collectSorted(t.read().selectExpr(cols: _*)) ==
      collectSorted(scratch.read().selectExpr(cols: _*)))
  }

  test("a checkpoint written with an event-time watermark resumes without one and converges") {
    val walDir = tmpDir("walwm")
    ChangeLogGen.writeWal(spark, cfg, walDir, segments = 12)
    val t = new LakeTable(spark, tmpDir("twm"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    val cpDir = tmpDir("cpwm")
    // the tail's earlier shape: a watermark on `ts` that no stateful
    // operator consumed; the third merge commits, then the query dies
    // before Spark logs the batch as committed
    var merged = 0
    val q = spark.readStream.schema(graft.model.Schemas.changeEvent)
      .option("maxFilesPerTrigger", 2).parquet(walDir)
      .withWatermark("ts", "10 minutes")
      .writeStream.outputMode("update")
      .option("checkpointLocation", cpDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        t.merge(b, "wm", id)
        merged += 1
        if (merged >= 3) sys.error("injected crash")
      }
      .start()
    intercept[StreamingQueryException](q.awaitTermination())
    assert(t.currentSnapshot().get.committed("wm") == graft.table.CommitState(2L, Nil))

    var skipped = Seq.empty[Long]
    IngestStream.runAvailable(spark, walDir, t, "wm", cpDir, maxFilesPerTrigger = 2,
      onBatch = (id, stats) => if (stats.isEmpty) skipped :+= id)
    val snap = t.currentSnapshot().get
    assert(skipped == Seq(2L), "only the crashed batch is redelivered, and it is skipped")
    assert(snap.committed("wm") == graft.table.CommitState(5L, Nil), "all 6 batches committed exactly once")
    assert(t.ledger.entries().size == 6)
    assert(snap.hwm == cfg.events)
    val scratch = new LakeTable(spark, tmpDir("scrwm"), defaultBuckets = 8, ApplyMode.CopyOnWrite)
    scratch.merge(spark.read.parquet(walDir), "scr", 0L)
    val cols = Seq("repo", "path", "commit", "lang", "contentSha", "content")
    assert(collectSorted(t.read().selectExpr(cols: _*)) ==
      collectSorted(scratch.read().selectExpr(cols: _*)))
  }

  test("resume with NOTHING new to process is a clean no-op") {
    val walDir = tmpDir("wal2")
    ChangeLogGen.writeWal(spark, GenConfig(seed = 6, events = 1000, repos = 5, filesPerRepo = 8), walDir, 2)
    val t = new LakeTable(spark, tmpDir("t2"), defaultBuckets = 4)
    val cp = tmpDir("cp2")
    IngestStream.runAvailable(spark, walDir, t, "cp2", cp, maxFilesPerTrigger = 2)
    val v = t.currentSnapshot().get.version
    IngestStream.runAvailable(spark, walDir, t, "cp2", cp, maxFilesPerTrigger = 2)
    assert(t.currentSnapshot().get.version == v)
  }
}
