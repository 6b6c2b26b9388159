package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas
import graft.table.LakeTable

/** Structured Streaming WAL tail → lake upsert (SURVEY.md §7.3, §2.1 S8).
  *
  * The WAL is a directory of ordered parquet segment files (FIXTURES.md §2);
  * the file source's checkpointed offset is the segment index —
  * `maxFilesPerTrigger` is the batch governor (the reference's chunk_size
  * knob, config/analysis_config.yaml:62). Each micro-batch is applied via
  * `foreachBatch { merge }`: per-(repo,path) LSN-ordered dedup, bucket-pruned
  * upsert, idempotent (checkpointId, batchId) commit — exactly-once across
  * restarts. Lateness (SURVEY.md §2.10): events are admitted by the max-LSN
  * guard inherent to the merge, so "late" (lower-LSN) events are correct
  * no-ops rather than corruption, and the ledger's staleRows counts them.
  * No stateful operator runs, so the tail declares no event-time watermark.
  */
object IngestStream {

  /** The session a foreachBatch tail runs on: a clone of `spark` whose
    * checkpoint logs (offsets, sources, commits) go through Spark's
    * FileSystem-based manager instead of the default FileContext one. Its
    * create + rename writes the same files without the link-status probes
    * that, on a local filesystem without Hadoop's native IO, fork a
    * `readlink` per call on the stream thread. Exactly-once does not rest
    * on the log's rename: a replayed batch is a no-op at the table's
    * (cpId, batchId) commit. The caller's session keeps its settings; a
    * query started here is not in the caller's `spark.streams`, so its
    * returned `StreamingQuery` handle is how a caller follows it.
    *
    * A session that starts a query registers a listener bus on the
    * SparkContext for good, so one clone is kept per caller session and
    * reused while the caller's conf is what it was cloned from; a new
    * clone per start would add a listener per drain.
    */
  private[graft] def tailSession(spark: SparkSession): SparkSession = tails.synchronized {
    val conf = spark.conf.getAll
    tails.get(spark) match {
      case (c, tail) if c == conf => tail
      case _ =>
        val tail = Internals.withConfs(spark, Map(SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key ->
          classOf[FileSystemBasedCheckpointFileManager].getName))
        tails.put(spark, (conf, tail))
        tail
    }
  }

  /** caller session -> (its conf when cloned, the tail session) */
  private val tails = new java.util.WeakHashMap[SparkSession, (Map[String, String], SparkSession)]()

  /** Start the ingest stream. `cpId` identifies the stream for exactly-once;
    * `checkpointDir` is the Spark streaming checkpoint (offsets + commits).
    */
  def start(spark: SparkSession, walDir: String, table: LakeTable, cpId: String,
            checkpointDir: String, maxFilesPerTrigger: Int = 4,
            autoCompactFilesPerBucket: Int = 16,
            onBatch: (Long, Seq[LakeTable.BucketStats]) => Unit = (_, _) => ()): StreamingQuery =
    tailSession(spark).readStream
      .schema(Schemas.changeEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(walDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // merge writes the lineage ledger entry itself, inside the commit
        val stats = table.merge(batch, cpId, batchId)
        // maintenance: MergeOnRead folds deltas when read amplification
        // grows; DeletionVector folds when the dead-position fraction does
        if (autoCompactFilesPerBucket > 0) table.maybeCompact(autoCompactFilesPerBucket)
        onBatch(batchId, stats)
      }
      .start()

  /** Run the whole available WAL synchronously (batch-style driver for
    * tests/bench): start, await completion, stop.
    */
  def runAvailable(spark: SparkSession, walDir: String, table: LakeTable, cpId: String,
                   checkpointDir: String, maxFilesPerTrigger: Int = 4,
                   onBatch: (Long, Seq[LakeTable.BucketStats]) => Unit = (_, _) => ()): Unit = {
    val q = start(spark, walDir, table, cpId, checkpointDir, maxFilesPerTrigger, onBatch = onBatch)
    q.awaitTermination()
  }
}
