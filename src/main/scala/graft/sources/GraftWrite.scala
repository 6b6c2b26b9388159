package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.table.LakeTable

/** DSv2 write path for the `graft` format (the round-2 "Missing" item: an
  * external SQL user could SELECT through the source but not INSERT).
  *
  * {{{ df.write.format("graft").mode("append").save(root)        // upsert batch
  *     df.write.format("graft").mode("overwrite").save(root)     // truncate + apply
  *     df.write.format("graft").option("create", "true")
  *       .option("mode", "mor").option("buckets", "16")
  *       .mode("append").save(root)                              // create on first write
  *     spark.sql(s"INSERT INTO graft.`$root` SELECT ...")
  *     spark.sql(s"DELETE FROM graft.`$root` WHERE lang = 'Java'") }}}
  *
  * Semantics — an INSERT is an UPSERT-APPLY, not a blind file append: the
  * incoming rows are change events keyed on (repo, path), routed through
  * `LakeTable.merge` — the same bucket-pruned single-shuffle resolve,
  * exactly-once commit protocol, ledger lineage, and apply mode (cow, mor,
  * dv) every other ingest path uses. A row with NULL `content` is a
  * tombstone (the Kafka log-compaction convention: null payload = delete);
  * `lang`/`contentSha` are derived invariants and are recomputed, not
  * trusted from the writer.
  *
  * Physical plan: the `Write` is a `V1Write` handing the fully-analysed
  * DataFrame to the merge pipeline. This is deliberate, not a shortcut —
  * a per-task `DataWriter` sees only its own task's rows, so it CANNOT
  * implement the upsert contract (CoW resolve needs a union with the
  * affected buckets' existing rows + a latest-per-key window; DV needs the
  * join against their live positions). The industry-standard shape for merge-semantics
  * sinks: plan the write as ordinary distributed Spark jobs (Delta Lake
  * shipped its DSv2 writes exactly this way for years). All data movement
  * stays fully distributed — nothing is collected to the driver.
  *
  * Exactly-once: the commit is keyed on Spark's write `queryId` — a task
  * or stage retry inside one query re-enters the same (cpId, batchId) and
  * is skipped; re-running the INSERT statement is a new query and applies
  * again (standard SQL semantics).
  */
final class GraftWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new GraftV1Write(root, info, doTruncate)
}

final class GraftV1Write(root: String, info: LogicalWriteInfo, doTruncate: Boolean)
    extends V1Write {
  override def toInsertableRelation: InsertableRelation = new InsertableRelation {
    override def insert(data: DataFrame, overwrite: Boolean): Unit = {
      val spark = data.sparkSession
      val lake = GraftWrite.lakeFor(spark, root, info.options.asCaseSensitiveMap())
      val events = data
        .drop("lang", "contentSha") // derived invariants: recomputed by clean()
        .withColumn("op", when(col("content").isNull, lit("D")).otherwise(lit("U")))
      // no '/' in the cpId — it is part of ledger entry file names
      if (doTruncate || overwrite)
        lake.overwrite(events, s"dsv2-${info.queryId}", 0L) // ONE atomic replace commit
      else
        lake.merge(events, s"dsv2-${info.queryId}", 0L)
    }
  }
}

/** Native Structured-Streaming SINK: `df.writeStream.format("graft")
  * .option("path", root).start()` — each micro-batch is an upsert-apply
  * through `LakeTable.merge` with the engine's own exactly-once commit
  * (cpId = the sink's `queryName`/`cpId` option, batchId = the streaming
  * batch id): a replayed micro-batch after a crash-restart is detected in
  * the SNAPSHOT, independent of the sink checkpoint — the same V1 Sink
  * shape Delta uses for its streaming writes, and for the same reason (a
  * per-task streaming DataWriter cannot express merge semantics).
  * Same row contract as the batch writer: table-schema rows, NULL content
  * = tombstone, derived columns recomputed. Combined with the streaming
  * SOURCE this closes the medallion loop: bronze graft table → readStream
  * → transform → writeStream → silver graft table, exactly-once end to end.
  */
final class GraftStreamSink(spark: SparkSession, root: String,
                            parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  /** Exactly-once key: distinct queries MUST NOT share one cpId (their
    * batchIds would shadow each other), and one query must keep its cpId
    * across restarts. Resolution order: explicit `cpid` option → the
    * STREAMING QUERY ID (Spark sets it as a thread-local property during
    * addBatch; it is persisted in the checkpoint, so it is stable across
    * restarts and unique across queries — the Delta sink's identity) →
    * a digest of the checkpointLocation option.
    */
  private val params = parameters.map { case (k, v) => k.toLowerCase -> v }
  // ONE-SHOT prefixes are reserved for the engine's internal ephemeral
  // commits (pruned from snapshot metadata as soon as any later commit
  // lands — see LakeTable.pruneEphemeralCommits). A user-chosen streaming
  // cpid like "update-feed" would lose its exactly-once CommitState at the
  // next commit and re-apply batches after a restart; reject it up front.
  params.get("cpid").foreach { id =>
    val clash = GraftWrite.reservedCpIdPrefixes.find(id.startsWith)
    require(clash.isEmpty,
      s"graft sink: cpid '$id' uses the reserved one-shot prefix '${clash.get}' " +
        "(engine-internal commits are pruned from the exactly-once state; pick another id)")
  }
  private def cpIdFor(spark: SparkSession): String =
    params.get("cpid")
      .orElse(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        .map("sink-" + _))
      .orElse(params.get("checkpointlocation").map(p =>
        "sink-" + java.lang.Integer.toHexString(p.hashCode)))
      // NEVER fall back to a shared constant: two anonymous queries sharing
      // one exactly-once key silently drop each other's batches (the first
      // query's hwm makes the second query's batches look already-committed)
      .getOrElse(throw new IllegalStateException(
        "graft sink: cannot derive a unique exactly-once id for this query — " +
          "set .option(\"cpid\", <stable unique id>) or .option(\"checkpointLocation\", ...)"))
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val lake = GraftWrite.lakeFor(spark, root, parameters.asJava)
    // the incoming frame is the streaming micro-batch plan — rebase it onto
    // its already-planned RDD so the merge's own (batch) transformations
    // re-analyze cleanly (see org.apache.spark.sql.graft.MicroBatch)
    val batch = org.apache.spark.sql.graft.MicroBatch.rebase(data)
    val events = batch
      .drop("lang", "contentSha")
      .withColumn("op", when(col("content").isNull, lit("D")).otherwise(lit("U")))
    lake.merge(events, cpIdFor(spark), batchId)
  }
  override def toString: String = s"GraftStreamSink[$root]"
}

object GraftWrite {
  /** cpId prefixes reserved for engine-internal one-shot commits (the one
    * list lives next to pruneEphemeralCommits) — user-supplied exactly-once
    * ids must not collide with them.
    */
  def reservedCpIdPrefixes: Seq[String] = LakeTable.oneShotCpIdPrefixes

  /** Open the lake for a write: `mode`/`buckets` options only matter on the
    * CREATING write (an existing table reads its layout back from the
    * snapshot and ignores constructor args — reopening with different
    * options can never corrupt bucket pruning).
    */
  def lakeFor(spark: SparkSession, root: String,
              options: java.util.Map[String, String]): LakeTable = {
    // normalize: callers pass maps of varying case sensitivity, and a
    // missed `Mode`/`Buckets` on the CREATING write would fix the wrong
    // layout permanently
    import scala.jdk.CollectionConverters._
    val o = options.asScala.map { case (k, v) => k.toLowerCase -> v }
    val buckets = o.get("buckets").map(graft.GraftConf.positiveInt("buckets", _)).getOrElse(32)
    val mode = graft.table.LakeTable.modeOf(o.getOrElse("mode", "cow"))
    // cdf=true|full — 'full' turns on before-images (update_preimage rows
    // + old values on deletes) from creation
    val (cdf, cdfFull) = o.get("cdf").fold((false, false))(graft.GraftConf.cdf("cdf", _))
    new LakeTable(spark, root, buckets, mode, defaultCdf = cdf, defaultCdfFull = cdfFull)
  }

  /** V1 `Filter` → `Column` for the filter-based delete surface. None =
    * not convertible (the table then reports `canDeleteWhere = false` and
    * Spark raises a clear unsupported-delete error instead of silently
    * deleting the wrong rows).
    */
  def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc && rc
    case Or(l, r)  => for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc || rc
    case Not(c)    => filterColumn(c).map(!_)
    case _: AlwaysTrue  => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
