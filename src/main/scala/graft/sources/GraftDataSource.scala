package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.GraftConf
import graft.table.{ChangeFeed, FileEntry, Fs, Snapshot, SnapshotLog}

/** DataSourceV2 reader for graft lake tables (SURVEY.md §2.1 S5 — the
  * reference's pushdown precedent is its ArcGIS client pushing `where`
  * server-side, geo_curitiba_client.py:69-114):
  *
  * {{{ spark.read.format("graft").load("/path/to/table")          // live rows
  *     spark.read.format("graft").option("snapshot", 3).load(dir) // time travel }}}
  *
  * Pushdown surface:
  *  - `SupportsPushDownRequiredColumns`: the parquet scan decodes ONLY the
  *    pruned columns (ReadSchema in explain).
  *  - `SupportsPushDownFilters`: `lsn` range predicates are used for
  *    FILE-LEVEL data skipping against the snapshot's per-file min/max lsn
  *    stats — files wholly outside the range are never opened (the engine's
  *    analogue of the reference's indexed reads, docs/database.md:319-323).
  *    Pushed filters remain in the residual (Spark re-applies them row-wise)
  *    so skipping can never change semantics.
  *
  * Serving, by table state:
  *  - CopyOnWrite / compacted buckets: one VECTORIZED columnar partition per
  *    file (Spark's `VectorizedParquetRecordReader` → `ColumnarBatch`, same
  *    decode path as `spark.read.parquet`); tombstones are masked per batch.
  *  - Live deletion vectors: the partition carries the DV sidecar PATHS of
  *    its file's bucket; each reader loads only its own file's dead
  *    positions (executor-side, O(bucket's DV rows)) and masks them during
  *    the scan. Nothing DV-related is materialised on the driver — plan-time
  *    memory is O(#files + #sidecar paths), independent of dvRows.
  *  - Un-compacted MergeOnRead buckets: one partition per BUCKET whose
  *    reader resolves latest-per-key across the bucket's delta files
  *    (hash-map resolve; memory is O(live keys per bucket), which is what
  *    `rebucket()` keeps bounded). Ties on (lsn, commit) resolve to the
  *    later delta file — duplicate (lsn, commit) for a key only arises from
  *    a replay of the same logical event.
  * `deleted` is never exposed.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSinkProvider {
  override def shortName(): String = "graft"

  /** `writeStream.format("graft")` — the streaming upsert sink (see
    * GraftStreamSink). V1 StreamSinkProvider takes precedence over the
    * table path in DataStreamWriter, which is exactly what merge
    * semantics need.
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty, "graft tables are hash-bucketed; partitionBy is not supported")
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft sink: .option(\"path\", <table root>) is required"))
    new GraftStreamSink(sqlContext.sparkSession, root, parameters)
  }

  /** Spark calls inferSchema then getTable with the same options; resolve
    * the snapshot ONCE and reuse it, so a concurrent commit between the two
    * calls can never pair one snapshot's schema with another's file list.
    */
  private var cached: Option[(String, (String, Snapshot))] = None

  private def cacheKey(options: CaseInsensitiveStringMap): String =
    s"${options.get("path")}@${Option(options.get("snapshot")).getOrElse("latest")}" +
      s"@${Option(options.get("timestampAsOf")).getOrElse("-")}"

  private def loadSnapshot(options: CaseInsensitiveStringMap): (String, Snapshot) = synchronized {
    val key = cacheKey(options)
    cached match {
      case Some((k, rs)) if k == key => rs
      case _ =>
        val root = Option(options.get("path"))
          .getOrElse(throw new IllegalArgumentException("graft: .load(<table root>) is required"))
        val log = new SnapshotLog(new Fs(SparkSession.active.sessionState.newHadoopConf()), root)
        // timestamp time travel for PATH-based reads (the catalog spells it
        // `TIMESTAMP AS OF`): the latest snapshot at or before the instant
        val version = Option(options.get("snapshot")).map(SnapshotLog.parseVersion).orElse(
          Option(options.get("timestampAsOf"))
            .map(ts => log.versionAsOf(graft.table.LakeTable.parseTimestampMs(ts))))
        val snap = version.map(log.at).orElse(log.head()).getOrElse {
          // create-on-first-write: expose an empty table of the engine's row
          // schema; the first committed write materialises version 1 with
          // the layout from the `mode`/`buckets` options
          require(options.getBoolean("create", false), s"graft: no table at $root")
          graft.table.LakeTable.emptySnapshot(
            Option(options.get("buckets")).map(GraftConf.positiveInt("buckets", _)).getOrElse(32),
            Option(options.get("mode")).getOrElse("cow"))
        }
        cached = Some((key, (root, snap)))
        (root, snap)
    }
  }

  /** Table schema = snapshot schema minus `deleted`, ALL-NULLABLE: reads
    * only get laxer, and V2 write analysis would otherwise reject inserting
    * any nullable expression into the non-null key columns (row-level
    * integrity is enforced by the merge path itself, not by the planner).
    * With `changeFeed=true` (the streaming CDC tail) `deleted` stays in the
    * schema — tombstones are part of a change feed.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (_, snap) = loadSnapshot(options)
    def flag(name: String) = Option(options.get(name)).exists(GraftConf.flag(name, _))
    val changeTypes = flag("changeTypes")
    val fields = GraftDataSource.schemaOf(snap, keepDeleted = flag("changeFeed") || changeTypes)
    // `changeTypes=true` (streaming tail): synthesised change-kind column,
    // Delta CDF vocabulary (insert / update_postimage / delete)
    if (changeTypes) fields.add(StructField(ChangeFeed.TypeCol, StringType)) else fields
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftTable(loadSnapshot(new CaseInsensitiveStringMap(properties)), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object GraftDataSource {
  /** The public schema of a snapshot — one definition for path reads, the
    * catalog and `LakeTable`'s reads: LOGICAL names (readers translate back
    * to the storage names per snapshot, column mapping), all nullable, and
    * `deleted` only on tombstone-keeping (`changeFeed`) reads.
    */
  def schemaOf(snap: Snapshot, keepDeleted: Boolean): StructType =
    StructType(snap.logicalSchema.fields
      .filter(f => keepDeleted || f.name != "deleted").map(_.copy(nullable = true)))
}

final class GraftTable(rootSnap: (String, Snapshot), tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  /** table root directory — the SQL DML rewrite (GraftDml) routes
    * UPDATE/MERGE statements on this relation into the LakeTable API
    */
  def root: String = rootSnap._1
  override def schema(): StructType = tableSchema
  override def name(): String = s"graft:${rootSnap._1}@v${rootSnap._2.version}"
  /** DESCRIBE EXTENDED surface: layout + snapshot state at load time */
  override def properties(): util.Map[String, String] = {
    val s = rootSnap._2
    java.util.Map.of(
      "provider", "graft", "mode", s.mode, "buckets", s.nBuckets.toString,
      "version", s.version.toString, "hwm", s.hwm.toString,
      "totalRows", s.totalRows.toString, "dvRows", s.dvRows.toString,
      "location", rootSnap._1)
  }
  override def capabilities(): util.Set[TableCapability] =
    // BATCH_WRITE routes DataFrameWriter.save into the V2 write plan;
    // V1_BATCH_WRITE tells the planner the Write resolves via V1Write
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  /** The physical layout as a DSv2 transform: every row lives in bucket
    * `pmod(xxhash64(repo, path), nBuckets)`. Declared for DESCRIBE and
    * catalog introspection; the catalog resolves `bucket` to
    * [[GraftBucketFunction]]. Storage-partitioned JOIN planning rides the
    * `_bucket` METADATA column instead (see [[metadataColumns]]): Spark
    * 4.1's SPJ machinery only accepts partition transforms over a single
    * column reference (`KeyGroupedPartitioning.supportsExpressions`), so
    * the two-column layout hash itself can't key the physical partitioning.
    */
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(rootSnap._2.nBuckets, "repo", "path"))

  /** `_bucket`: the row's key-bucket id, `pmod(xxhash64(repo, path),
    * nBuckets)`, served as a constant per scan task (every live-scan task
    * holds exactly one bucket — see `GraftScan.planInputPartitions`). This
    * is the STORAGE-PARTITIONED JOIN handle: reading it makes `GraftScan`
    * report `KeyGroupedPartitioning(identity(_bucket))`, and an equi-join
    * of two same-bucket-count graft tables whose ON clause includes
    * `a._bucket = b._bucket` (a semantic no-op — `_bucket` is a function
    * of the join key) plans ZERO Exchanges: each task zips one bucket from
    * both sides. Null on `changeTypes` scans (those partition by sidecar,
    * not bucket).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def meta(n: String, t: DataType, c: String) = new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = t
      override def isNullable: Boolean = true
      override def comment(): String = c
    }
    Array(
      meta("_bucket", IntegerType,
        "key-bucket id pmod(xxhash64(repo, path), nBuckets); join on it for storage-partitioned joins"),
      // `_file`/`_pos`: where the served row is stored — the root-relative
      // data file (the form DV sidecars store) and the row's position in it
      // (= `_metadata.row_index` of a plain parquet read). The DV merge marks
      // superseded rows dead by exactly this pair.
      meta("_file", StringType, "root-relative data file holding the row (the DV sidecar form)"),
      meta("_pos", LongType, "the row's position in its data file (parquet row index)"))
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    import scala.jdk.CollectionConverters._
    new GraftScanBuilder(rootSnap._1, rootSnap._2, schema,
      options.getBoolean("vectorized", true),
      options.asCaseSensitiveMap().asScala.toMap.map { case (k, v) => k.toLowerCase -> v })
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(rootSnap._1, info)

  /** SQL `DELETE FROM graft.` + WHERE — tombstones through the merge path
    * (positional deletion vectors in dv mode; see LakeTable.deleteWhere).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftWrite.filterColumn(_).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftWrite.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    new graft.table.LakeTable(SparkSession.active, rootSnap._1).deleteWhere(cond)
  }
}

final class GraftScanBuilder(root: String, snap: Snapshot, fullSchema: StructType,
                             vectorized: Boolean, options: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var lsnLo: Long = Long.MinValue
  private var lsnHi: Long = Long.MaxValue
  // equality/IN sets on the KEY columns: `repo` alone drives per-file
  // repo-range skipping; `repo` AND `path` together pin the key-hash
  // bucket(s) — the most common real queries (`WHERE repo = 'x'`, point
  // lookups) then stop reading all buckets (round-3 VERDICT item 1)
  private var repoEq: Option[Set[String]] = None
  private var pathEq: Option[Set[String]] = None
  // equality/IN on ANY stored STRING value column — contentSha ("does
  // this blob exist", the dedup/CDC lookup), lang, commit, a payload
  // column — feeds VALUE-column membership evidence (bloom/dictionary),
  // applied only where the layout is resolved (see keyEvidenceGate).
  // Clustered compaction (`compact(clusterBy = ...)`) makes the evidence
  // selective: value-homogeneous files prune to the bound value's files.
  // Guarded against column mapping: only when the column is physically
  // itself (a renamed-away / re-added column must not probe another
  // storage column's evidence).
  private var valEq: Map[String, Set[String]] = Map.empty
  private lazy val physSchema = StructType.fromDDL(snap.schemaDdl)
  private def valCol(name: String): Boolean =
    name != "repo" && name != "path" &&
      snap.physicalOf(name) == name &&
      physSchema.fields.exists(f => f.name == name &&
        f.dataType == org.apache.spark.sql.types.StringType)
  private def addVal(c: String, vs: Set[String]): Unit =
    valEq = valEq.updated(c, valEq.get(c).fold(vs)(_ intersect vs))

  private def intersect(cur: Option[Set[String]], add: Set[String]): Option[Set[String]] =
    Some(cur.fold(add)(_ intersect add))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (usable, _) = filters.partition {
      case GreaterThan("lsn", _: Long) | GreaterThanOrEqual("lsn", _: Long) |
           LessThan("lsn", _: Long) | LessThanOrEqual("lsn", _: Long) |
           EqualTo("lsn", _: Long) => true
      case EqualTo("repo", _: String) | EqualTo("path", _: String) => true
      case EqualTo(c, _: String) => valCol(c)
      case In("repo", vs) => vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case In("path", vs) => vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case In(c, vs) =>
        valCol(c) && vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    usable.foreach {
      case GreaterThan("lsn", v: Long)        => lsnLo = math.max(lsnLo, v + 1)
      case GreaterThanOrEqual("lsn", v: Long) => lsnLo = math.max(lsnLo, v)
      case LessThan("lsn", v: Long)           => lsnHi = math.min(lsnHi, v - 1)
      case LessThanOrEqual("lsn", v: Long)    => lsnHi = math.min(lsnHi, v)
      case EqualTo("lsn", v: Long)            => lsnLo = math.max(lsnLo, v); lsnHi = math.min(lsnHi, v)
      case EqualTo("repo", v: String)         => repoEq = intersect(repoEq, Set(v))
      case EqualTo("path", v: String)         => pathEq = intersect(pathEq, Set(v))
      case EqualTo(c, v: String)              => addVal(c, Set(v))
      case In("repo", vs) => repoEq = intersect(repoEq, vs.map(_.asInstanceOf[String]).toSet)
      case In("path", vs) => pathEq = intersect(pathEq, vs.map(_.asInstanceOf[String]).toSet)
      case In(c, vs)      => addVal(c, vs.map(_.asInstanceOf[String]).toSet)
      case _ => ()
    }
    pushed = usable
    // everything stays residual: skipping is a pure optimisation, Spark
    // re-applies the predicates row-wise
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan =
    new GraftScan(root, snap, required, pushed, lsnLo, lsnHi, vectorized, options,
      repoEq, pathEq, valEq)
}

final class GraftScan(root: String, snap: Snapshot, required: StructType, pushed: Array[Filter],
                      lsnLo: Long, lsnHi: Long, vectorized: Boolean,
                      options: Map[String, String] = Map.empty,
                      planRepoEq: Option[Set[String]] = None,
                      planPathEq: Option[Set[String]] = None,
                      planValEq: Map[String, Set[String]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  // snapshot-stored paths are root-relative (relocatable tables)
  private def resolve(p: String): String = graft.table.LakeTable.resolveUnder(root, p)

  /** RUNTIME filtering (dynamic "partition" pruning for joins): when this
    * scan joins a broadcast-able side on the key columns, Spark executes
    * the build side first and hands the observed key values here as IN/=
    * filters — they narrow the same repo/path equality sets plan-time
    * pushdown uses, so a `fact JOIN dim ON fact.repo = dim.repo` reads
    * only the files whose repo range intersects the dim's repos (and a
    * key-equality join prunes to the matching buckets). Everything stays
    * residual; skipped files cannot hold a surviving row (see liveFiles).
    */
  @volatile private var runtimeRepoEq: Option[Set[String]] = None
  @volatile private var runtimePathEq: Option[Set[String]] = None
  private def both(a: Option[Set[String]], b: Option[Set[String]]): Option[Set[String]] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(x intersect y)
      case _ => a.orElse(b)
    }
  private def repoEq: Option[Set[String]] = both(planRepoEq, runtimeRepoEq)
  private def pathEq: Option[Set[String]] = both(planPathEq, runtimePathEq)

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns present in the PRUNED output — the planner resolves
    // these against the scan's readSchema and throws on absent ones
    Seq("repo", "path").filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case EqualTo("repo", v: String) => runtimeRepoEq = both(runtimeRepoEq, Some(Set(v)))
    case EqualTo("path", v: String) => runtimePathEq = both(runtimePathEq, Some(Set(v)))
    case In("repo", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      runtimeRepoEq = both(runtimeRepoEq, Some(vs.map(_.asInstanceOf[String]).toSet))
    case In("path", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      runtimePathEq = both(runtimePathEq, Some(vs.map(_.asInstanceOf[String]).toSet))
    case _ => () // unusable runtime filter: no pruning, never wrong results
  }
  override def readSchema(): StructType = required

  /** BATCH `changeTypes` (table_changes through SQL/DataFrame reads): the
    * commit-time CDF sidecars make batch typed-change scans servable —
    * every change row in the pushed lsn range, with `_change_type`, at
    * O(changes) IO. Requires the feed to COVER the requested range (the
    * sidecars are the only holders of per-commit change history; below
    * the floor we fail loudly rather than serve reconstructed-wrong
    * types). The range comes from pushdown — `WHERE lsn > x [AND lsn <=
    * y]` — so `spark.read.format("graft").option("changeTypes", "true")
    * .load(root).where($"lsn" > cursor)` is the whole consumer story.
    */
  private def batchChanges: Boolean = options.get("changetypes").exists(GraftConf.flag("changeTypes", _))
  /** live-row scans serve tombstone rows iff the read asked for them
    * (`changeFeed`) — never inferred from the pruned column set, so a
    * projection that drops `deleted` cannot change the row count
    */
  private def keepDeleted: Boolean = options.get("changefeed").exists(GraftConf.flag("changeFeed", _))
  /** (lo exclusive, hi inclusive] for the sidecar planning */
  private def changesLo: Long = if (lsnLo == Long.MinValue) 0L else lsnLo - 1

  override def toBatch: Batch = {
    if (batchChanges) {
      require(snap.cdfSinceLsn >= 0,
        "graft: batch changeTypes needs the change data feed enabled " +
          "(TBLPROPERTIES('cdf'='true') / enableChangeDataFeed); the streaming tail " +
          "can approximate pre-CDF history via its bucket walk")
      require(changesLo >= snap.cdfSinceLsn,
        s"graft: the feed covers lsn (${snap.cdfSinceLsn}, ${snap.hwm}] but the scan asks " +
          s"from ${changesLo + 1} — filter `lsn > ${snap.cdfSinceLsn}` or re-enable from earlier")
    }
    this
  }

  // does any bucket need an in-reader latest-per-key resolve?
  private lazy val needResolve = snap.files.groupBy(_.bucket).values.exists(GraftScan.stacked(snap, _))

  /** Key-hash BUCKET pruning: when both key columns are equality-bound,
    * every candidate row lives in the bucket(s) of the bound (repo, path)
    * pairs — the same pmod(xxhash64) layout the merge prunes by
    * (LakeTable.bucketCol); other buckets cannot hold the key. Evaluates
    * Spark's own XxHash64 expression so the hash can never drift from the
    * write side. Capped at 1024 pairs (an IN-list cross product beyond
    * that isn't a point lookup anymore).
    */
  // NOT a lazy val (runtime filters can narrow the sets after planning)
  // but memoized on the current equality-set state: Spark touches the
  // plan several times per query (statistics, columnar probe, pre- and
  // post-filter partition planning) and the 1024-pair hash cross product
  // should not recompute on each
  @volatile private var bucketsMemo: ((Option[Set[String]], Option[Set[String]]), Option[Set[Int]]) = null
  private def prunedBuckets: Option[Set[Int]] = {
    val key = (repoEq, pathEq)
    val m = bucketsMemo
    if (m != null && m._1 == key) m._2
    else {
      val v = key match {
        case (Some(rs), Some(ps)) if rs.size.toLong * ps.size <= 1024 =>
          Some(for { r <- rs; p <- ps }
            yield graft.table.LakeTable.bucketOf(r, p, snap.nBuckets))
        case _ => None
      }
      bucketsMemo = (key, v)
      v
    }
  }

  /** repo-range file skipping on the snapshot's per-file repo min/max
    * (UTF-8 byte order, same as the parquet stats they came from); files
    * whose footer carried no repo stats are kept.
    */
  private def repoMayMatch(f: FileEntry, rs0: Option[Set[String]]): Boolean = rs0 match {
    case Some(rs) if f.minRepo != null && f.maxRepo != null =>
      rs.exists(r => graft.table.LakeTable.utf8Cmp(r, f.minRepo) >= 0 &&
        graft.table.LakeTable.utf8Cmp(r, f.maxRepo) <= 0)
    case _ => true
  }

  /** path-range file skipping — the same argument as repo skipping, for
    * path-ONLY predicates (`WHERE path = 'README.md'` across repos, the
    * "find this file everywhere" query, which binds no bucket and no repo
    * range): value-based parquet stats, conservative under nulls, safe
    * under the MOR resolve because path ranges partition by KEY — a
    * skipped file holds no version of any matching key.
    */
  private def pathMayMatch(f: FileEntry, ps0: Option[Set[String]]): Boolean = ps0 match {
    case Some(ps) if f.minPath != null && f.maxPath != null =>
      ps.exists(p => graft.table.LakeTable.utf8Cmp(p, f.minPath) >= 0 &&
        graft.table.LakeTable.utf8Cmp(p, f.maxPath) <= 0)
    case _ => true
  }

  /** File-level data skipping on the snapshot's per-file lsn stats.
    * With un-compacted MOR buckets, UPPER-bound skipping is disabled:
    * dropping the file holding a key's latest version would resurrect an
    * older version whose lsn PASSES the residual `lsn <= hi` filter (it is
    * effectively time travel). Lower-bound skipping stays safe everywhere —
    * a fake winner surfaced by dropping older files always FAILS the
    * residual `lsn >= lo` re-filter, so results never change.
    *
    * Bucket pruning and repo-range skipping are safe even UNDER the MOR
    * resolve (unlike the lsn upper bound): a skipped file holds NO row of
    * any bound key — bucket layout and repo ranges partition by KEY, so
    * every version of a matching key is in the surviving files and its
    * winner is computed over its complete history; winners of NON-matching
    * keys may go stale, but those rows fail the residual key re-filter.
    */
  private def liveFiles = {
    val pb = prunedBuckets // bind once — recomputing the cross product per file would be O(files × pairs)
    val re = repoEq
    val pe = pathEq
    keyEvidenceGate(snap.files.filter(f =>
      pb.forall(_.contains(f.bucket)) &&
      repoMayMatch(f, re) &&
      pathMayMatch(f, pe) &&
      f.maxLsn >= lsnLo && (needResolve || f.minLsn <= lsnHi)))
  }

  /** KEY-EVIDENCE file skipping: for equality-bound key predicates, probe
    * each surviving candidate file's per-rowgroup membership witnesses
    * (bloom filter, or the dictionary page itself for fully dict-encoded
    * chunks — see `GraftScan.KeyEv`) and drop files that provably hold NO
    * row of any bound value. Sound under the MOR resolve by the same
    * argument as repo-range skipping: a dropped file holds no version of
    * any MATCHING key, so every matching key's history stays complete;
    * stale winners of non-matching keys fail the residual re-filter. This
    * is what makes a point lookup on an un-compacted delta chain
    * O(commits touching the key) instead of O(chain): min/max key ranges
    * of small random batches span the bucket, membership evidence does
    * not. Caps: ≤ 64 bound values per column and ≤
    * `spark.graft.bloom.scan.maxFiles` (default 1024) candidates — beyond
    * that it is not a point lookup and driver-side footer probing (one
    * open per file per process, LRU-cached) would not pay for itself.
    */
  @volatile private var lastKeySkipped = 0
  private lazy val hconf =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
  private def keyEvidenceGate(cands: Seq[FileEntry]): Seq[FileEntry] = {
    val re = repoEq
    val pe = pathEq
    val ve = planValEq
    if (re.isEmpty && pe.isEmpty && ve.isEmpty) return cands
    if ((Seq(re, pe).flatten ++ ve.values).exists(_.size > 64)) return cands
    val sess = org.apache.spark.sql.SparkSession.active
    if (!GraftConf.bool(sess, "spark.graft.bloom.scan.enabled").getOrElse(true)) return cands
    val cap = GraftConf.int(sess, "spark.graft.bloom.scan.maxFiles").getOrElse(1024)
    if (cands.size > cap) return cands
    // VALUE-column evidence (contentSha, lang, commit, payload columns) is
    // only sound where the layout is RESOLVED: under a multi-file MOR
    // chain, dropping the file holding a key's LATEST version would
    // resurrect an older version of that key whose value PASSES the
    // residual filter (the lsn-upper-bound trap). Key evidence never has
    // this problem (it partitions by key). A MOR bucket is resolved iff
    // all its candidate files come from ONE commit (a single write —
    // batch-resolved, sub-splits key-disjoint); CoW is always
    // single-commit per bucket, and DV masks dead positions by sidecar
    // independently of file pruning, so both are always safe.
    val bucketResolved: Map[Int, Boolean] =
      if (ve.isEmpty) Map.empty
      else cands.groupBy(_.bucket).view.mapValues(fs => !GraftScan.stacked(snap, fs)).toMap
    def valueSafe(f: FileEntry): Boolean = bucketResolved.getOrElse(f.bucket, true)
    val vCols = ve.keys.toSeq.sorted
    val evCols = Seq("repo", "path") ++ vCols
    // footer opens are independent IO — parallel collection, like fileStats
    import scala.collection.parallel.CollectionConverters._
    val surviving = cands.par.filter { f =>
      val ev = GraftScan.keyEvidenceFor(resolve(f.path), hconf, evCols)
      val rEvs = ev.getOrElse("repo", IndexedSeq(GraftScan.NoEv))
      val pEvs = ev.getOrElse("path", IndexedSeq(GraftScan.NoEv))
      val vEvs = vCols.map(c => c -> ev.getOrElse(c, IndexedSeq(GraftScan.NoEv)))
      val vOk = ve.nonEmpty && valueSafe(f)
      val groups = (Seq(rEvs.size, pEvs.size) ++ vEvs.map(_._2.size)).max
      (0 until groups).exists { i =>
        re.forall(GraftScan.evMayContain(rEvs.lift(i).getOrElse(GraftScan.NoEv), _)) &&
        pe.forall(GraftScan.evMayContain(pEvs.lift(i).getOrElse(GraftScan.NoEv), _)) &&
        (!vOk || vEvs.forall { case (c, evs) =>
          GraftScan.evMayContain(evs.lift(i).getOrElse(GraftScan.NoEv), ve(c)) })
      }
    }.seq
    lastKeySkipped = cands.size - surviving.size
    surviving
  }

  override def description(): String = {
    val total = snap.files.size
    s"graft v${snap.version} files=${liveFiles.size}/$total keySkipped=$lastKeySkipped " +
      s"dvFiles=${snap.dvFiles.size} " +
      s"PushedFilters: [${pushed.mkString(", ")}], ReadSchema: ${required.catalogString}"
  }

  /** Post-pushdown stats from snapshot metadata only (no file IO): row
    * count = stored rows of the files surviving the lsn skip, minus
    * DV-dead positions — an upper bound under a residual filter, exactly
    * what Catalyst expects from a scan estimate. Feeds join-strategy
    * choices (broadcast thresholds) for external SQL over the source; the
    * engine's analogue of the reference's ANALYZE-backed planner stats
    * (docs/database.md:374-381).
    */
  override def estimateStatistics(): Statistics = {
    if (batchChanges) {
      val rows = snap.cdfFiles.filter(f => f.maxLsn > changesLo && f.minLsn <= lsnHi)
        .map(_.rows).sum
      val width = required.fields.map(_.dataType.defaultSize + 8).sum.toLong
      return new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(rows * math.max(width, 1L))
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      }
    }
    // DV-dead rows are spread across the whole table; against an
    // lsn-PRUNED subset subtract only the proportional share (subtracting
    // the table-wide count could report 0 rows for a subset and trick the
    // planner into broadcasting a large scan)
    val subset = liveFiles.map(_.rows).sum
    val dead = if (snap.totalRows > 0) snap.dvRows * subset / snap.totalRows else 0L
    val rows = math.max(0L, subset - dead)
    val width = required.fields.map(_.dataType.defaultSize + 8).sum.toLong
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * math.max(width, 1L))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  // columnar (vectorized) vs row readers can differ per partition:
  // resolve partitions are row-based, plain file partitions columnar
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED

  /** DV sidecars grouped by target bucket (both DV writers partition them
    * under `c<N>/dv/b=<k>/`)
    */
  private lazy val dvByBucket: Map[Int, Seq[String]] =
    snap.dvFiles.groupBy(GraftScan.dvBucketOf)
  private def sidecarsFor(bucket: Int): Seq[String] =
    dvByBucket.getOrElse(bucket, Nil).map(resolve)

  /** STORAGE-PARTITIONED JOIN support: live-row scans are key-grouped by
    * bucket — every partition this scan plans (per-file CoW/DV, per-bucket
    * MOR resolve, key-range splits of a wide bucket) holds rows of exactly
    * one bucket and carries that id as its partition key. Under
    * `spark.sql.sources.v2.bucketing.enabled`, Spark groups same-key
    * partitions into one task and elides the Exchange on BOTH sides of an
    * equi-join of two graft tables with the same bucket count, turning
    * snapshot-vs-snapshot joins into per-bucket zipped reads — the
    * difference between shuffling 2×100 TB and shuffling nothing. The conf
    * is deliberately left at Spark's default (off) otherwise, so plain
    * scans keep one task per FILE rather than one per bucket.
    *
    * Spark 4.1's SPJ accepts only single-column-reference partition
    * expressions (`KeyGroupedPartitioning.supportsExpressions` rejects a
    * transform with more than one child), so the two-column layout hash
    * `bucket(n, repo, path)` cannot key the partitioning directly. The
    * bucket id is therefore exposed as the `_bucket` METADATA column
    * (stamped per task, never stored), the partitioning is
    * `identity(_bucket)`, and a zero-shuffle join includes the no-op
    * conjunct `a._bucket = b._bucket` in its ON clause. Reported only when
    * `_bucket` was actually read and the scan serves live rows (a
    * typed-changes scan partitions by SIDECAR, not bucket); everything
    * else falls back to unknown partitioning, never an error.
    */
  override def outputPartitioning(): Partitioning =
    if (!batchChanges && required.fieldNames.contains("_bucket"))
      new KeyGroupedPartitioning(
        Array[V2Expression](Expressions.identity("_bucket")), snap.nBuckets)
    else new UnknownPartitioning(0)

  override def planInputPartitions(): Array[InputPartition] = {
    // batch typed changes: one partition per sidecar intersecting the
    // pushed lsn range — data files never open (key-equality pruning is
    // irrelevant here; residual filters re-apply row-wise as everywhere)
    if (batchChanges)
      return ChangeFeed.sidecarsIn(snap, changesLo, lsnHi)
        .map(f => GraftRangePartition(resolve(f.path), changesLo, lsnHi): InputPartition)
        .toArray
    // Plan-time work is pure metadata: file lists and sidecar PATHS only.
    // DV positions are loaded inside the partition readers (executor-side),
    // so driver memory is independent of dvRows.
    val byBucket = liveFiles.groupBy(_.bucket)
    byBucket.toSeq.sortBy(_._1).flatMap { case (bucket, files) =>
      if (GraftScan.stacked(snap, files)) {
        // un-compacted MergeOnRead bucket: readers resolve latest-per-key
        // across the bucket's delta files (snapshot order = commit order).
        // All files (repo,path)-sorted → streaming k-way merge, O(files)
        // memory; any unsorted file (DV merges, clustered compaction) →
        // hash-map fallback.
        // A WIDE sorted bucket additionally splits into multiple tasks by
        // KEY RANGE (ranges partition the key space, so every key's full
        // history resolves in exactly one task; each task's cursors skip
        // rowgroups outside its range via footer stats) — an external SQL
        // read of a live multi-TB MOR table is no longer one-task-per-
        // bucket (round-3 VERDICT "Wrong" #3, second half).
        val paths = files.map(f => resolve(f.path))
        val sortedAll = files.forall(_.sorted)
        val splits = if (sortedAll) splitKeysFor(files) else Nil
        if (splits.isEmpty)
          Seq(GraftInputPartition(paths, Nil, resolveLatest = true, sortedResolve = sortedAll,
            bucket = bucket))
        else (0 to splits.size).map { i =>
          val (loR, loP) = if (i == 0) (null: String, null: String) else splits(i - 1)
          val (hiR, hiP, bounded) =
            if (i < splits.size) (splits(i)._1, splits(i)._2, true) else (null, null, false)
          GraftInputPartition(paths, Nil, resolveLatest = true, sortedResolve = true,
            range = Some(GraftKeyRange(loR, loP, hiR, hiP, bounded)), bucket = bucket)
        }
      } else {
        // FEWER, LARGER scan tasks (guide §2.2/§6): resolved files of one
        // bucket BIN-PACK into shared partitions up to
        // `spark.graft.scan.packRows` stored rows (default 512k) — the
        // Iceberg/Delta scan-task packing shape. Task count then tracks
        // data volume, not commit count: a fleet table whose bucket holds
        // 40 small commit files costs ~1 task, while a single large file
        // (≥ the cap) keeps its own partition, so wide tables keep full
        // parallelism. Bucket boundaries are never crossed (each partition
        // must hold exactly one bucket — the SPJ partition-key contract),
        // and snapshot file order is preserved within a pack.
        // the read option wins over the session conf; a malformed value
        // fails the same way on both paths, naming its key
        val cap = options.get("packrows")
          .map(GraftConf.parse("packRows", _, "a row count")(_.toLongOption))
          .orElse(SparkSession.getActiveSession.flatMap(GraftConf.long(_, "spark.graft.scan.packRows")))
          .getOrElse(512L * 1024)
        val packs = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer[FileEntry]())
        var rows = 0L
        files.foreach { f =>
          if (packs.last.nonEmpty && rows + f.rows > cap) {
            packs += scala.collection.mutable.ArrayBuffer[FileEntry]()
            rows = 0L
          }
          packs.last += f
          rows += f.rows
        }
        packs.filter(_.nonEmpty).map(g =>
          GraftInputPartition(g.map(f => resolve(f.path)).toSeq, sidecarsFor(bucket),
            resolveLatest = false, bucket = bucket))
      }
    }.map(p => p: InputPartition).toArray
  }

  /** Split keys for a WIDE sorted MOR bucket (stored rows above the
    * `wideBucketRows` option, default 8M): sampled from the LARGEST delta
    * file's rowgroup boundary stats — one footer read per wide bucket at
    * plan time, no data IO. Any key values work as split points (ranges
    * are half-open and partition the key space); rowgroup starts give
    * roughly row-balanced ranges for free.
    */
  // memoized per wide bucket (keyed on its largest file): Spark plans the
  // partitions more than once per query (pre- and post-runtime-filter) and
  // the footer read should happen once, not per planning pass
  private val splitMemo = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def splitKeysFor(files: Seq[FileEntry]): Seq[(String, String)] = {
    val threshold = options.get("widebucketrows")
      .map(GraftConf.positiveLong("wideBucketRows", _)).getOrElse(8L * 1000 * 1000)
    // FileEntry.rows is per-file; the bucket's stored size is their sum
    val bucketRows = files.map(_.rows).sum
    if (bucketRows <= threshold) return Nil
    val targetParts = math.min(64L, (bucketRows + threshold - 1) / threshold).toInt
    val big = files.maxBy(_.rows)
    val cached = splitMemo.get(big.path)
    if (cached != null) return cached
    val reader = graft.table.LakeTable.openParquet(resolve(big.path), hconf)
    try {
      val blocks = reader.getFooter.getBlocks
      val starts = (0 until blocks.size()).flatMap { i =>
        val blk = blocks.get(i)
        var repo: String = null; var path: String = null
        (0 until blk.getColumns.size()).foreach { c =>
          val col = blk.getColumns.get(c)
          val name = col.getPath.toDotString
          if ((name == "repo" || name == "path") && col.getStatistics != null &&
              col.getStatistics.hasNonNullValue) {
            col.getStatistics.genericGetMin match {
              case mn: org.apache.parquet.io.api.Binary =>
                if (name == "repo") repo = mn.toStringUsingUTF8 else path = mn.toStringUsingUTF8
              case _ => ()
            }
          }
        }
        if (repo != null && path != null) Some((repo, path)) else None
      }
      val splits =
        if (starts.size < 2) Nil
        else {
          // every k-th rowgroup start (skip the first — it is the range floor)
          val step = math.max(1, starts.size / targetParts)
          val picked = starts.zipWithIndex.collect { case (s, i) if i > 0 && i % step == 0 => s }.distinct
          // split points MUST ascend: rowgroup stat composites (repoMin,
          // pathMin) are conservative, not monotonic (a block's path-min spans
          // all its repos), and unsorted points would make consecutive ranges
          // OVERLAP — two tasks would both emit the keys in the inverted span
          // (duplicate rows). Sorted arbitrary values are always valid points.
          picked.sortWith { case ((r1, p1), (r2, p2)) =>
            val c = graft.table.LakeTable.utf8Cmp(r1, r2)
            if (c != 0) c < 0 else graft.table.LakeTable.utf8Cmp(p1, p2) < 0
          }
        }
      splitMemo.put(big.path, splits)
      splits
    } finally reader.close()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(hconf)
    // COLUMN MAPPING: `required` carries logical names; files store
    // physical ones. InternalRows are positional, so translating the
    // requested field names here is the whole read-side story — Spark
    // consumes the rows under readSchema()'s logical names.
    val physRequired =
      if (snap.renames.isEmpty) required
      else StructType(required.fields.map(f => f.copy(name = snap.physicalOf(f.name))))
    // sidecar partitions use the tail's range reader — same files, same
    // reader, batch plan
    if (batchChanges) new GraftStreamReaderFactory(physRequired, conf)
    else {
      // Spark forbids MIXED row/columnar partitions in one scan even under
      // ColumnarSupportMode.PARTITION_DEFINED (DataSourceV2ScanExecBase
      // requires uniformity) — a PARTIALLY-compacted MoR table would plan
      // resolve (row) partitions for its multi-file buckets and columnar
      // ones for its single-file buckets and crash at planning. Decide
      // ONCE per scan from snapshot metadata (stable across the multiple
      // planning passes): any stacked bucket ⇒ the whole scan reads
      // row-based. Fully-compacted / CoW / DV layouts keep vectorization.
      val allPlain = !snap.files.groupBy(_.bucket).values.exists(GraftScan.stacked(snap, _))
      // slots of the synthetic metadata columns (a stored column of the
      // same name wins, as Spark resolves it)
      val stored = snap.logicalSchema.fieldNames.toSet
      def slot(n: String) = if (stored(n)) -1 else physRequired.fieldNames.indexOf(n)
      // the conf is broadcast, as Spark's file scans do: every task
      // deserialises its closure, and a Hadoop conf inside it cost each
      // task ~20 ms
      new GraftReaderFactory(physRequired, SparkSession.active.sparkContext.broadcast(conf),
        vectorized && allPlain,
        GraftScan.MetaCols(slot("_bucket"), slot("_file"), slot("_pos")), keepDeleted = keepDeleted)
    }
  }

  /** `spark.readStream.format("graft")` — the incremental CDC tail over
    * this table (see GraftMicroBatchStream).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(root, required, options)
}

object GraftScan {
  /** Slots of the synthetic metadata columns in a reader's row (-1 = not
    * read): `_bucket` is the task's constant bucket id, `_file` the row's
    * root-relative data file, `_pos` its position in that file. None of
    * them is stored; readers fill them only when asked.
    */
  final case class MetaCols(bucket: Int = -1, file: Int = -1, pos: Int = -1)

  /** Does this bucket's file set need the latest-per-key resolve? Only a
    * MergeOnRead bucket whose files come from MORE than one commit: every
    * write emits key-unique rows per commit per bucket (within-batch dedup
    * on merges, rewrites resolved by construction, one key in exactly one
    * task's file under sub-splitting), so a single commit's files — the
    * steady state right after compact() — cannot hold two versions of a
    * key and read plain (resolve elision).
    */
  def stacked(snap: Snapshot, files: Seq[FileEntry]): Boolean =
    snap.mode == "mor" && files.iterator.map(f => commitDirOf(f.path)).distinct.size > 1

  /** the commit directory a data file was written under (`.../c<N>-<token>`) */
  private def commitDirOf(p: String): String = {
    val i = p.indexOf("/b=")
    if (i >= 0) p.substring(0, i) else p
  }

  def relPath(p: String): String = {
    val i = p.lastIndexOf("/data/")
    if (i >= 0) p.substring(i + 1) else p
  }

  // ---- per-file KEY MEMBERSHIP EVIDENCE (bloom / dictionary) ------------

  /** One rowgroup's membership witness for a key column: a parquet bloom
    * filter (written by `LakeTable.dataWrite` for chunks too large to stay
    * dictionary-encoded), the decoded dictionary page itself (EXACT — a
    * fully dict-encoded chunk's every value is in the dictionary; the
    * parquet-mr DictionaryFilter argument), or nothing (pre-feature file,
    * bloom disabled, plain-encoded chunk) in which case the file is kept.
    */
  sealed trait KeyEv
  final case class BloomEv(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter) extends KeyEv
  final case class DictEv(values: Set[String]) extends KeyEv
  case object NoEv extends KeyEv

  /** evidence per key column name, one entry per rowgroup */
  type FileEvidence = Map[String, IndexedSeq[KeyEv]]

  // data files are immutable once committed (commit dirs are
  // version+token-unique, never rewritten in place), so evidence keyed by
  // absolute path can never go stale — a plain LRU bounds driver memory
  private val evidenceCache =
    new java.util.LinkedHashMap[String, FileEvidence](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, FileEvidence]): Boolean =
        size() > 1024
    }

  private[graft] def evidenceCacheSize: Int = evidenceCache.synchronized(evidenceCache.size())

  /** driver-side, one footer open per file per requested-column set
    * (cached; a later query binding a NEW value column loads just the
    * missing columns and merges); any read failure degrades to "no
    * evidence" = keep the file
    */
  private[graft] def keyEvidenceFor(abs: String, conf: Configuration,
      cols: Seq[String] = Seq("repo", "path", "contentSha")): FileEvidence = {
    val cached = evidenceCache.synchronized(Option(evidenceCache.get(abs)))
    cached match {
      case Some(hit) if cols.forall(hit.contains) => return hit
      case _ => ()
    }
    val missing = cached.fold(cols)(hit => cols.filterNot(hit.contains))
    val (fresh, loadOk) =
      try (loadEvidence(abs, conf, missing), true)
      catch { case scala.util.control.NonFatal(_) =>
        (missing.map(_ -> IndexedSeq[KeyEv](NoEv)).toMap, false) }
    // merge under ONE synchronized block against the CURRENT cache value —
    // the stale-read-then-put of the old shape could drop a column set a
    // concurrent scan just loaded; and a TRANSIENT footer-read failure is
    // returned degraded but NOT cached, so the next scan retries instead
    // of pinning "no evidence" for the process lifetime (round-8, r7
    // advisor findings)
    evidenceCache.synchronized {
      val cur = Option(evidenceCache.get(abs)).getOrElse(Map.empty)
      val merged = cur ++ fresh.filterNot { case (k, _) => cur.contains(k) }
      if (loadOk) evidenceCache.put(abs, merged)
      merged
    }
  }

  private def loadEvidence(abs: String, conf: Configuration,
      cols: Seq[String]): FileEvidence = {
    val r = graft.table.LakeTable.openParquet(abs, conf)
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      cols.map { name =>
        name -> (0 until blocks.size()).map[KeyEv] { bi =>
          val blk = blocks.get(bi)
          (0 until blk.getColumns.size()).map(blk.getColumns.get(_))
            .find(_.getPath.toDotString == name) match {
            case None => NoEv
            case Some(cc) =>
              val bf =
                try r.getBloomFilterDataReader(blk).readBloomFilter(cc)
                catch { case scala.util.control.NonFatal(_) => null }
              if (bf != null) BloomEv(bf)
              else {
                val es = cc.getEncodingStats
                if (es == null || !es.hasDictionaryPages || es.hasNonDictionaryEncodedPages) NoEv
                else {
                  val store: org.apache.parquet.column.page.DictionaryPageReadStore =
                    r.getDictionaryReader(blk)
                  val page = store.readDictionaryPage(schema.getColumnDescription(Array(name)))
                  if (page == null) NoEv
                  else {
                    val d = page.getEncoding.initDictionary(
                      schema.getColumnDescription(Array(name)), page)
                    DictEv((0 to d.getMaxId).map(i => d.decodeToBinary(i).toStringUsingUTF8).toSet)
                  }
                }
              }
          }
        }
      }.toMap
    } finally r.close()
  }

  private[graft] def evMayContain(ev: KeyEv, vals: Set[String]): Boolean = ev match {
    case BloomEv(bf) =>
      vals.exists(v => bf.findHash(bf.hash(org.apache.parquet.io.api.Binary.fromString(v))))
    case DictEv(s) => vals.exists(s)
    case NoEv => true
  }

  /** target bucket of a DV sidecar, parsed from its `dv/b=<k>/` layout
    * directory (both DV writers partition sidecars by bucket)
    */
  def dvBucketOf(path: String): Int =
    "/dv/b=(\\d+)/".r.findFirstMatchIn(path).map(_.group(1).toInt).getOrElse(
      throw new IllegalStateException(s"DV sidecar $path is not under a dv/b=<k>/ directory"))

  /** EXECUTOR-side load of one file's dead positions from its bucket's DV
    * sidecars: scan the sidecars (small — bounded by the table's
    * dv-fraction compaction policy) keeping only rows whose file_path is
    * this reader's file. Returned SORTED: scans consume file ordinals in
    * ascending order, so membership is a monotone pointer walk — no boxing,
    * no hashing in the per-row hot path.
    */
  /** Executor-side LRU of one DV sidecar file's positions GROUPED BY data
    * file (round-8): every task of a bucket's scan used to re-open and
    * re-decode the same sidecars (per-file partitions × per-bucket
    * sidecars = quadratic sidecar decodes per scan). Sidecar files live
    * under token-stamped attempt-scoped commit dirs — immutable, so
    * entries never go stale; the LRU bounds memory and positions are
    * bounded by the dv-fraction compaction policy anyway.
    */
  private val dvSidecarCache =
    new java.util.LinkedHashMap[String, Map[String, Array[Long]]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, Array[Long]]]): Boolean = size() > 128
    }

  /** one sidecar file decoded fully, positions grouped by root-relative
    * data-file path (each group sorted — input is written sorted by
    * (file_path, row_index))
    */
  private def sidecarPositions(f: String, conf: Configuration): Map[String, Array[Long]] = {
    dvSidecarCache.synchronized {
      val hit = dvSidecarCache.get(f)
      if (hit != null) return hit
    }
    val byFile = scala.collection.mutable.Map[String, scala.collection.mutable.ArrayBuilder.ofLong]()
    val reader = graft.table.LakeTable.openParquet(f, conf)
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val columnIO = new ColumnIOFactory().getColumnIO(fileSchema)
      val blocks = reader.getFooter.getBlocks
      var bi = 0
      while (bi < blocks.size()) {
        val pages = reader.readNextRowGroup()
        val rr = columnIO.getRecordReader(pages, new GroupRecordConverter(fileSchema))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = rr.read()
          byFile.getOrElseUpdate(relPath(g.getString("file_path", 0)),
            new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong("row_index", 0)
          i += 1
        }
        bi += 1
      }
    } finally reader.close()
    val built = byFile.map { case (k, v) =>
      val arr = v.result(); java.util.Arrays.sort(arr); k -> arr
    }.toMap
    dvSidecarCache.synchronized { dvSidecarCache.put(f, built) }
    built
  }

  def deadPositionsFor(dataFile: String, sidecars: Seq[String],
                       conf: Configuration): Array[Long] = {
    val mine = relPath(dataFile)
    val parts = sidecars.flatMap(f => sidecarPositions(f, conf).get(mine))
    parts.size match {
      case 0 => Array.emptyLongArray
      case 1 => parts.head
      case _ =>
        val arr = Array.concat(parts: _*)
        java.util.Arrays.sort(arr)
        arr
    }
  }
}

/** Half-open (repo, path) key range [lo, hi); hi absent = unbounded.
  * Comparison is UTF8String byte order — the order sorted files are
  * written in. Used to split WIDE un-compacted MOR buckets into multiple
  * scan tasks: ranges partition the key space, so every key's full
  * version history lands in exactly one task and resolves completely.
  */
final case class GraftKeyRange(loRepo: String, loPath: String,
                               hiRepo: String, hiPath: String, bounded: Boolean) {
  private def cmp(r1: String, p1: String, r2: String, p2: String): Int = {
    val c = graft.table.LakeTable.utf8Cmp(r1, r2)
    if (c != 0) c else graft.table.LakeTable.utf8Cmp(p1, p2)
  }
  /** key strictly below lo? */
  def belowLo(repo: String, path: String): Boolean =
    loRepo != null && cmp(repo, path, loRepo, loPath) < 0
  /** key at or above hi? (false when unbounded) */
  def atOrAboveHi(repo: String, path: String): Boolean =
    bounded && cmp(repo, path, hiRepo, hiPath) >= 0
  def contains(repo: String, path: String): Boolean =
    !belowLo(repo, path) && !atOrAboveHi(repo, path)
}

/** One scan task: `files` to read (one file normally; a whole bucket's
  * delta files when `resolveLatest`), plus the DV sidecar PATHS that may
  * hold dead positions for those files. Carries no row data and no
  * positions — serialized task size is O(paths). `range` splits a wide
  * sorted bucket's resolve across tasks by key range.
  */
final case class GraftInputPartition(files: Seq[String], dvSidecars: Seq[String],
                                     resolveLatest: Boolean,
                                     sortedResolve: Boolean = false,
                                     range: Option[GraftKeyRange] = None,
                                     /** the one key-bucket this task's rows
                                       * belong to — the partition key behind
                                       * storage-partitioned joins
                                       */
                                     bucket: Int = -1)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](bucket))
}

final class GraftReaderFactory(required: StructType,
                               conf: org.apache.spark.broadcast.Broadcast[SerializableConfiguration],
                               vectorized: Boolean,
                               /** slots of the metadata columns in `required`:
                                 * never stored in parquet; `_bucket` is stamped
                                 * per task from its partition's bucket id,
                                 * `_file`/`_pos` per row by the cursors
                                 */
                               meta: GraftScan.MetaCols = GraftScan.MetaCols(),
                               /** serve tombstone rows (`changeFeed` reads) */
                               keepDeleted: Boolean = false) extends PartitionReaderFactory {

  private def hconf: Configuration = conf.value.value

  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && !partition.asInstanceOf[GraftInputPartition].resolveLatest &&
      !keepDeleted && // changeFeed reads take the row path
      required.fields.forall(f => GraftColumnarReader.supportedType(f.dataType))

  /** one partition may carry SEVERAL bin-packed files of a bucket (plan
    * side, guide §2.2/§6); they read sequentially in pack order — each
    * file's reader (and its DV dead-position set) is opened only when the
    * previous file is drained, so peak state stays single-file
    */
  private final class ChainedReader[T](makers: Seq[() => PartitionReader[T]])
      extends PartitionReader[T] {
    private var idx = -1
    private var cur: PartitionReader[T] = _
    override def next(): Boolean = {
      while (true) {
        if (cur != null) {
          if (cur.next()) return true
          cur.close(); cur = null
        }
        idx += 1
        if (idx >= makers.size) return false
        cur = makers(idx)()
      }
      false
    }
    override def get(): T = cur.get()
    override def close(): Unit = { if (cur != null) { cur.close(); cur = null } }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    def one(f: String): PartitionReader[ColumnarBatch] = {
      val dead = GraftScan.deadPositionsFor(f, p.dvSidecars, hconf)
      new GraftColumnarReader(f, required, hconf, dead, meta, p.bucket)
    }
    if (p.files.size == 1) one(p.files.head)
    else new ChainedReader[ColumnarBatch](p.files.map(f => () => one(f)))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    def onePlain(f: String): PartitionReader[InternalRow] = {
      val dead = GraftScan.deadPositionsFor(f, p.dvSidecars, hconf)
      new GraftPartitionReader(f, required, hconf, dead, keepDeleted, meta)
    }
    val inner =
      if (p.resolveLatest && p.sortedResolve)
        new GraftSortedResolveReader(p.files, required, hconf, p.range, keepDeleted, meta)
      else if (p.resolveLatest) new GraftResolveReader(p.files, required, hconf, keepDeleted, meta)
      else if (p.files.size == 1) onePlain(p.files.head)
      else new ChainedReader[InternalRow](p.files.map(f => () => onePlain(f)))
    // `_bucket` requested: the parquet cursors null-fill the absent field;
    // overwrite the slot with the task's constant bucket id
    if (meta.bucket < 0) inner
    else new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val r = inner.get(); r.update(meta.bucket, p.bucket); r
      }
      override def close(): Unit = inner.close()
    }
  }
}

/** Cursor over one parquet file via the parquet-mr example Group API:
  * yields the requested `fields` as an Array[Any] per row (Catalyst value
  * shapes: UTF8String for strings), null-backfilling fields the file
  * predates (additive schema evolution). Exposes the row's ordinal within
  * the file (= `_metadata.row_index`, what DV sidecars key on), and fills
  * the `_file`/`_pos` slots of `meta` with the file and that ordinal.
  */
private[sources] final class GroupRowCursor(path: String, fields: Array[StructField],
                                            conf: Configuration,
                                            /** optional (repo,path) key range [lo, hi):
                                              * rowgroups whose conservative key bounds
                                              * miss it are skipped without decoding
                                              */
                                            range: Option[GraftKeyRange] = None,
                                            meta: GraftScan.MetaCols = GraftScan.MetaCols()) {
  private val reader = graft.table.LakeTable.openParquet(path, conf)
  private val fileSchema: MessageType = reader.getFooter.getFileMetaData.getSchema
  private val present: Seq[String] = fields.map(_.name).filter(fileSchema.containsField).toSeq
  private val projection: MessageType = {
    val types: Seq[org.apache.parquet.schema.Type] =
      present.map(n => fileSchema.getType(fileSchema.getFieldIndex(n)))
    new MessageType(fileSchema.getName, types: _*)
  }
  reader.setRequestedSchema(projection)
  private val fieldIdx: Array[Int] = fields.map(f => present.indexOf(f.name))
  /** the file's PHYSICAL primitive per requested field — after a
    * `widenColumn`, files written before the widening commit hold the
    * narrow type (INT32 under a bigint/double column, FLOAT under double)
    * and must be promoted at decode; files written after hold the wide
    * type. Same per-file promotion Spark's vectorized reader does natively.
    */
  private val phys: Array[org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] =
    fields.map { f =>
      if (!fileSchema.containsField(f.name)) null
      else {
        val t = fileSchema.getType(fileSchema.getFieldIndex(f.name))
        if (t.isPrimitive) t.asPrimitiveType().getPrimitiveTypeName else null
      }
    }

  /** which rowgroups to read: with a key range, a block whose conservative
    * key interval [(minRepo,minPath), (maxRepo,maxPath)] misses [lo, hi)
    * is skipped entirely. The column stats form a VALID enclosing interval
    * for a (repo,path)-sorted block: its first key is ≥ (minRepo,minPath)
    * and its last ≤ (maxRepo,maxPath) even though the path stats span all
    * repos. Blocks without usable stats are read (never skipped).
    */
  private val blockKeep: Array[Boolean] = {
    val blocks = reader.getFooter.getBlocks
    val keep = Array.fill(blocks.size())(true)
    range.foreach { r =>
      var i = 0
      while (i < blocks.size()) {
        val blk = blocks.get(i)
        var minRepo: String = null; var maxRepo: String = null
        var minPath: String = null; var maxPath: String = null
        (0 until blk.getColumns.size()).foreach { c =>
          val col = blk.getColumns.get(c)
          val name = col.getPath.toDotString
          if ((name == "repo" || name == "path") && col.getStatistics != null &&
              col.getStatistics.hasNonNullValue) {
            (col.getStatistics.genericGetMin, col.getStatistics.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
                if (name == "repo") { minRepo = mn.toStringUsingUTF8; maxRepo = mx.toStringUsingUTF8 }
                else { minPath = mn.toStringUsingUTF8; maxPath = mx.toStringUsingUTF8 }
              case _ => ()
            }
          }
        }
        if (minRepo != null && minPath != null)
          keep(i) = !(r.belowLo(maxRepo, maxPath) || r.atOrAboveHi(minRepo, minPath))
        i += 1
      }
    }
    keep
  }
  private var nextBlock = 0

  private var recordReader: org.apache.parquet.io.RecordReader[org.apache.parquet.example.data.Group] = _
  private var rowsLeftInGroup: Long = 0L
  var ordinal: Long = -1L
  val values: Array[Any] = new Array[Any](fields.length)

  private val relFile: UTF8String =
    if (meta.file < 0) null else UTF8String.fromString(GraftScan.relPath(path))

  private def advanceRowGroup(): Boolean = {
    while (nextBlock < blockKeep.length && !blockKeep(nextBlock)) {
      // a skipped rowgroup's rows still count toward the file position
      ordinal += reader.getFooter.getBlocks.get(nextBlock).getRowCount
      reader.skipNextRowGroup()
      nextBlock += 1
    }
    if (nextBlock >= blockKeep.length) return false
    val pages = reader.readNextRowGroup()
    nextBlock += 1
    if (pages == null) false
    else {
      val columnIO = new ColumnIOFactory().getColumnIO(projection, fileSchema)
      recordReader = columnIO.getRecordReader(pages, new GroupRecordConverter(projection))
      rowsLeftInGroup = pages.getRowCount
      true
    }
  }

  /** load the next row into `values`; false at end of file */
  def advance(): Boolean = {
    if (rowsLeftInGroup == 0 && !advanceRowGroup()) return false
    rowsLeftInGroup -= 1
    ordinal += 1
    val g = recordReader.read()
    var i = 0
    while (i < fields.length) {
      val j = fieldIdx(i)
      values(i) =
        if (j < 0 || g.getFieldRepetitionCount(j) == 0) null // evolution gap or null
        else fields(i).dataType match {
          case StringType  => UTF8String.fromString(g.getString(j, 0))
          case LongType    =>
            if (phys(i) == PrimitiveTypeName.INT32) g.getInteger(j, 0).toLong
            else g.getLong(j, 0)
          case IntegerType => g.getInteger(j, 0)
          case DoubleType  => phys(i) match {
            case PrimitiveTypeName.FLOAT => g.getFloat(j, 0).toDouble
            case PrimitiveTypeName.INT32 => g.getInteger(j, 0).toDouble
            case _                       => g.getDouble(j, 0)
          }
          case FloatType   => g.getFloat(j, 0)
          case BooleanType => g.getBoolean(j, 0)
          case other => throw new UnsupportedOperationException(
            s"graft scan: unsupported column type $other for ${fields(i).name}")
        }
      i += 1
    }
    if (meta.file >= 0) values(meta.file) = relFile
    if (meta.pos >= 0) values(meta.pos) = ordinal
    true
  }

  def close(): Unit = reader.close()
}

/** Row-based single-file reader (the non-vectorized path): projection-pruned
  * to the required columns (+ `deleted`, filtered here unless
  * `exposeDeleted`), skipping rows whose file position is marked dead by a
  * deletion vector.
  */
final class GraftPartitionReader(path: String, required: StructType, conf: Configuration,
                                 dead: Array[Long], exposeDeleted: Boolean = false,
                                 meta: GraftScan.MetaCols = GraftScan.MetaCols())
    extends PartitionReader[InternalRow] {

  private val ext: Array[StructField] =
    if (required.fieldNames.contains("deleted")) required.fields
    else required.fields :+ StructField("deleted", BooleanType)
  private val cursor = new GroupRowCursor(path, ext, conf, meta = meta)
  private val deletedIdx = ext.indexWhere(_.name == "deleted")
  private var current: InternalRow = _
  private var dp = 0 // monotone cursor into the sorted dead positions

  override def next(): Boolean = {
    while (cursor.advance()) {
      val del = cursor.values(deletedIdx)
      while (dp < dead.length && dead(dp) < cursor.ordinal) dp += 1
      val dvDead = dp < dead.length && dead(dp) == cursor.ordinal
      // a changeFeed read gets tombstone rows too; DV-dead positions are
      // superseded versions, never served either way
      if (!dvDead && (exposeDeleted || del == null || del == false)) {
        current = new GenericInternalRow(java.util.Arrays.copyOfRange(
          cursor.values.asInstanceOf[Array[AnyRef]], 0, required.length).asInstanceOf[Array[Any]])
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = cursor.close()
}

/** Un-compacted MergeOnRead bucket reader: resolves latest-per-key across
  * the bucket's delta files with a hash map keyed on (repo, path), ordered
  * by (lsn, commit) — ties go to the later delta file. Memory is O(live
  * keys in the bucket); `rebucket()` is the lever that keeps buckets sized
  * to executor memory as the table grows. Tombstone winners are dropped at
  * emit unless `exposeDeleted` (changeFeed reads).
  */
final class GraftResolveReader(files: Seq[String], required: StructType, conf: Configuration,
                               exposeDeleted: Boolean = false,
                               meta: GraftScan.MetaCols = GraftScan.MetaCols())
    extends PartitionReader[InternalRow] {

  // read schema = required ∪ the shared bookkeeping vocabulary; the extras
  // drive the resolve and are dropped from the emitted rows
  private val ext: Array[StructField] = ResolveColumns.extend(required.fields)
  private def idx(n: String): Int = ext.indexWhere(_.name == n)
  private val repoIdx = idx("repo"); private val pathIdx = idx("path")
  private val lsnIdx = idx("lsn"); private val commitIdx = idx("commit")
  private val deletedIdx = idx("deleted")

  private val latest = {
    val m = new java.util.HashMap[(String, String), Array[Any]]()
    files.foreach { f =>
      val cursor = new GroupRowCursor(f, ext, conf, meta = meta)
      try {
        while (cursor.advance()) {
          val v = cursor.values
          val key = (v(repoIdx).toString, v(pathIdx).toString)
          val prev = m.get(key)
          val wins = prev == null || {
            val l = v(lsnIdx).asInstanceOf[Long]; val pl = prev(lsnIdx).asInstanceOf[Long]
            l > pl || (l == pl &&
              v(commitIdx).asInstanceOf[UTF8String].compareTo(prev(commitIdx).asInstanceOf[UTF8String]) >= 0)
          }
          if (wins) m.put(key, v.clone())
        }
      } finally cursor.close()
    }
    m.values().iterator()
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (latest.hasNext) {
      val v = latest.next()
      val del = v(deletedIdx)
      if (exposeDeleted || del == null || del == false) {
        current = new GenericInternalRow(java.util.Arrays.copyOfRange(
          v.asInstanceOf[Array[AnyRef]], 0, required.length).asInstanceOf[Array[Any]])
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Shared bookkeeping-column vocabulary of the resolve/feed readers:
  * the read schema is the required columns EXTENDED with whichever of
  * these the resolve logic needs (dropped again at emit).
  */
private[sources] object ResolveColumns {
  val types: Map[String, org.apache.spark.sql.types.DataType] = Map(
    "repo" -> StringType, "path" -> StringType, "lsn" -> LongType,
    "commit" -> StringType, "deleted" -> BooleanType)
  val names: Seq[String] = Seq("repo", "path", "lsn", "commit", "deleted")
  def extend(base: Array[StructField]): Array[StructField] =
    base ++ names.filterNot(n => base.exists(_.name == n)).map(n => StructField(n, types(n)))
}

/** THE streaming k-way merge over (repo, path)-sorted delta files — the
  * one implementation behind the sorted resolve reader and the typed
  * change feed (one copy of the comparator / cursor / grouping semantics;
  * a tie-break fix cannot silently miss a reader). Memory is O(files):
  * one buffered row (cloned — the parquet cursor reuses its array) per
  * open file, plus the versions of the single key in flight. An optional
  * half-open key range fast-forwards cursors to its floor (rowgroups
  * outside the range are skipped via footer stats) and ends each file at
  * its ceiling. Keys compare in UTF8String binary order — the order
  * Spark's SortExec wrote the files in.
  */
private[sources] final class SortedKeyMerge(files: Seq[String], ext: Array[StructField],
                                            repoIdx: Int, pathIdx: Int,
                                            conf: Configuration, range: Option[GraftKeyRange],
                                            meta: GraftScan.MetaCols = GraftScan.MetaCols()) {
  private val loR = range.flatMap(r => Option(r.loRepo)).map(UTF8String.fromString).orNull
  private val loP = range.flatMap(r => Option(r.loPath)).map(UTF8String.fromString).orNull
  private val hiR = range.filter(_.bounded).map(r => UTF8String.fromString(r.hiRepo)).orNull
  private val hiP = range.filter(_.bounded).map(r => UTF8String.fromString(r.hiPath)).orNull
  private def cmp2(r1: UTF8String, p1: UTF8String, r2: UTF8String, p2: UTF8String): Int = {
    val c = r1.compareTo(r2); if (c != 0) c else p1.compareTo(p2)
  }
  def cmpKey(a: Array[Any], b: Array[Any]): Int =
    cmp2(a(repoIdx).asInstanceOf[UTF8String], a(pathIdx).asInstanceOf[UTF8String],
      b(repoIdx).asInstanceOf[UTF8String], b(pathIdx).asInstanceOf[UTF8String])

  private final class FileCursor(path: String) {
    private val cur = new GroupRowCursor(path, ext, conf, range, meta)
    private var open = true
    var row: Array[Any] = _
    def advance(): Unit = {
      while (open && cur.advance()) {
        val r = cur.values(repoIdx).asInstanceOf[UTF8String]
        val p = cur.values(pathIdx).asInstanceOf[UTF8String]
        if (hiR != null && cmp2(r, p, hiR, hiP) >= 0) { row = null; close(); return }
        if (loR == null || cmp2(r, p, loR, loP) >= 0) { row = cur.values.clone(); return }
        // below lo: keep scanning forward
      }
      row = null; close()
    }
    def close(): Unit = if (open) { open = false; cur.close() }
    advance()
  }
  private val cursors: Array[FileCursor] = files.map(new FileCursor(_)).toArray

  def hasNextKey: Boolean = cursors.exists(_.row != null)

  /** pop ALL versions of the smallest buffered key into `out` as
    * (row, fileIndex) pairs — a file may hold several versions of one key
    */
  def nextKeyVersions(out: scala.collection.mutable.ArrayBuffer[(Array[Any], Int)]): Unit = {
    out.clear()
    // smallest buffered key (linear scan: open files per bucket are few,
    // bounded by maybeCompact's file threshold)
    var min: Array[Any] = null
    var i = 0
    while (i < cursors.length) {
      val r = cursors(i).row
      if (r != null && (min == null || cmpKey(r, min) < 0)) min = r
      i += 1
    }
    if (min == null) return
    i = 0
    while (i < cursors.length) {
      val c = cursors(i)
      while (c.row != null && cmpKey(c.row, min) == 0) {
        out += ((c.row, i))
        c.advance()
      }
      i += 1
    }
  }

  /** MUST be called from the reader's close(): cursors not yet exhausted
    * hold open parquet readers
    */
  def close(): Unit = cursors.foreach(_.close())
}

/** Un-compacted MergeOnRead bucket reader over (repo, path)-SORTED delta
  * files: the SortedKeyMerge resolves latest-per-key in **O(files)
  * memory** instead of the hash-map reader's O(live keys per bucket) —
  * the scale-safe external read path for a live multi-TB MOR bucket
  * (round-3 VERDICT "Wrong" #3). Winner per key = max (lsn, commit),
  * exact ties to the LATER delta file (same contract as the hash-map
  * reader and `LakeTable.latestPerKey`).
  */
final class GraftSortedResolveReader(files: Seq[String], required: StructType, conf: Configuration,
                                     range: Option[GraftKeyRange] = None,
                                     exposeDeleted: Boolean = false,
                                     meta: GraftScan.MetaCols = GraftScan.MetaCols())
    extends PartitionReader[InternalRow] {

  private val ext: Array[StructField] = ResolveColumns.extend(required.fields)
  private def idx(n: String): Int = ext.indexWhere(_.name == n)
  private val lsnIdx = idx("lsn"); private val commitIdx = idx("commit")
  private val deletedIdx = idx("deleted")

  private val merge = new SortedKeyMerge(files, ext, idx("repo"), idx("path"), conf, range, meta)
  private val versions = scala.collection.mutable.ArrayBuffer[(Array[Any], Int)]()

  /** does (a from file ai) beat (b from file bi)? */
  private def wins(a: Array[Any], ai: Int, b: Array[Any], bi: Int): Boolean = {
    val la = a(lsnIdx).asInstanceOf[Long]; val lb = b(lsnIdx).asInstanceOf[Long]
    if (la != lb) la > lb
    else {
      val c = a(commitIdx).asInstanceOf[UTF8String].compareTo(b(commitIdx).asInstanceOf[UTF8String])
      if (c != 0) c > 0 else ai >= bi // exact tie: later delta file
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (merge.hasNextKey) {
      merge.nextKeyVersions(versions)
      var winner: Array[Any] = null; var winnerIdx = -1
      versions.foreach { case (v, i) =>
        if (winner == null || wins(v, i, winner, winnerIdx)) { winner = v; winnerIdx = i }
      }
      val del = winner(deletedIdx)
      if (exposeDeleted || del == null || del == false) {
        current = new GenericInternalRow(java.util.Arrays.copyOfRange(
          winner.asInstanceOf[Array[AnyRef]], 0, required.length).asInstanceOf[Array[Any]])
        return true
      } // tombstone winner: key is dead, merge the next key
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = merge.close()
}

object GraftColumnarReader {
  def supportedType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | BooleanType => true
    case _ => false
  }
}

/** Zero-copy SELECTION view over a decoded vector: row `i` of the view is
  * row `sel(i)` of the source. Serving a batch with dead rows (tombstones /
  * DV hits) costs one int per live row instead of re-copying every value —
  * for string columns that removes the whole byte-copy (the round-3
  * "selection-mask instead of copy" item). The source vectors live until
  * the reader's next batch, which is exactly the lifetime of the view
  * (same contract as the all-live pass-through).
  */
private[sources] final class SelectedColumnVector(dt: org.apache.spark.sql.types.DataType)
    extends ColumnVector(dt) {
  var src: ColumnVector = _
  var sel: Array[Int] = _
  override def close(): Unit = ()
  // conservative: a selection can only drop nulls, and consumers guard
  // per-row isNullAt behind hasNull
  override def hasNull: Boolean = src.hasNull
  override def numNulls(): Int = src.numNulls()
  override def isNullAt(i: Int): Boolean = src.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = src.getBoolean(sel(i))
  override def getByte(i: Int): Byte = src.getByte(sel(i))
  override def getShort(i: Int): Short = src.getShort(sel(i))
  override def getInt(i: Int): Int = src.getInt(sel(i))
  override def getLong(i: Int): Long = src.getLong(sel(i))
  override def getFloat(i: Int): Float = src.getFloat(sel(i))
  override def getDouble(i: Int): Double = src.getDouble(sel(i))
  override def getUTF8String(i: Int): UTF8String = src.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = src.getBinary(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    src.getDecimal(sel(i), p, s)
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    throw new UnsupportedOperationException("graft scan: nested types not supported")
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    throw new UnsupportedOperationException("graft scan: nested types not supported")
  override def getChild(i: Int): ColumnVector =
    throw new UnsupportedOperationException("graft scan: nested types not supported")
}

/** Vectorized single-file reader: Spark's own `VectorizedParquetRecordReader`
  * decodes straight into `ColumnarBatch`es (the same codegen-friendly path
  * `spark.read.parquet` uses — the reference's vectorisation goal,
  * docs/data_layers.md:352-354). Tombstones (`deleted = true`) and DV dead
  * positions are applied per batch: an all-live batch is passed through
  * zero-copy (just re-wrapped to the pruned column set); a batch with dead
  * rows is served through a zero-copy SELECTION view (`SelectedColumnVector`
  * remaps row indices — no value bytes move). Missing columns (files that
  * predate an additive schema evolution) come back as all-null vectors
  * from the vectorized reader itself.
  */
final class GraftColumnarReader(path: String, required: StructType, conf: Configuration,
                                dead: Array[Long],
                                /** metadata column slots in `required`, and the
                                  * task's bucket id: `_bucket` and `_file` are
                                  * constant vectors, `_pos` is filled per batch —
                                  * none is read from parquet
                                  */
                                meta: GraftScan.MetaCols = GraftScan.MetaCols(), bucket: Int = -1)
    extends PartitionReader[ColumnarBatch] {
  import org.apache.hadoop.mapred.FileSplit
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskID, JobID, TaskType}
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}

  private val capacity = 4096
  private val synthetic = Seq(meta.bucket, meta.file, meta.pos).filter(_ >= 0).toSet
  // the parquet-served columns: required minus the synthetic ones
  private val parquetFields: Array[StructField] =
    required.fields.zipWithIndex.collect { case (f, i) if !synthetic(i) => f }
  // output ordinal -> parquet batch ordinal (identity without metadata columns)
  private def srcOrdinal(i: Int): Int = i - synthetic.count(_ < i)
  private val constBucket: ColumnVector =
    if (meta.bucket < 0) null
    else { val v = new ConstantColumnVector(capacity, IntegerType); v.setInt(bucket); v }
  private val constFile: ColumnVector =
    if (meta.file < 0) null
    else {
      val v = new ConstantColumnVector(capacity, StringType)
      v.setUtf8String(UTF8String.fromString(GraftScan.relPath(path))); v
    }
  // the batch's file positions (base .. base + n - 1); dead rows drop out
  // through the same selection as every other column
  private val posVec: OnHeapColumnVector =
    if (meta.pos < 0) null else new OnHeapColumnVector(capacity, LongType)
  /** output column `i` of a batch whose parquet vectors are `rb` */
  private def vectorOf(rb: ColumnarBatch, i: Int): ColumnVector =
    if (i == meta.bucket) constBucket
    else if (i == meta.file) constFile
    else if (i == meta.pos) posVec
    else rb.column(srcOrdinal(i))
  // deleted is appended to the read schema (never exposed); it drives the
  // tombstone mask
  private val readSchema = StructType(parquetFields :+ StructField("deleted", BooleanType))
  private val deletedIdx = parquetFields.length

  private val vreader = new VectorizedParquetRecordReader(
    null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)
  locally {
    val c = new Configuration(conf)
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    // keys ParquetReadSupport/ParquetToSparkSchemaConverter expect the file
    // format to have staged into the hadoop conf (Spark defaults)
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.caseSensitive", false)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    c.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    val p = new org.apache.hadoop.fs.Path(path)
    val len = p.getFileSystem(c).getFileStatus(p).getLen
    val split = new FileSplit(p, 0, len, Array.empty[String])
    val attempt = new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)
    vreader.initialize(split, new TaskAttemptContextImpl(c, attempt))
    vreader.initBatch(new StructType(), InternalRow.empty)
    vreader.enableReturningBatches()
  }

  private var base = 0L // file ordinal of the current batch's first row
  private var dp = 0    // monotone cursor into the sorted dead positions
  private var current: ColumnarBatch = _

  // zero-copy pass-through wrapper over the reader's own vectors, pruned to
  // the required columns (built lazily: vector objects are stable across
  // batches)
  private var passThrough: ColumnarBatch = _
  // zero-copy SELECTION view for batches with dead rows: the view remaps
  // row indices through `sel` instead of copying values
  private var selVectors: Array[SelectedColumnVector] = _
  private var sel: Array[Int] = _
  private var filtered: ColumnarBatch = _

  override def next(): Boolean = {
    while (vreader.nextBatch()) {
      val rb = vreader.resultBatch()
      val n = rb.numRows()
      val delVec = rb.column(deletedIdx)
      // find dead rows (tombstones or DV positions) in this batch; the DV
      // side is an O(1) range probe on the sorted positions
      while (dp < dead.length && dead(dp) < base) dp += 1
      if (posVec != null) { var j = 0; while (j < n) { posVec.putLong(j, base + j); j += 1 } }
      var anyDead = dp < dead.length && dead(dp) < base + n
      var i = 0
      while (i < n && !anyDead) {
        anyDead = !delVec.isNullAt(i) && delVec.getBoolean(i)
        i += 1
      }
      if (!anyDead) {
        if (passThrough == null)
          passThrough = new ColumnarBatch(Array.tabulate[ColumnVector](required.length)(vectorOf(rb, _)))
        passThrough.setNumRows(n)
        current = passThrough
        base += n
        return true
      }
      // build the live-row selection and serve a zero-copy remapped view
      // (a selection over a constant vector is the vector itself)
      if (selVectors == null) {
        selVectors = required.fields.map(f => new SelectedColumnVector(f.dataType))
        sel = new Array[Int](capacity)
        filtered = new ColumnarBatch(Array.tabulate[ColumnVector](required.length)(i =>
          if (i == meta.bucket) constBucket else if (i == meta.file) constFile else selVectors(i)))
      }
      var out = 0
      var p = dp // local walk; dp itself re-syncs from `base` next batch
      i = 0
      while (i < n) {
        while (p < dead.length && dead(p) < base + i) p += 1
        val isDead = (p < dead.length && dead(p) == base + i) ||
          (!delVec.isNullAt(i) && delVec.getBoolean(i))
        if (!isDead) { sel(out) = i; out += 1 }
        i += 1
      }
      base += n
      if (out > 0) {
        var c = 0
        while (c < required.length) {
          if (c != meta.bucket && c != meta.file) {
            selVectors(c).src = vectorOf(rb, c)
            selVectors(c).sel = sel
          }
          c += 1
        }
        filtered.setNumRows(out)
        current = filtered
        return true
      } // else: whole batch dead — read the next one
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = { vreader.close(); if (posVec != null) posVec.close() }
}
