package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftConf
import graft.table.LakeTable

/** The SQL maintenance surface (round-4 VERDICT "Missing" #4): table
  * lifecycle operations an external SQL user could previously only reach
  * through the Scala API, exposed as DSv2 stored procedures on the graft
  * catalog (Spark 4 `CALL` statements — the Iceberg procedure shape):
  *
  * {{{ CALL g.system.compact('events')            -- fold MOR deltas / DVs
  *     CALL g.system.rebucket('events', 128)      -- bucket-count evolution
  *     CALL g.system.expire_snapshots('events', 2)
  *     CALL g.system.vacuum_orphans('events', 24)
  *     CALL g.system.enable_change_data_feed('events')
  *     CALL g.system.expire_change_feed('events', 50000)
  *     CALL g.system.describe_history('events')   -- the version chain
  *     CALL g.system.describe_detail('events')    -- one-row table health }}}
  *
  * Each procedure routes into the SAME LakeTable path the API uses (one
  * implementation, two spellings) and returns its outcome as rows, so a
  * pure-SQL operator can run the full maintenance cycle and audit the
  * commit chain without any Scala. Namespaced tables are addressed as
  * 'ns.table'.
  */
object GraftProcedures {

  val names: Seq[String] = Seq("compact", "rebucket", "expire_snapshots",
    "vacuum_orphans", "enable_change_data_feed", "expire_change_feed",
    "describe_history", "describe_detail", "widen_column", "compact_change_feed",
    "backfill_change_feed", "refresh_mv", "restore", "add_constraint",
    "drop_constraint", "clone", "set_clustering")

  /** `resolve`: table-name argument (optionally 'ns.table') → table dir,
    * with the catalog's own segment validation applied.
    */
  def load(procName: String, resolve: String => String): UnboundProcedure = {
    require(names.contains(procName.toLowerCase),
      s"graft: unknown procedure '$procName' (have: ${names.mkString(", ")})")
    new GraftUnboundProcedure(procName.toLowerCase, resolve)
  }

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def pDef(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private[sources] final class GraftUnboundProcedure(proc: String, resolve: String => String)
      extends UnboundProcedure {
    override def name(): String = proc
    override def description(): String = s"graft table maintenance: $proc"
    override def bind(inputType: StructType): BoundProcedure =
      new GraftBoundProcedure(proc, resolve)
  }

  private[sources] final class GraftBoundProcedure(proc: String, resolve: String => String)
      extends BoundProcedure {
    override def name(): String = proc
    override def description(): String = s"graft table maintenance: $proc"
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = proc match {
      // max_files_per_bucket = 0 (default): full rewrite of every bucket;
      // > 0: TARGETED fold of only the buckets whose file count exceeds it
      // (compactBuckets — O(hot buckets), the steady-state maintenance call)
      case "compact"            => Array(p("table", StringType),
                                         pDef("max_files_per_bucket", IntegerType, "0"),
                                         // comma-separated columns: clustered full
                                         // rewrite (Delta OPTIMIZE ZORDER analogue);
                                         // mutually exclusive with the threshold
                                         pDef("cluster_by", StringType, "''"))
      case "rebucket"           => Array(p("table", StringType), p("buckets", IntegerType))
      case "restore"            => Array(p("table", StringType), p("version", IntegerType))
      case "expire_snapshots"   => Array(p("table", StringType), pDef("keep", IntegerType, "2"))
      case "vacuum_orphans"     => Array(p("table", StringType), pDef("older_than_hours", IntegerType, "24"))
      case "expire_change_feed" => Array(p("table", StringType), p("below_lsn", LongType))
      case "widen_column"       => Array(p("table", StringType), p("column", StringType),
                                         p("type", StringType))
      case "compact_change_feed" => Array(p("table", StringType),
                                          pDef("target_files", IntegerType, "8"))
      case "backfill_change_feed" => Array(p("table", StringType),
                                           // 'post' = post-images; 'full' = also
                                           // before-images (only meaningful when the
                                           // full floor can reach 0 — see LakeTable)
                                           pDef("mode", StringType, "'post'"),
                                           pDef("target_files", IntegerType, "16"))
      case "enable_change_data_feed" => Array(p("table", StringType),
                                              pDef("mode", StringType, "'post'"))
      case "add_constraint"     => Array(p("table", StringType), p("name", StringType),
                                         // boolean SQL expression over the table's
                                         // logical columns, e.g. 'length(content) > 0'
                                         p("expr", StringType))
      case "drop_constraint"    => Array(p("table", StringType), p("name", StringType))
      // comma-separated columns; '' clears the policy. Metadata-only:
      // the next compact (manual or automatic) applies the layout.
      case "set_clustering"     => Array(p("table", StringType), p("cluster_by", StringType))
      // version -1 (default) clones the head; >= 1 a retained version
      case "clone"              => Array(p("table", StringType), p("dest", StringType),
                                         pDef("version", IntegerType, "-1"))
      case "refresh_mv"         => Array(p("mv_table", StringType), p("from_table", StringType),
                                         p("group_expr", StringType), p("metric_expr", StringType),
                                         // 'auto' (default) picks the liveness convention by
                                         // source kind: an MV source (mv-def marker present)
                                         // gets 'coalesce(cnt > 0, false)' — MV rows carry
                                         // null content — everything else the tombstone
                                         // convention 'content IS NOT NULL'. Pass an explicit
                                         // expression to override.
                                         pDef("before_live_expr", StringType, "'auto'"))
      case _                    => Array(p("table", StringType))
    }

    private def statusScan(fields: (String, DataType)*)(values: Any*): Scan = {
      val schema = StructType(fields.map { case (n, dt) => StructField(n, dt) })
      val row = new GenericInternalRow(values.toArray)
      new GraftLocalScan(schema, Array[InternalRow](row))
    }

    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val dir = resolve(input.getUTF8String(0).toString)
      val lake = new LakeTable(spark, dir)
      // refresh_mv CREATES its MV table on first call — every other
      // procedure operates on an existing table
      if (proc != "refresh_mv")
        require(lake.currentSnapshot().isDefined, s"graft: no table at $dir")
      val out: Scan = proc match {
        case "compact" =>
          val before = lake.currentSnapshot().get
          val threshold = input.getInt(1)
          val cluster = input.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          require(cluster.isEmpty || threshold <= 0,
            "compact: cluster_by is a full rewrite — max_files_per_bucket must be 0")
          val folded =
            if (cluster.nonEmpty) { lake.compact(cluster); before.files.map(_.bucket).distinct.size }
            else if (threshold <= 0) { lake.compact(); before.files.map(_.bucket).distinct.size }
            else lake.compactBuckets(before.files.groupBy(_.bucket)
              .collect { case (b, fl) if fl.size > threshold => b }.toSet)
          val after = lake.currentSnapshot().get
          statusScan("buckets_folded" -> IntegerType,
            "files_before" -> IntegerType, "files_after" -> IntegerType,
            "dv_rows_removed" -> LongType)(
            folded, before.files.size, after.files.size, before.dvRows - after.dvRows)
        case "rebucket" =>
          lake.rebucket(input.getInt(1))
          val after = lake.currentSnapshot().get
          statusScan("buckets" -> IntegerType, "files" -> IntegerType)(
            after.nBuckets, after.files.size)
        case "restore" =>
          lake.restore(input.getInt(1))
          val after = lake.currentSnapshot().get
          statusScan("version" -> IntegerType, "restored_from" -> IntegerType,
            "files" -> IntegerType, "total_rows" -> LongType)(
            after.version, input.getInt(1), after.files.size, after.totalRows)
        case "expire_snapshots" =>
          val keep = input.getInt(1)
          val head = lake.currentSnapshot().get.version
          lake.expireSnapshots(keep)
          val remaining = lake.log.versions()
          statusScan("retained" -> IntegerType, "oldest_version" -> IntegerType)(
            remaining.size, remaining.headOption.getOrElse(head))
        case "vacuum_orphans" =>
          val removed = lake.vacuumOrphans(input.getInt(1).toLong * 3600 * 1000)
          statusScan("orphans_removed" -> IntegerType)(removed)
        case "enable_change_data_feed" =>
          // mode: 'post' (default) = post-images only; 'full' = also write
          // before-images (update_preimage rows + old values on deletes)
          val mode = input.getUTF8String(1).toString.toLowerCase
          require(mode == "post" || mode == "full",
            s"enable_change_data_feed: mode must be 'post' or 'full', got '$mode'")
          lake.enableChangeDataFeed(full = mode == "full")
          val head = lake.currentSnapshot().get
          statusScan("cdf_since_lsn" -> LongType, "cdf_full_since_lsn" -> LongType)(
            head.cdfSinceLsn, head.cdfFullSinceLsn)
        case "expire_change_feed" =>
          val dropped = lake.expireChangeFeed(input.getLong(1))
          statusScan("sidecars_dropped" -> IntegerType,
            "cdf_since_lsn" -> LongType)(dropped, lake.currentSnapshot().get.cdfSinceLsn)
        case "widen_column" =>
          // SQL route for type widening: Spark's own ALTER COLUMN TYPE is
          // rejected by the analyzer (NOT_SUPPORTED_CHANGE_COLUMN) before
          // any catalog sees it, so the lossless metadata-only widening
          // ships as a procedure, Iceberg-style
          val colName = input.getUTF8String(1).toString
          val target = org.apache.spark.sql.types.DataType.fromDDL(
            input.getUTF8String(2).toString)
          lake.widenColumn(colName, target)
          val head = lake.currentSnapshot().get
          val widened = org.apache.spark.sql.types.StructType.fromDDL(head.schemaDdl)
            .fields.find(_.name == head.physicalOf(colName))
            .map(_.dataType.simpleString).orNull
          statusScan("column" -> StringType, "type" -> StringType)(
            UTF8String.fromString(colName), UTF8String.fromString(widened))
        case "compact_change_feed" =>
          val before = lake.currentSnapshot().get.cdfFiles.size
          lake.compactChangeFeed(input.getInt(1))
          statusScan("sidecars_before" -> IntegerType, "sidecars_after" -> IntegerType)(
            before, lake.currentSnapshot().get.cdfFiles.size)
        case "backfill_change_feed" =>
          // one-time conversion of the history-walk fallback into sidecar
          // coverage: materialize typed changes for the uncovered range,
          // floor drops to 0, every tail rides sidecars from then on
          val mode = input.getUTF8String(1).toString.toLowerCase
          require(mode == "post" || mode == "full",
            s"backfill_change_feed: mode must be 'post' or 'full', got '$mode'")
          val written = lake.backfillChangeFeed(full = mode == "full", input.getInt(2))
          val head = lake.currentSnapshot().get
          statusScan("sidecars_written" -> IntegerType, "cdf_since_lsn" -> LongType,
            "cdf_full_since_lsn" -> LongType)(
            written, head.cdfSinceLsn, head.cdfFullSinceLsn)
        case "refresh_mv" =>
          // the pure-SQL incremental-MV surface: one-shot catch-up of
          // `SELECT group_col, count(*), sum(metric_col) FROM from_table
          // WHERE live GROUP BY 1` maintained from the full change feed
          // (O(changes since the MV's cursor), never a recompute). The MV
          // is an ordinary lake table under the catalog, so SELECTing it
          // by name works; its definition is persisted at first call and
          // a mismatched re-call errors instead of corrupting the state.
          // group/metric are SQL EXPRESSIONS over the source's data
          // columns ('lang', 'length(content)', 'score * weight', ...) —
          // a bare column name is the simplest case.
          val fromDir = resolve(input.getUTF8String(1).toString)
          val from = new LakeTable(spark, fromDir)
          require(from.currentSnapshot().isDefined, s"graft: no table at $fromDir")
          // mvCdfFull: SQL MVs publish their own full feed, so a second
          // refresh_mv can chain off them without any Scala. The 'auto'
          // default detects an MV source by its persisted definition
          // marker and swaps in the MV liveness convention (before-image
          // live = old cnt > 0; MV rows carry null content) — a two-level
          // SQL chain needs no explicit before_live_expr.
          val beforeLiveSql = input.getUTF8String(4).toString match {
            case "auto" if from.fs.exists(s"$fromDir/meta/mv-def.txt") =>
              "coalesce(cnt > 0, false)"
            case "auto" => "content IS NOT NULL"
            case explicit => explicit
          }
          val agg = graft.stream.IncrementalAgg(spark, dir,
            org.apache.spark.sql.functions.expr(input.getUTF8String(2).toString),
            org.apache.spark.sql.functions.expr(input.getUTF8String(3).toString),
            beforeLive = org.apache.spark.sql.functions.expr(beforeLiveSql),
            mvCdfFull = true)
          agg.applyOnce(from, "sql-refresh-mv")
          val head = agg.mv.currentSnapshot()
          statusScan("mv_hwm" -> LongType, "stored_groups" -> LongType)(
            head.map(_.hwm).getOrElse(0L), head.map(_.totalRows).getOrElse(0L))
        case "add_constraint" =>
          // Spark's ALTER TABLE ADD CONSTRAINT parses only for its own
          // builtin constraint framework, so the lake's CHECK surface
          // ships as a procedure (same route as widen_column). Validates
          // existing live rows, then enforces on every later write.
          val cname = input.getUTF8String(1).toString
          lake.addConstraint(cname, input.getUTF8String(2).toString)
          val head = lake.currentSnapshot().get
          statusScan("name" -> StringType, "expr" -> StringType,
            "constraints" -> IntegerType)(
            UTF8String.fromString(cname),
            UTF8String.fromString(head.constraints(cname)), head.constraints.size)
        case "drop_constraint" =>
          val cname = input.getUTF8String(1).toString
          lake.dropConstraint(cname)
          statusScan("name" -> StringType, "constraints" -> IntegerType)(
            UTF8String.fromString(cname), lake.currentSnapshot().get.constraints.size)
        case "set_clustering" =>
          val cols = input.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          lake.setClustering(cols)
          statusScan("cluster_by" -> StringType)(
            UTF8String.fromString(lake.currentSnapshot().get.clusterBy.mkString(",")))
        case "clone" =>
          // shallow clone: dest becomes an ordinary catalog table whose
          // first snapshot references the source's files zero-copy
          val destDir = resolve(input.getUTF8String(1).toString)
          val v = input.getInt(2)
          lake.cloneTo(destDir, if (v < 0) None else Some(v))
          val d = new LakeTable(spark, destDir).currentSnapshot().get
          statusScan("dest" -> StringType, "cloned_version" -> IntegerType,
            "files_referenced" -> IntegerType, "total_rows" -> LongType)(
            UTF8String.fromString(input.getUTF8String(1).toString),
            if (v < 0) lake.currentSnapshot().get.version else v,
            d.files.size, d.totalRows)
        case "describe_history" =>
          describeHistory(lake)
        case "describe_detail" =>
          // one-row table health (the data Delta's DESCRIBE DETAIL shows):
          // everything comes from the head snapshot's metadata — no data
          // files are opened, so it is O(metadata) on a table of any size
          val s = lake.currentSnapshot().get
          val perBucket = s.files.groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0)
          val retained = lake.log.versions().size
          val cdfMode =
            if (s.cdfFullSinceLsn >= 0) "full" else if (s.cdfSinceLsn >= 0) "post" else "off"
          // the session's ACTIVE retention policies (applied at every
          // commit when set): null = manual-expiry-only
          val snapRetain = LakeTable.snapshotsRetain(spark).map(Int.box).orNull
          val cdfRetain = GraftConf.long(spark, "spark.graft.cdf.retentionLsns").map(Long.box).orNull
          statusScan(
            "version" -> IntegerType, "mode" -> StringType, "buckets" -> IntegerType,
            "hwm" -> LongType, "stored_rows" -> LongType, "files" -> IntegerType,
            "max_files_per_bucket" -> IntegerType, "dv_files" -> IntegerType,
            "dv_rows" -> LongType, "cdf" -> StringType, "cdf_since_lsn" -> LongType,
            "cdf_full_since_lsn" -> LongType, "cdf_sidecars" -> IntegerType,
            "cdf_rows" -> LongType, "cdf_manifests" -> IntegerType,
            "retained_snapshots" -> IntegerType, "snapshots_retain" -> IntegerType,
            "cdf_retention_lsns" -> LongType, "columns" -> IntegerType,
            "renamed_columns" -> IntegerType, "constraints" -> StringType,
            "cluster_by" -> StringType)(
            s.version, UTF8String.fromString(s.mode), s.nBuckets,
            s.hwm, s.totalRows, s.files.size,
            perBucket, s.dvFiles.size, s.dvRows,
            UTF8String.fromString(cdfMode), s.cdfSinceLsn, s.cdfFullSinceLsn,
            s.cdfFiles.size, s.cdfFiles.map(_.rows).sum, s.cdfManifests.size,
            retained, snapRetain, cdfRetain, StructType.fromDDL(s.schemaDdl).size, s.renames.size,
            if (s.constraints.isEmpty) null
            else UTF8String.fromString(s.constraints.toSeq.sortBy(_._1)
              .map { case (n, e) => s"$n CHECK ($e)" }.mkString("; ")),
            // shown under LOGICAL names (stored physical — rename-proof)
            if (s.clusterBy.isEmpty) null
            else UTF8String.fromString(s.clusterBy.map(s.logicalOf).mkString(",")))
      }
      Collections.singletonList(out).iterator()
    }

    /** the version chain, newest first — commit time, row/file/feed state
      * per retained snapshot (the data `DESCRIBE HISTORY` shows on Delta)
      */
    private def describeHistory(lake: LakeTable): Scan = {
      val schema = StructType(Seq(
        StructField("version", IntegerType), StructField("commit_time", TimestampType),
        StructField("mode", StringType), StructField("hwm", LongType),
        StructField("total_rows", LongType), StructField("files", IntegerType),
        StructField("dv_rows", LongType), StructField("cdf_sidecars", IntegerType),
        StructField("cdf_full_since_lsn", LongType),
        StructField("committed_batches", LongType)))
      val rows: Array[InternalRow] =
        lake.log.snapshots().reverse.map { s =>
          new GenericInternalRow(Array[Any](
            s.version, if (s.tsMs > 0) s.tsMs * 1000L else null,
            UTF8String.fromString(s.mode), s.hwm, s.totalRows, s.files.size,
            s.dvRows, s.cdfFiles.size, s.cdfFullSinceLsn, s.committedCount)): InternalRow
        }.toArray
      new GraftLocalScan(schema, rows)
    }
  }

  /** driver-local result rows of a procedure call */
  private[sources] final class GraftLocalScan(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = out
  }
}
