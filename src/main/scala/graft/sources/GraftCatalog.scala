package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.LangRules
import graft.table.{Fs, LakeTable, Snapshot, SnapshotIO, SnapshotLog}

/** Spark `TableCatalog` plugin over a directory of graft lake tables — the
  * full SQL surface by NAME instead of by path (Spark has no path-based SQL
  * for DSv2 sources):
  *
  * {{{ spark.sql.catalog.g       = graft.sources.GraftCatalog
  *     spark.sql.catalog.g.root  = hdfs://.../warehouse
  *
  *     CREATE TABLE g.events (repo STRING, path STRING, commit STRING,
  *       lang STRING, content STRING, contentSha STRING, lsn BIGINT)
  *       TBLPROPERTIES ('mode' = 'mor', 'buckets' = '64')
  *     INSERT INTO g.events SELECT ...          -- upsert-apply (GraftWrite)
  *     DELETE FROM g.events WHERE lang = 'C'    -- filter delete (DVs in dv mode)
  *     SELECT * FROM g.events VERSION AS OF 3   -- time travel
  *     SHOW TABLES IN g / DROP TABLE / ALTER TABLE ... RENAME }}}
  *
  * Shares the on-disk layout of `graft.table.Catalog` (one directory per
  * table + `table.properties.json`), so programmatic and SQL users see the
  * same warehouse. One optional namespace level maps to a subdirectory.
  * Renames are a single directory move — snapshots store root-relative
  * paths, so a moved table is immediately consistent.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _
  private def fs = new Fs(SparkSession.active.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.root"))
  }
  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String = {
    require(ident.namespace.length <= 1,
      s"graft catalog: at most one namespace level, got ${ident.namespace.mkString(".")}")
    // identifier segments become PATH segments under the warehouse root: a
    // backquoted SQL identifier carrying '/', '\' or '..' would escape the
    // root (and dropTable would then deleteRecursive an arbitrary path) —
    // reject anything that is not a plain single path segment
    checkSegments(ident.namespace.toSeq :+ ident.name)
    (root +: ident.namespace.toSeq :+ ident.name).mkString("/")
  }
  private def checkSegments(segs: Seq[String]): Unit = segs.foreach { seg =>
    require(seg.nonEmpty && seg != "." && seg != ".." &&
        !seg.contains('/') && !seg.contains('\\'),
      s"graft catalog: illegal identifier segment '$seg' " +
        "(empty, '.', '..', '/' and '\\' are not allowed in table or namespace names)")
  }
  private def propsPath(dir: String) = s"$dir/table.properties.json"
  private def logOf(dir: String) = new SnapshotLog(fs, dir)
  /** a committed table, or one registered by graft.table.Catalog but never written */
  private def tableAt(dir: String) = logOf(dir).exists || fs.exists(propsPath(dir))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkSegments(namespace.toSeq)
    val base = (root +: namespace.toSeq).mkString("/")
    if (!fs.exists(base)) Array.empty
    else fs.listDirs(base)
      .map(d => new org.apache.hadoop.fs.Path(d).getName)
      .filter(n => tableAt(s"$base/$n"))
      .sorted
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = tableAt(dirOf(ident))

  private def publicSchema(snap: Snapshot): StructType =
    GraftDataSource.schemaOf(snap, keepDeleted = false)

  private def loadAt(ident: Identifier, version: Option[Int]): Table = {
    val dir = dirOf(ident)
    val log = logOf(dir)
    val snap = (if (log.exists) version.map(log.at).orElse(log.head()) else None).getOrElse {
      // a table registered by graft.table.Catalog but never written yet:
      // serve it as empty with the layout from its properties file (SHOW
      // TABLES lists it, so SELECT must not throw)
      if (version.isDefined || !fs.exists(propsPath(dir))) throw new NoSuchTableException(ident)
      val props = graft.table.JsonMini.parse(fs.readString(propsPath(dir)))
        .asInstanceOf[Map[String, Any]]
      LakeTable.emptySnapshot(SnapshotIO.asInt(props("nBuckets")), props("mode").asInstanceOf[String])
    }
    new GraftTable((dir, snap), publicSchema(snap))
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)
  /** SQL `VERSION AS OF n` */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(SnapshotLog.parseVersion(version)))
  /** SQL `TIMESTAMP AS OF ts` — Spark hands the literal as MICROseconds
    * since epoch; resolve to the latest snapshot committed at or before it
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val log = logOf(dirOf(ident))
    if (!log.exists) throw new NoSuchTableException(ident)
    loadAt(ident, Some(log.versionAsOf(timestamp / 1000L)))
  }

  /** CREATE TABLE (and the create half of CTAS). The engine's row model is
    * fixed at its CDC core — the declared schema must carry the key/order/
    * payload columns; extra payload columns ride along via additive schema
    * evolution. Layout comes from TBLPROPERTIES ('mode', 'buckets').
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "graft tables are hash-bucketed by (repo, path); PARTITIONED BY is not supported")
    val core = Seq("repo", "path", "commit", "content", "lsn")
    val missing = core.filterNot(c => schema.fieldNames.map(_.toLowerCase).contains(c))
    require(missing.isEmpty,
      s"graft tables need the CDC core columns ${core.mkString(", ")}; missing: ${missing.mkString(", ")}")
    val mode = Option(properties.get("mode")).getOrElse("cow")
    require(Seq("cow", "mor", "dv").contains(mode), s"unknown apply mode '$mode'")
    val buckets = Option(properties.get("buckets")).map(graft.GraftConf.positiveInt("buckets", _)).getOrElse(32)
    val dir = dirOf(ident)
    // empty version-1 snapshot so the table is immediately readable; the
    // internal `deleted` flag joins the stored schema. Published like any
    // commit (create-exclusive): a concurrent create-on-first-write commit
    // to the same path must never be clobbered (tableExists above is only
    // a fast-path)
    val stored = if (schema.fieldNames.contains("deleted")) schema
      else StructType(schema.fields :+ StructField("deleted", BooleanType, nullable = false))
    // TBLPROPERTIES ('cdf' = 'true' | 'full'): change data feed on from
    // creation — every commit writes its change sidecar; 'full' also
    // records before-images (update_preimage rows + old values on deletes)
    val (cdf, cdfFull) = Option(properties.get("cdf")).fold((false, false))(graft.GraftConf.cdf("cdf", _))
    // TBLPROPERTIES ('clusterBy' = 'lang[,col…]'): the persisted
    // clustering policy from creation — every compaction lays buckets out
    // value-sorted (see LakeTable.setClustering; columns are physical at
    // creation time by definition)
    val clusterBy = Option(properties.get("clusterBy"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    clusterBy.foreach(c => require(stored.fieldNames.contains(c),
      s"clusterBy: no column '$c' in the table schema"))
    val empty = LakeTable.emptySnapshot(buckets, mode)
    val snap = empty.copy(version = 1, schemaDdl = stored.toDDL,
      cdfSinceLsn = if (cdf) 0L else -1L,
      cdfFullSinceLsn = if (cdfFull) 0L else -1L,
      clusterBy = clusterBy)
    if (!logOf(dir).publish(snap, empty, LakeTable.newToken))
      throw new TableAlreadyExistsException(ident)
    // properties file in graft.table.Catalog's format (shared warehouse)
    fs.atomicWrite(propsPath(dir),
      s"""{"name":"${ident.name}","nBuckets":$buckets,"mode":"$mode","rulesVersion":"${LangRules.version}","format":"graft-lake-v1"}""")
    new GraftTable((dir, snap), publicSchema(snap))
  }

  /** `ALTER TABLE ... ADD COLUMN(S) | RENAME COLUMN | DROP COLUMN` —
    * additive evolution plus COLUMN MAPPING: rename/drop are metadata-only
    * commits over the logical→storage name map (files never move; historic
    * snapshots serve under their own mapping; a dropped storage name is
    * retired so a later same-named ADD can't resurrect stale values).
    * Retype stays rejected. Core CDC columns are contract-fixed.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!logOf(dir).exists) throw new NoSuchTableException(ident)
    val lake = new LakeTable(SparkSession.active, dir)
    def oneName(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"graft: only top-level $what (got nested ${fieldNames.mkString(".")})")
      fieldNames.head
    }
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        // pre-existing rows null-backfill the new column, so a NOT NULL
        // promise cannot be honored — reject instead of silently coercing
        require(a.isNullable,
          s"graft: ADD COLUMN ${a.fieldNames.mkString(".")} NOT NULL is not supported — " +
            "existing rows are null-backfilled; declare the column nullable")
        StructField(oneName(a.fieldNames, "ADD COLUMN"), a.dataType, nullable = true)
    }
    changes.foreach {
      case _: TableChange.AddColumn => ()
      case r: TableChange.RenameColumn =>
        lake.renameColumn(oneName(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        lake.dropColumn(oneName(d.fieldNames, "DROP COLUMN"))
      case other => throw new UnsupportedOperationException(
        s"graft: supported ALTERs are ADD/RENAME/DROP COLUMN (no retype), got $other")
    }
    if (adds.nonEmpty) lake.addColumns(adds)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!tableExists(ident)) false else fs.deleteRecursive(dir)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    require(fs.rename(dirOf(oldIdent), dirOf(newIdent)),
      s"graft: rename ${oldIdent.name} -> ${newIdent.name} failed")
  }

  // ---- stored procedures (the SQL maintenance surface) --------------------

  /** `CALL g.system.compact('t')` etc. — see GraftProcedures. The table
    * argument resolves through the same segment validation as identifiers
    * ('ns.table' for namespaced tables), so a procedure can never escape
    * the warehouse root either.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")),
      s"graft: procedures live in the 'system' namespace, got ${ident.namespace.mkString(".")}")
    GraftProcedures.load(ident.name, tbl => {
      val parts = tbl.split('.')
      dirOf(Identifier.of(parts.init, parts.last))
    })
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** FunctionCatalog: exactly one function, the layout's `bucket` hash —
    * what lets Spark resolve the `KeyGroupedPartitioning` that `GraftScan`
    * reports and plan storage-partitioned joins (zero-shuffle joins of
    * co-bucketed graft tables). See [[GraftBucketFunction]].
    */
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket")) else Array.empty
}
