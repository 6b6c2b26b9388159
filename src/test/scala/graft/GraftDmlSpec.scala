package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.LakeTable

/** SQL DML over graft tables (UPDATE / MERGE INTO / arbitrary-predicate
  * DELETE) through the GraftDmlRewrite post-hoc resolution rule: every
  * statement must route into the same distributed LakeTable paths the API
  * uses, with the engine's derived-invariant and immutable-key contracts
  * intact.
  */
class GraftDmlSpec extends SparkSpec {

  /** register a catalog over a fresh warehouse with a seeded 3-row table */
  private def fixture(tag: String): (String, String) = {
    val warehouse = tmpDir(tag)
    val cat = s"gdml$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
    spark.sql(s"""CREATE TABLE $cat.t (repo STRING, path STRING, commit STRING,
      lang STRING, content STRING, contentSha STRING, lsn BIGINT)
      TBLPROPERTIES ('mode' = 'cow', 'buckets' = '4')""")
    spark.sql(s"""INSERT INTO $cat.t VALUES
      ('r1', 'a.py', 'c1', null, 'alpha', null, 10),
      ('r1', 'b.py', 'c2', null, 'beta',  null, 11),
      ('r2', 'c.rs', 'c3', null, 'gamma', null, 12)""")
    (cat, warehouse)
  }

  test("UPDATE statement routes through updateWhere: payload set, invariants recomputed") {
    val (cat, warehouse) = fixture("upd")
    spark.sql(s"UPDATE $cat.t SET content = 'patched' WHERE repo = 'r1' AND path = 'a.py'")
    val t = new LakeTable(spark, s"$warehouse/t")
    val row = t.read().where(col("repo") === "r1" && col("path") === "a.py")
      .select("content", "contentSha", "lsn").head()
    assert(row.getString(0) == "patched")
    // contentSha is a derived invariant — recomputed from the NEW content
    val sha = spark.sql("SELECT sha2('patched', 256)").head().getString(0)
    assert(row.getString(1) == sha, "contentSha must be recomputed by the merge")
    assert(row.getLong(2) == 13, "update lands at hwm+1")
    assert(t.read().count() == 3, "UPDATE must not change cardinality")
    // untouched rows intact
    assert(t.read().where(col("path") === "b.py").select("content").head().getString(0) == "beta")
  }

  test("UPDATE with a computed value referencing table columns") {
    val (cat, warehouse) = fixture("updv")
    spark.sql(s"UPDATE $cat.t SET content = concat(content, '!') WHERE repo = 'r1'")
    val t = new LakeTable(spark, s"$warehouse/t")
    assert(collectSorted(t.read().where(col("repo") === "r1").select("content"))
      == Seq(Seq("alpha!"), Seq("beta!")))
  }

  test("UPDATE rejects derived and key columns with a clear error") {
    val (cat, _) = fixture("updbad")
    val e1 = intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET contentSha = 'x' WHERE repo = 'r1'")
    }
    assert(e1.getMessage.contains("derived"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET repo = 'moved' WHERE repo = 'r1'")
    }
    assert(e2.getMessage.toLowerCase.contains("immutable"), e2.getMessage)
  }

  test("MERGE INTO: matched update + conditional delete + not-matched insert") {
    val (cat, warehouse) = fixture("mrg")
    Seq(
      ("r1", "a.py", "fresh-alpha", "upd"), // matched → update
      ("r1", "b.py", null: String, "del"),  // matched → delete
      ("r9", "new.go", "brand-new", "upd")  // not matched → insert
    ).toDf(spark).createOrReplaceTempView("mrg_src")
    spark.sql(s"""MERGE INTO $cat.t t USING mrg_src s
      ON t.repo = s.repo AND t.path = s.path
      WHEN MATCHED AND s.op = 'del' THEN DELETE
      WHEN MATCHED THEN UPDATE SET content = s.content
      WHEN NOT MATCHED THEN INSERT (repo, path, content) VALUES (s.repo, s.path, s.content)""")
    val t = new LakeTable(spark, s"$warehouse/t")
    val state = collectSorted(t.read().select("repo", "path", "content"))
    assert(state == Seq(
      Seq("r1", "a.py", "fresh-alpha"),
      Seq("r2", "c.rs", "gamma"),
      Seq("r9", "new.go", "brand-new")), state.toString)
    // derived invariants recomputed for merged rows
    val sha = spark.sql("SELECT sha2('fresh-alpha', 256)").head().getString(0)
    assert(t.read().where(col("path") === "a.py").select("contentSha").head().getString(0) == sha)
    // lang derived from the inserted path
    assert(t.read().where(col("path") === "new.go").select("lang").head().getString(0) != null)
  }

  test("MERGE INTO with UPDATE SET * / INSERT *") {
    val (cat, warehouse) = fixture("mrgstar")
    // star expansion is Spark's: the source must carry EVERY target column;
    // the rewrite then drops the derived/bookkeeping star assignments
    // (recomputed or pinned by the engine) and keeps the payload
    spark.sql("""SELECT 'r1' AS repo, 'a.py' AS path, 'cX' AS commit,
        CAST(null AS STRING) AS lang, 'star-alpha' AS content,
        CAST(null AS STRING) AS contentSha, CAST(99 AS BIGINT) AS lsn
      UNION ALL SELECT 'r7', 's.py', 'cY', null, 'star-new', null, 99""")
      .createOrReplaceTempView("mrgstar_src")
    spark.sql(s"""MERGE INTO $cat.t t USING mrgstar_src s
      ON t.repo = s.repo AND t.path = s.path
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val t = new LakeTable(spark, s"$warehouse/t")
    val state = collectSorted(t.read().select("repo", "path", "content"))
    assert(state == Seq(
      Seq("r1", "a.py", "star-alpha"),
      Seq("r1", "b.py", "beta"),
      Seq("r2", "c.rs", "gamma"),
      Seq("r7", "s.py", "star-new")), state.toString)
  }

  test("MERGE INTO an evolved MOR table: unassigned extra column types as its own type, not NullType") {
    // the ADVICE repro: a table with a column beyond the core schema
    // ('branch'), MOR mode, a MERGE whose actions never assign it — every
    // branch of the extras CASE chain is lit(null), which must be CAST to
    // the target type instead of typing as NullType and aborting the merge
    val warehouse = tmpDir("mrgevo")
    val cat = "gdmlmrgevo"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
    spark.sql(s"""CREATE TABLE $cat.t (repo STRING, path STRING, commit STRING,
      lang STRING, content STRING, contentSha STRING, lsn BIGINT, branch STRING)
      TBLPROPERTIES ('mode' = 'mor', 'buckets' = '4')""")
    spark.sql(s"""INSERT INTO $cat.t VALUES
      ('r1', 'a.py', 'c1', null, 'alpha', null, 10, 'main'),
      ('r1', 'b.py', 'c2', null, 'beta',  null, 11, 'dev')""")
    Seq(("r1", "a.py", null: String, "del"), ("r9", "new.go", "brand-new", "ins"))
      .toDf(spark).createOrReplaceTempView("mrgevo_src")
    spark.sql(s"""MERGE INTO $cat.t t USING mrgevo_src s
      ON t.repo = s.repo AND t.path = s.path
      WHEN MATCHED AND s.op = 'del' THEN DELETE
      WHEN NOT MATCHED THEN INSERT (repo, path, content) VALUES (s.repo, s.path, s.content)""")
    val t = new LakeTable(spark, s"$warehouse/t")
    val state = collectSorted(t.read().select("repo", "path", "content", "branch"))
    assert(state == Seq(
      Seq("r1", "b.py", "beta", "dev"),
      Seq("r9", "new.go", "brand-new", null)), state.toString)
  }

  test("explicit same-named UPDATE assignment is honored, derived one errors (fromStar only)") {
    val (cat, warehouse) = fixture("mrgexpl")
    // source carries content AND lang columns; SET content = s.content is
    // an explicit non-star assignment that must APPLY (round-4 dropped it
    // via the name-match heuristic)
    spark.sql("""SELECT 'r1' AS repo, 'a.py' AS path, 'expl-alpha' AS content,
        'forced-lang' AS lang""").createOrReplaceTempView("mrgexpl_src")
    spark.sql(s"""MERGE INTO $cat.t t USING mrgexpl_src s
      ON t.repo = s.repo AND t.path = s.path
      WHEN MATCHED THEN UPDATE SET content = s.content""")
    val t = new LakeTable(spark, s"$warehouse/t")
    assert(t.read().where(col("path") === "a.py").select("content").head().getString(0)
      == "expl-alpha", "explicit same-named SET content = s.content must apply")
    // an explicit SET lang = s.lang is user intent the engine cannot honor
    // (lang is derived) — it must ERROR, not silently drop
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING mrgexpl_src s
        ON t.repo = s.repo AND t.path = s.path
        WHEN MATCHED THEN UPDATE SET lang = s.lang""")
    }
    assert(e.getMessage.contains("derived"), e.getMessage)
  }

  test("DML conflict detection: a stale statement base raises ConcurrentWriteException") {
    val (_, warehouse) = fixture("cwx")
    val t = new LakeTable(spark, s"$warehouse/t")
    val base = t.currentSnapshot().get.version
    // interleave a commit after the statement derived its base
    t.deleteWhere(col("path") === "c.rs")
    val events = spark.sql(
      """SELECT CAST(99 AS BIGINT) AS lsn, 'U' AS op, 'r1' AS repo, 'a.py' AS path,
         'cZ' AS commit, 'x' AS content""")
    intercept[graft.table.ConcurrentWriteException] {
      t.merge(events, "merge-cwx", 0L, requireVersion = Some(base))
    }
  }

  test("MERGE requires the key-equality ON clause") {
    val (cat, _) = fixture("mrgbad")
    Seq(("r1", "a.py", "x", "u")).toDf(spark).createOrReplaceTempView("mrgbad_src")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING mrgbad_src s
        ON t.repo = s.repo
        WHEN MATCHED THEN UPDATE SET content = s.content""")
    }
    assert(e.getMessage.contains("ON must be exactly"), e.getMessage)
  }

  test("DELETE with a predicate V1 filters cannot express") {
    val (cat, warehouse) = fixture("delx")
    // length(path) — not a V1 source filter; the rewrite routes it through
    // deleteWhere's arbitrary-Column path
    spark.sql(s"DELETE FROM $cat.t WHERE length(path) = 4 AND repo = 'r2'")
    val t = new LakeTable(spark, s"$warehouse/t")
    assert(collectSorted(t.read().select("repo", "path")) ==
      Seq(Seq("r1", "a.py"), Seq("r1", "b.py")))
  }

  private implicit class TupleDf(rows: Seq[(String, String, String, String)]) {
    def toDf(s: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "repo STRING, path STRING, content STRING, op STRING"))
    }
  }
}
