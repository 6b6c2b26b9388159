package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.table.{LakeTable, Snapshot, SnapshotIO}

/** Every mutating operation commits `cur.copy(...)` of the head, so a
  * snapshot field it does not own survives it. Each case starts from a head
  * where every field the operation must keep holds a non-default value,
  * runs the operation, and compares the two heads field by field through
  * `Snapshot.productElementNames` — a field added to Snapshot later is
  * checked here without editing this suite.
  */
class SnapshotFieldSurvivalSpec extends SparkSpec {

  import spark.implicits._

  private def ev(rows: (Long, String, String, String, String, String, Int, String)*): DataFrame =
    rows.toDF("lsn", "op", "repo", "path", "commit", "content", "score", "tag")

  /** A deletion-vector table whose head sets every Snapshot field: four
    * buckets, a full change feed enabled mid-life (two sidecar commits),
    * DV sidecars, a renamed and a retired column, a constraint and a
    * clustering policy.
    */
  private lazy val fixture: String = {
    val root = tmpDir("survive-fixture") + "/t"
    val t = new LakeTable(spark, root, 4, graft.table.ApplyMode.DeletionVector)
    t.merge(ev((1L to 8L).map(i => (i, "A", s"r${i % 3}", s"f$i.py", f"c$i%02d", s"body $i", i.toInt, "a")): _*),
      "e", 0L)
    t.enableChangeDataFeed(full = true)
    t.merge(ev((9L to 12L).map(i => (i, "U", s"r${(i - 8) % 3}", s"f${i - 8}.py", f"c$i%02d", s"v2 $i", 1, "b")): _*),
      "e", 1L)
    t.merge(ev((13L, "U", "r1", "f1.py", "c13", "v3", 2, "c"), (14L, "D", "r2", "f2.py", "c14", null, 0, null),
      (15L, "A", "r0", "f15.py", "c15", "new", 3, "d")), "e", 2L)
    t.renameColumn("tag", "label")
    t.addColumns(Seq(StructField("extra", StringType)))
    t.dropColumn("extra")
    t.addConstraint("score_nonneg", "score >= 0")
    t.setClustering(Seq("score"))
    root
  }

  private def copyOf(src: String, tag: String): String = {
    val dest = Paths.get(tmpDir(s"survive-$tag"), "t")
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach { (p: Path) =>
      val to = dest.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    dest.toString
  }

  /** commit `f(head)` as the next version, bypassing the engine (test setup only) */
  private def rewriteHead(root: String)(f: Snapshot => Snapshot): Unit = {
    val t = new LakeTable(spark, root)
    val cur = t.currentSnapshot().get
    val v = cur.version + 1
    assert(t.fs.atomicCreate(s"$root/meta/snap-$v.json", SnapshotIO.write(f(cur).copy(version = v))))
    t.fs.atomicWrite(s"$root/meta/VERSION", v.toString)
  }

  private val always = Set("version", "tsMs")
  private val data = Set("files", "manifests", "totalRows")
  private val feed = Set("cdfSinceLsn", "cdfFiles", "cdfManifests", "cdfFullSinceLsn")
  private val batch = data ++ feed ++ Set("committed", "hwm", "schemaDdl")
  private val dv = Set("dvFiles", "dvRows")

  /** run `op` on a fresh copy of the fixture (after `prep`) and check that
    * it changed no field outside `mayChange`; `op` returns the table whose
    * head is the result
    */
  private def survives(name: String, mayChange: Set[String], prep: Snapshot => Snapshot = identity,
                       atDefault: Set[String] = Set.empty)(op: LakeTable => LakeTable): Unit =
    test(s"$name keeps every snapshot field it does not own") {
      val root = copyOf(fixture, name.takeWhile(_.isLetter))
      rewriteHead(root)(prep)
      val t = new LakeTable(spark, root)
      val before = t.currentSnapshot().get
      val names = before.productElementNames.toIndexedSeq
      val empty = LakeTable.emptySnapshot()
      def differs(a: Snapshot, b: Snapshot) =
        names.indices.filter(i => a.productElement(i) != b.productElement(i)).map(names).toSet
      // a field at its default value could be dropped unseen
      val unset = names.toSet -- differs(before, empty) -- mayChange -- atDefault
      assert(unset.isEmpty, s"fixture head leaves ${unset.mkString(", ")} at the default")
      val after = op(t).currentSnapshot().get
      assert(after.version != before.version, s"$name committed nothing")
      val lost = differs(before, after) -- always -- mayChange
      assert(lost.isEmpty, s"$name changed ${lost.mkString(", ")}")
    }

  private def update(lsn: Long) =
    ev((lsn, "U", "r1", "f1.py", s"u$lsn", "patched", 5, "z"), (lsn + 1, "A", "r2", "g.py", s"u${lsn + 1}", "g", 6, "y"))
      .withColumnRenamed("tag", "label")

  survives("merge (cow)", batch, _.copy(mode = "cow"), atDefault = Set("mode")) { t =>
    t.merge(update(20L), "s", 0L); t
  }
  survives("merge (mor)", batch, _.copy(mode = "mor")) { t => t.merge(update(20L), "s", 0L); t }
  survives("merge (dv)", batch ++ dv) { t => t.merge(update(20L), "s", 0L); t }
  survives("overwrite", batch ++ dv) { t => t.overwrite(update(20L), "s", 0L); t }
  survives("truncate", data ++ dv ++ feed + "hwm") { t => t.truncate(); t }
  survives("restore", data ++ dv ++ feed ++ Set("nBuckets", "mode", "hwm")) { t =>
    t.restore(3); t
  }
  survives("cloneTo", feed ++ Set("files", "manifests", "dvFiles")) { t =>
    val dest = tmpDir("survive-clone") + "/t"
    t.cloneTo(dest)
    new LakeTable(spark, dest)
  }
  survives("compact", data ++ dv) { t => t.compact(); t }
  survives("compactBuckets", data ++ dv) { t => t.compactBuckets(Set(0, 1, 2, 3)); t }
  survives("rebucket", data ++ dv + "nBuckets") { t => t.rebucket(2); t }
  survives("enableChangeDataFeed", feed, _.copy(cdfFullSinceLsn = -1L)) { t =>
    t.enableChangeDataFeed(full = true); t
  }
  survives("expireChangeFeed", feed) { t => t.expireChangeFeed(12L); t }
  survives("compactChangeFeed", feed) { t => t.compactChangeFeed(1); t }
  survives("backfillChangeFeed", feed) { t => t.backfillChangeFeed(); t }
  survives("addConstraint", Set("constraints")) { t => t.addConstraint("has_body", "length(content) > 0"); t }
  survives("dropConstraint", Set("constraints")) { t => t.dropConstraint("score_nonneg"); t }
  survives("setClustering", Set("clusterBy")) { t => t.setClustering(Seq("label")); t }
  survives("addColumns", Set("schemaDdl", "renames")) { t => t.addColumns(Seq(StructField("note", StringType))); t }
  survives("widenColumn", Set("schemaDdl")) { t => t.widenColumn("score", LongType); t }
  survives("renameColumn", Set("renames")) { t => t.renameColumn("label", "kind"); t }
  survives("dropColumn", Set("schemaDdl", "renames", "retiredPhysicals")) { t => t.dropColumn("label"); t }
}
