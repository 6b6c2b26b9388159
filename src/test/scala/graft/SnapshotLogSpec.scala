package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** One head and one expiry rule: the engine API, the DSv2 batch and
  * streaming sources, the SQL catalog and the procedures all resolve a
  * table through its SnapshotLog.
  */
class SnapshotLogSpec extends SparkSpec {

  val cfg = GenConfig(seed = 71, events = 3000, repos = 8, filesPerRepo = 10)

  /** a 3-version MoR table at `<warehouse>/t`, registered as catalog
    * `cat`, with its VERSION hint rewound to 1
    */
  private def build(cat: String): LakeTable = {
    val warehouse = tmpDir(s"slog-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", warehouse)
    val t = new LakeTable(spark, s"$warehouse/t", defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    (0 until 3).foreach(i =>
      t.merge(wal.where(col("lsn").between(i * 1000 + 1, (i + 1) * 1000)), "slog", i.toLong))
    t.fs.atomicWrite(s"${t.root}/meta/VERSION", "1")
    t
  }

  private def keys(df: org.apache.spark.sql.DataFrame) = collectSorted(df.select("repo", "path", "lsn"))

  test("every reader serves the dense head when meta/VERSION lags") {
    val t = build("gslh")
    val head = t.currentSnapshot().get
    assert(head.version == 3 && head.hwm == 3000, s"v${head.version} hwm ${head.hwm}")
    val expect = keys(t.readAt(3))
    assert(expect != keys(t.readAt(1)), "fixture: v1 and v3 must differ")
    assert(new LakeTable(spark, t.root).currentSnapshot().get.version == 3)
    assert(keys(spark.read.format("graft").load(t.root)) == expect, "DSv2 batch read")
    assert(keys(spark.sql("SELECT repo, path, lsn FROM gslh.t")) == expect, "catalog SELECT")
    assert(spark.sql("CALL gslh.system.describe_history('t')").collect().map(_.getInt(0)).toSeq ==
      Seq(3, 2, 1), "describe_history")
    // the tail drains to the head's hwm (tombstones included, so the last
    // event is delivered whatever its op)
    spark.readStream.format("graft").option("changeFeed", "true").load(t.root)
      .writeStream.format("memory").queryName("slog_tail")
      .option("checkpointLocation", tmpDir("slog-cp"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.table("slog_tail").agg(max("lsn")).head().getLong(0) == head.hwm, "streaming tail")
  }

  test("reading an expired version fails with one message on every path") {
    val t = build("gsle")
    t.expireSnapshots(keep = 1)
    // the hint now names an expired snapshot; the head is still served
    assert(t.currentSnapshot().get.version == 3)
    val msg = s"snapshot 1 of ${t.root} expired or never existed"
    def failsWithMsg(what: String)(f: => Any): Unit = {
      val e = intercept[Exception](f)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(chain.contains(msg), s"$what: $chain")
    }
    failsWithMsg("readAt")(t.readAt(1))
    failsWithMsg("DSv2 snapshot option")(
      spark.read.format("graft").option("snapshot", 1).load(t.root).count())
    failsWithMsg("catalog VERSION AS OF")(spark.sql("SELECT * FROM gsle.t VERSION AS OF 1").count())
    failsWithMsg("restore")(t.restore(1))
    failsWithMsg("cloneTo")(t.cloneTo(tmpDir("slog-clone") + "/c", Some(1)))
    // a version that is not a number is named as such, not as expired
    val bad = intercept[IllegalArgumentException](
      spark.read.format("graft").option("snapshot", "v1").load(t.root))
    assert(bad.getMessage.contains("must be an integer, got 'v1'"), bad.getMessage)
  }
}
