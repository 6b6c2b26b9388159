package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** graft tables as a Structured Streaming SOURCE: the CDC tail delivers
  * per-commit winners by LSN range, resumes exactly from its checkpoint,
  * honours admission control, and hides tombstones unless changeFeed.
  */
class GraftStreamSourceSpec extends SparkSpec {

  val cfg = GenConfig(seed = 55, events = 3000, repos = 8, filesPerRepo = 10)
  val batches = 3
  val per: Long = cfg.events / batches

  private def buildMor(): LakeTable = {
    val t = new LakeTable(spark, tmpDir("tail"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    (0 until batches).foreach { i =>
      t.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), "tail", i.toLong)
    }
    t
  }

  /** per-(key, commit-batch) winners of the WAL — what a mor tail delivers */
  private def expectedFeed(includeDeletes: Boolean): Set[(String, String, Long)] = {
    val wal = ChangeLogGen.changeLog(spark, cfg)
    val w = Window.partitionBy(col("repo"), col("path"),
        ((col("lsn") - 1) / per).cast("long"))
      .orderBy(col("lsn").desc, col("commit").desc)
    val winners = wal.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    val kept = if (includeDeletes) winners else winners.where(col("op") =!= "D")
    kept.select("repo", "path", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  private def got(df: DataFrame): Set[(String, String, Long)] =
    df.select("repo", "path", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  private def runToMemory(root: String, name: String, opts: Map[String, String]): DataFrame = {
    val reader = spark.readStream.format("graft")
    opts.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir(s"cp$name"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("changeFeed tail of a mor lake = per-commit winners incl. tombstones") {
    val t = buildMor()
    val out = runToMemory(t.root, "tail_cf", Map("changeFeed" -> "true"))
    assert(out.columns.contains("deleted"), "changeFeed must expose the tombstone flag")
    assert(got(out) == expectedFeed(includeDeletes = true))
    // tombstones are real delete events
    assert(out.where(col("deleted")).count() > 0)
  }

  test("default tail is upsert-only (tombstones dropped, no deleted column)") {
    val t = buildMor()
    val out = runToMemory(t.root, "tail_up", Map.empty)
    assert(!out.columns.contains("deleted"))
    assert(got(out) == expectedFeed(includeDeletes = false))
  }

  test("checkpoint resume: a restarted tail delivers ONLY the new commits") {
    val t = buildMor()
    val cp = tmpDir("cpresume")
    val outDir = tmpDir("tailout")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").option("changeFeed", "true").load(t.root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == expectedFeed(includeDeletes = true).size)
    // nothing new: a rerun appends zero rows (exactly-once on the tail)
    runOnce()
    assert(spark.read.parquet(outDir).count() == n1)
    // one more commit: only its winners arrive
    val extra = ChangeLogGen.changeLog(spark, cfg.copy(events = cfg.events + 500))
      .where(col("lsn") > cfg.events)
    t.merge(extra, "tail", batches.toLong)
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() > n1)
    assert(all.where(col("lsn") <= cfg.events).count() == n1,
      "old ranges must not be re-delivered")
  }

  test("admission control: maxLsnsPerTrigger splits the backlog, same result") {
    val t = buildMor()
    assert(t.currentSnapshot().get.cdfSinceLsn < 0, "the tail must read data files, not sidecars")
    // 700-lsn triggers cut through every 1000-lsn commit's delta files
    val out = runToMemory(t.root, "tail_rate",
      Map("changeFeed" -> "true", "maxLsnsPerTrigger" -> "700"))
    assert(got(out) == expectedFeed(includeDeletes = true))
    val lsns = out.select("lsn").collect().map(_.getLong(0)).toSeq
    assert(lsns.size == lsns.distinct.size, "an lsn was delivered twice")
  }

  test("bad tail options fail naming the option and quoting the value") {
    val root = tmpDir("tail_badopts")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("repo STRING, lsn BIGINT")
    // a 0 cap would never advance the tail; a negative one ends below the start
    for ((k, v) <- Seq("maxLsnsPerTrigger" -> "0", "maxLsnsPerTrigger" -> "-5",
        "maxLsnsPerTrigger" -> "lots", "startLsn" -> "soon", "changeTypes" -> "yes")) {
      val e = intercept[IllegalArgumentException](
        new graft.sources.GraftMicroBatchStream(root, schema, Map(k.toLowerCase -> v)))
      assert(e.getMessage.contains(k) && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    // through load(): the schema is inferred from the options first
    val t = new LakeTable(spark, tmpDir("tail_badload"), defaultBuckets = 2, ApplyMode.MergeOnRead)
    t.merge(ChangeLogGen.changeLog(spark, cfg.copy(events = 50)), "bad", 0L)
    for (k <- Seq("changeTypes", "changeFeed")) {
      val e = intercept[IllegalArgumentException](
        spark.readStream.format("graft").option(k, "yes").load(t.root))
      assert(e.getMessage.contains(k) && e.getMessage.contains("'yes'"), e.getMessage)
    }
  }

  test("readStream.table over the SQL catalog tails by name") {
    val warehouse = tmpDir("tailcat")
    spark.conf.set("spark.sql.catalog.gtail", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtail.root", warehouse)
    val t = new LakeTable(spark, s"$warehouse/feed", defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    (0 until batches).foreach { i =>
      t.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), "tc", i.toLong)
    }
    val q = spark.readStream.table("gtail.feed")
      .writeStream.format("memory").queryName("tail_cat")
      .option("checkpointLocation", tmpDir("cptailcat"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(got(spark.table("tail_cat")) == expectedFeed(includeDeletes = false))
  }

  test("two independent sink queries into one table do not shadow each other") {
    val bronze = buildMor()
    val target = tmpDir("sink2q")
    def pipe(cpTag: String, lo: Long, hi: Long): Unit = {
      val q = spark.readStream.format("graft").option("changeFeed", "true").load(bronze.root)
        .where(col("lsn").between(lo, hi))
        .select(col("repo"), col("path"), col("commit"),
          col("lang"), col("content"), col("contentSha"), col("lsn"))
        .writeStream.format("graft")
        .option("path", target).option("create", "true").option("mode", "mor")
        .option("buckets", "4").option("checkpointLocation", tmpDir(cpTag))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // both queries deliver batchId 0,1,... — distinct checkpoints must map
    // to distinct exactly-once keys or the second query's batches vanish
    pipe("cpA", 1, per)
    pipe("cpB", per + 1, cfg.events)
    val t = new LakeTable(spark, target)
    val expect = new LakeTable(spark, bronze.root).read().count()
    assert(t.read().count() == expect,
      "second query's batches must not be swallowed by the first query's commit ids")
  }

  test("medallion loop: bronze tail → transform → graft streaming SINK (silver)") {
    val bronze = buildMor()
    val silver = tmpDir("silver")
    val cp = tmpDir("cpmed")
    def run(): Unit = {
      val q = spark.readStream.format("graft").option("changeFeed", "true").load(bronze.root)
        .select(col("repo"), col("path"), col("commit"),
          lit(null).cast("string").as("lang"),
          substring(col("content"), 1, 64).as("content"), // null (tombstone) stays null
          lit(null).cast("string").as("contentSha"), col("lsn"))
        .writeStream.format("graft")
        .option("path", silver).option("create", "true")
        .option("mode", "mor").option("buckets", "4")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val st = new LakeTable(spark, silver)
    def silverState() = collectSorted(
      st.read().select("repo", "path", "commit", "lang", "contentSha", "lsn"))
    def expected() = collectSorted(new LakeTable(spark, bronze.root).read()
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(substring(col("content"), 1, 64), 256).as("contentSha"), col("lsn")))
    assert(silverState() == expected(), "silver must be bronze's resolved state, transformed")
    // nothing new: a rerun commits nothing (offsets + snapshot both agree)
    val v = st.currentSnapshot().get.version
    run()
    assert(st.currentSnapshot().get.version == v, "empty rerun must not commit")
    // one more bronze commit flows through incrementally
    val extra = ChangeLogGen.changeLog(spark, cfg.copy(events = cfg.events + 300))
      .where(col("lsn") > cfg.events)
    bronze.merge(extra, "tail", batches.toLong)
    run()
    assert(silverState() == expected(), "incremental silver must track bronze")
  }

  test("startLsn skips the history below the cursor") {
    val t = buildMor()
    val out = runToMemory(t.root, "tail_start",
      Map("changeFeed" -> "true", "startLsn" -> per.toString))
    val exp = expectedFeed(includeDeletes = true).filter(_._3 > per)
    assert(got(out) == exp)
  }

  test("startingTimestamp tails from the last snapshot at or before the instant") {
    val t = new LakeTable(spark, tmpDir("tailts"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, cfg)
    t.merge(wal.where(col("lsn").between(1, per)), "tailts", 0L)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    (1 until batches).foreach { i =>
      t.merge(wal.where(col("lsn").between(i * per + 1, (i + 1) * per)), "tailts", i.toLong)
    }
    // from `between`: only commits 2..n (lsn > per) arrive
    val out = runToMemory(t.root, "tail_ts",
      Map("changeFeed" -> "true", "startingTimestamp" -> between.toString))
    assert(got(out) == expectedFeed(includeDeletes = true).filter(_._3 > per))
    // a pre-table timestamp tails everything (lenient lower end)
    val all = runToMemory(t.root, "tail_ts_all",
      Map("changeFeed" -> "true", "startingTimestamp" -> "1000"))
    assert(got(all) == expectedFeed(includeDeletes = true))
    // both bounds given: reject
    val e = intercept[Exception] {
      runToMemory(t.root, "tail_ts_bad",
        Map("startLsn" -> "5", "startingTimestamp" -> between.toString))
    }
    assert(e.getMessage.contains("not both") ||
      Option(e.getCause).exists(_.getMessage.contains("not both")), e.toString)
  }

  /** expected change types: winner per (key, commit batch), typed from the
    * key's previous stored version (absent/deleted → insert; live →
    * update_postimage; tombstone → delete)
    */
  private def expectedTyped(): Set[(String, String, Long, String)] = {
    val wal = ChangeLogGen.changeLog(spark, cfg)
    val w = Window.partitionBy(col("repo"), col("path"),
        ((col("lsn") - 1) / per).cast("long"))
      .orderBy(col("lsn").desc, col("commit").desc)
    val winners = wal.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    val hist = Window.partitionBy("repo", "path").orderBy(col("lsn"), col("commit"))
    winners.withColumn("prev_op", lag("op", 1).over(hist))
      .select(col("repo"), col("path"), col("lsn"),
        when(col("op") === "D", "delete")
          .when(col("prev_op").isNull || col("prev_op") === "D", "insert")
          .otherwise("update_postimage").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
  }

  test("changeTypes tail: insert/update_postimage/delete from prior stored state") {
    val t = buildMor()
    assert(t.currentSnapshot().get.files.forall(_.sorted),
      "fixture deltas must be sorted (streaming per-key merge path)")
    val out = runToMemory(t.root, "tail_types", Map("changeTypes" -> "true"))
    assert(out.columns.contains("_change_type"))
    val gotTyped = out.select("repo", "path", "lsn", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(gotTyped == expectedTyped())
    // the vocabulary is exactly Delta CDF's
    assert(gotTyped.map(_._4).subsetOf(Set("insert", "update_postimage", "delete")))
  }

  test("changeTypes across rate-limited micro-batches: prior state crosses the batch boundary") {
    val t = buildMor()
    // 700-lsn batches: a key inserted in one micro-batch and updated in a
    // later one must type the second change update_postimage, not insert
    val out = runToMemory(t.root, "tail_types_rl",
      Map("changeTypes" -> "true", "maxLsnsPerTrigger" -> "700"))
    val gotTyped = out.select("repo", "path", "lsn", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(gotTyped == expectedTyped())
  }
}
