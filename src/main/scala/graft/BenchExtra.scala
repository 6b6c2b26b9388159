package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{CdcQueries, Fixtures, TextQueries, RelationalQueries}
import graft.table.{ApplyMode, LakeTable}

/** Round-8 optimization probes (guide §1: measure first, §1.4 noop-sink
  * isolation). NOT part of the driver contract — a separate main so
  * Bench.scala stays frozen. Times the sub-phases of the heaviest battery
  * entries so each optimization targets the phase that actually costs.
  */
object BenchExtra {

  private def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    System.err.println(f"[extra] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val which = if (args.nonEmpty) args.toSet else Set("ingest", "q24", "q39", "q46", "q36", "mv", "q52")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try CdcQueries.prepareFixtures(spark, sfDir) catch { case _: Throwable => () }

    if (which("ingest")) {
      spark.sparkContext.setJobDescription("probe: ingest")
      // replicate cdc_ingest_bench
      val (wal, cfg, _) = (s"${Fixtures.FixtureRoot}/wal_bench",
        graft.gen.GenConfig(seed = 42L, events = 1000000L, repos = 500, filesPerRepo = 50), 20)
      val lakeDir = s"${Fixtures.LakeRoot}/probe_ingest"
      CdcQueries.deleteRec(lakeDir)
      val t = new LakeTable(spark, lakeDir, 32, ApplyMode.MergeOnRead)
      val walDf = spark.read.parquet(wal)
      val nb = 8; val per = cfg.events / nb
      (0 until nb).foreach { i =>
        time(s"ingest merge $i")(
          t.merge(walDf.where(col("lsn").between(i * per + 1, (i + 1) * per)), "probe", i.toLong))
      }
      time("ingest compact")(t.compact())
      time("ingest read+agg")(noop(t.read().groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")))
      // A/B: the same 8-merge loop with the WAL input materialized ONCE
      // (guide §5: a reused DataFrame is worth caching when recompute —
      // 8 parquet scans of the same files — costs more than the memory)
      locally {
        val lakeDir2 = s"${Fixtures.LakeRoot}/probe_ingest2"
        CdcQueries.deleteRec(lakeDir2)
        val t2 = new LakeTable(spark, lakeDir2, 32, ApplyMode.MergeOnRead)
        val cached = spark.read.parquet(wal).persist()
        time("ingest8 persisted-wal total") {
          (0 until nb).foreach { i =>
            t2.merge(cached.where(col("lsn").between(i * per + 1, (i + 1) * per)), "probe2", i.toLong)
          }
          t2.compact()
          noop(t2.read().groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang"))
        }
        cached.unpersist()
      }
      // isolate the component jobs of ONE merge-equivalent batch
      val b0 = walDf.where(col("lsn").between(1, per))
      time("phase pre-pass groupBy(bucket)")(
        b0.groupBy(pmod(xxhash64(col("repo"), col("path")), lit(32L)).cast("int").as("b"))
          .agg(count(lit(1)).as("n"), sum(when(col("lsn") <= -1L, 1L).otherwise(0L)).as("stale"))
          .collect())
      val cleaned = b0.select(col("repo"), col("path"), col("commit"),
        graft.model.LangRules.langFor(col("path")).as("lang"), col("content"),
        when(col("content").isNull, lit(null)).otherwise(sha2(col("content"), 256)).as("contentSha"),
        col("lsn"), (col("op") === "D").as("deleted"))
        .withColumn("b", pmod(xxhash64(col("repo"), col("path")), lit(32L)).cast("int"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("b", "repo", "path").orderBy(col("lsn").desc, col("commit").desc)
      val resolved = cleaned.repartition(32, col("b"))
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
      val outDir = s"${Fixtures.LakeRoot}/probe_write"
      time("phase resolve+write (bloom on)")(
        resolved.write.partitionBy("b").mode("overwrite")
          .option("parquet.bloom.filter.enabled#repo", "true")
          .option("parquet.bloom.filter.enabled#path", "true")
          .option("parquet.bloom.filter.enabled#contentSha", "true")
          .option("parquet.bloom.filter.adaptive.enabled", "true").parquet(outDir))
      time("phase resolve+write (bloom off)")(
        resolved.write.partitionBy("b").mode("overwrite").parquet(s"${outDir}2"))
      time("phase resolve only (noop)")(noop(resolved))
      time("phase clean only (noop)")(noop(cleaned))
      time("phase raw scan (noop)")(noop(b0))
      time("phase tombstone count")(
        spark.read.parquet(outDir).agg(sum(when(col("deleted"), 1L).otherwise(0L))).collect())
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q24")) {
      spark.sparkContext.setJobDescription("probe: q24 stages (round-8 exploded shape)")
      val ws = col("ws")
      def explodedShingles() = RelationalQueries.T(spark, sfDir, "documents")
        .select(col("doc_id"), TextQueries.tokens(col("text")).as("ws"))
        .where(size(ws) >= 3)
        .select(col("doc_id"), ws, explode(sequence(lit(1), size(ws) - 2)).as("i"))
        .select(col("doc_id"), concat_ws(" ",
          element_at(ws, col("i")), element_at(ws, col("i") + 1),
          element_at(ws, col("i") + 2)).as("s"))
      time("q24 exploded shingles noop")(noop(explodedShingles()))
      time("q24 exploded shingles noop x2")(noop(explodedShingles()))
      // micro-attribution of the generation
      def base = RelationalQueries.T(spark, sfDir, "documents")
        .select(col("doc_id"), TextQueries.tokens(col("text")).as("ws"))
        .where(size(ws) >= 3)
      time("q24 gen: tokens+filter only")(noop(base))
      time("q24 gen: +explode positions")(noop(
        base.select(col("doc_id"), ws, explode(sequence(lit(1), size(ws) - 2)).as("i"))))
      time("q24 gen: +explode positions drop ws")(noop(
        base.select(col("doc_id"), ws, explode(sequence(lit(1), size(ws) - 2)).as("i"))
          .select("doc_id", "i")))
      time("q24 gen: full (concat_ws)")(noop(explodedShingles()))
      System.err.println(s"[extra] q24 docs=${RelationalQueries.T(spark, sfDir, "documents").count()} " +
        s"shingle rows=${explodedShingles().count()}")
      val sh = time("q24 dedup+localCheckpoint")(
        explodedShingles().dropDuplicates("doc_id", "s").localCheckpoint())
      val k = 16; val rows = 4
      val sigCols = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"__m$i")) :+
        count(lit(1)).as("__nsh")
      val sig = time("q24 sig agg+localCheckpoint")(
        sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*).localCheckpoint())
      val sigArr = array((0 until k).map(i => col(s"__m$i")): _*)
      val bandCols = (0 until k / rows).map(b =>
        struct(lit(b).as("band"), hash(slice(sigArr, b * rows + 1, rows)).as("bh")))
      val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      val a = bands.as("a"); val b = bands.as("b")
      val cand0 = a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      time("q24 cand noop")(noop(cand0))
      val cand = time("q24 dump")(Fixtures.dump(cand0, s"${Fixtures.FixtureRoot}/probe_q24c"))
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__i"))
      time("q24 verify noop")(noop(inter))
      spark.sparkContext.setJobDescription(null)
    }

    if (which("dv")) {
      spark.sparkContext.setJobDescription("probe: cdc_snapshot_dv phases")
      val t = new LakeTable(spark, s"${Fixtures.LakeRoot}/sm_dv")
      val snap = t.currentSnapshot().get
      System.err.println(s"[extra] dv files=${snap.files.size} dvFiles=${snap.dvFiles.size}")
      def sel(df: org.apache.spark.sql.DataFrame) = df
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("contentSha").as("content_sha"))
      (1 to 2).foreach { i =>
        time(s"dv raw (no dvs) $i")(noop(sel(t.readRaw(None).where(!col("deleted")))))
        time(s"dv sidecar scan $i")(noop(
          spark.read.parquet(snap.dvFiles.map(t.resolvePath): _*)))
        time(s"dv full read $i")(noop(sel(t.read())))
        time(s"dv full read+sort $i")(noop(sel(t.read()).orderBy("repo", "path")))
      }
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q39")) {
      spark.sparkContext.setJobDescription("probe: q39 dsv2 dv")
      val dv = s"${Fixtures.LakeRoot}/sm_dv"
      time("q39 dsv2 read noop x1")(noop(spark.read.format("graft").load(dv)))
      time("q39 dsv2 read noop x2")(noop(spark.read.format("graft").load(dv)))
      time("q39 dsv2 read+sort noop")(noop(spark.read.format("graft").load(dv)
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("contentSha"))
        .orderBy("repo", "path")))
      val t = new LakeTable(spark, dv)
      time("q39 laketable read noop")(noop(t.read()))
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q46")) {
      spark.sparkContext.setJobDescription("probe: q46 tail")
      (1 to 2).foreach { i =>
        time(s"q46 full drain $i") {
          import org.apache.spark.sql.streaming.Trigger
          val t = new LakeTable(spark, s"${Fixtures.LakeRoot}/sm_mor")
          val cp = java.nio.file.Files.createTempDirectory("probeq46").toString
          val q = spark.readStream.format("graft").option("changeFeed", "true").load(t.root)
            .select(col("repo"), col("path"), col("lsn"), col("commit"), col("deleted"))
            .writeStream.format("memory").queryName(s"probe_q46_$i")
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        time(s"q46 sink read $i")(noop(spark.table(s"probe_q46_$i").orderBy("lsn", "repo", "path")))
      }
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q36")) {
      spark.sparkContext.setJobDescription("probe: q36 quantiles")
      val ev = RelationalQueries.T(spark, sfDir, "events")
      time("q36 count")(ev.select(col("value")).where(col("value").isNotNull).count())
      Seq(0.5, 0.9, 0.99).foreach { p =>
        time(s"q36 quantile $p")(graft.operators.Quantiles.exactQuantile(ev, col("value"), p))
      }
      spark.sparkContext.setJobDescription(null)
    }

    if (which("mv")) {
      spark.sparkContext.setJobDescription("probe: mv apply phases")
      val up = CdcQueries.smLakeMode(spark, ApplyMode.MergeOnRead, "sm_fullcdf", "smfcdf", cdfFull = true)
      val fold = CdcQueries.smMvProbeBase(spark, "sm_mvap", 64, "smmvap")
      val changes = time("mv readChangesBetween noop")(
        { val c = up.readChangesBetween(40000L, 50000L).persist(); noop(c); c })
      time("mv deltaBuckets")(fold.deltaBuckets(changes, 64))
      val ev = fold.eventsFor(changes)
      time("mv eventsFor noop")(noop(ev))
      val evP = ev.persist()
      time("mv eventsFor materialize")(noop(evP))
      time("mv merge(cached events)")(fold.mv.merge(evP, "smmvap", 50000L))
      evP.unpersist(); changes.unpersist()
      time("mv read")(noop(fold.read("g").orderBy("g")))
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q47")) {
      spark.sparkContext.setJobDescription("probe: q47 phases")
      import org.apache.spark.sql.streaming.Trigger
      val bronze = CdcQueries.smLakeMode(spark, ApplyMode.MergeOnRead, "sm_mor", "smmor")
      (1 to 2).foreach { i =>
        val silverDir = s"${Fixtures.LakeRoot}/probe_silver"
        CdcQueries.deleteRec(silverDir)
        val cp = java.nio.file.Files.createTempDirectory("probeq47").toString
        time(s"q47 drain+sink $i") {
          val q = spark.readStream.format("graft").option("changeFeed", "true").load(bronze.root)
            .select(col("repo"), col("path"), col("commit"),
              lit(null).cast("string").as("lang"),
              substring(col("content"), 1, 64).as("content"),
              lit(null).cast("string").as("contentSha"), col("lsn"))
            .writeStream.format("graft")
            .option("path", silverDir).option("create", "true")
            .option("mode", "mor").option("buckets", "16")
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        time(s"q47 silver read $i")(noop(new LakeTable(spark, silverDir).read()
          .select(col("repo"), col("path"), col("commit"), col("lang"),
            col("contentSha").as("content_sha")).orderBy("repo", "path")))
      }
      spark.sparkContext.setJobDescription(null)
    }

    if (which("tc")) {
      spark.sparkContext.setJobDescription("probe: compact_targeted phases")
      import graft.queries.CdcQueries.smCfg
      CdcQueries.ensureSmWal(spark)
      val root = s"${Fixtures.LakeRoot}/sm_tc"
      val t = new LakeTable(spark, root, 16, ApplyMode.MergeOnRead)
      if (t.currentSnapshot().get.version > 8) time("tc restore")(t.restore(8))
      val snap = t.currentSnapshot().get
      val hot = snap.files.groupBy(_.bucket).toSeq.sortBy(-_._2.size).take(2).map(_._1).toSet
      time("tc compactBuckets")(t.compactBuckets(hot))
      time("tc read")(noop(t.read()
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          col("contentSha").as("content_sha")).orderBy("repo", "path")))
      time("tc read 2")(noop(t.read()
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          col("contentSha").as("content_sha")).orderBy("repo", "path")))
      // A/B: the pre-split shape (one global latest-per-key over all buckets)
      def oldRead() = LakeTable.latestPerKey(t.readRaw(None))
        .where(!col("deleted"))
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          col("contentSha").as("content_sha")).orderBy("repo", "path")
      time("tc read OLD shape")(noop(oldRead()))
      time("tc read OLD shape 2")(noop(oldRead()))
      time("tc read 3")(noop(t.read()
        .select(col("repo"), col("path"), col("commit"), col("lang"),
          col("contentSha").as("content_sha")).orderBy("repo", "path")))
      spark.sparkContext.setJobDescription(null)
    }

    if (which("meta")) {
      spark.sparkContext.setJobDescription("probe: metadata costs")
      // snapshot hydration cost (VERSION probe + snap JSON + manifests) on
      // a 5-commit and an 8-commit lake — this runs on EVERY LakeTable
      // call site (nBuckets/mode getters included)
      Seq("sm_cow" -> s"${Fixtures.LakeRoot}/sm_cow",
          "bench"  -> s"${Fixtures.LakeRoot}/bench_wal_bench").foreach { case (n, dir) =>
        val t = new LakeTable(spark, dir)
        t.currentSnapshot() // warm fs
        val t0 = System.nanoTime()
        val reps = 200
        (0 until reps).foreach(_ => t.currentSnapshot())
        System.err.println(f"[extra] meta currentSnapshot($n) avg: ${(System.nanoTime() - t0) / 1e6 / reps}%.2f ms")
      }
      // raw atomicWrite cost (ledger/VERSION-style small file)
      val f = new graft.table.Fs(spark.sessionState.newHadoopConf())
      val scratch = s"${Fixtures.LakeRoot}/probe_meta"
      f.deleteRecursive(scratch)
      f.mkdirs(scratch)
      // sub-steps of one atomicWrite: tmp create+write+close vs the rename
      locally {
        val hp = new org.apache.hadoop.fs.Path(s"$scratch/sub.json")
        val hfs = hp.getFileSystem(spark.sessionState.newHadoopConf())
        val t0 = System.nanoTime()
        (0 until 50).foreach { i =>
          val tmp = new org.apache.hadoop.fs.Path(s"$scratch/sub-$i.tmp")
          val o = hfs.create(tmp, true); o.write(123); o.close()
        }
        System.err.println(f"[extra] meta tmp create+write avg: ${(System.nanoTime() - t0) / 1e6 / 50}%.2f ms")
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(hfs.getUri, spark.sessionState.newHadoopConf())
        val t1 = System.nanoTime()
        (0 until 50).foreach { i =>
          fc.rename(new org.apache.hadoop.fs.Path(s"$scratch/sub-$i.tmp"),
            new org.apache.hadoop.fs.Path(s"$scratch/sub-$i.done"),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        }
        System.err.println(f"[extra] meta fc.rename avg: ${(System.nanoTime() - t1) / 1e6 / 50}%.2f ms")
        // FileSystem-API alternatives
        (0 until 50).foreach { i =>
          val o = hfs.create(new org.apache.hadoop.fs.Path(s"$scratch/fsr-$i.tmp"), true); o.write(123); o.close()
        }
        val t2 = System.nanoTime()
        (0 until 50).foreach { i =>
          hfs.rename(new org.apache.hadoop.fs.Path(s"$scratch/fsr-$i.tmp"),
            new org.apache.hadoop.fs.Path(s"$scratch/fsr-$i.done"))
        }
        System.err.println(f"[extra] meta fs.rename avg: ${(System.nanoTime() - t2) / 1e6 / 50}%.2f ms")
        val raw = hfs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRawFileSystem
        val t3 = System.nanoTime()
        (0 until 50).foreach { i =>
          val o = raw.create(new org.apache.hadoop.fs.Path(s"$scratch/raw-$i.tmp"), true); o.write(123); o.close()
        }
        System.err.println(f"[extra] meta raw.create avg: ${(System.nanoTime() - t3) / 1e6 / 50}%.2f ms")
        val t4 = System.nanoTime()
        (0 until 50).foreach { i =>
          raw.rename(new org.apache.hadoop.fs.Path(s"$scratch/raw-$i.tmp"),
            new org.apache.hadoop.fs.Path(s"$scratch/raw-$i.done"))
        }
        System.err.println(f"[extra] meta raw.rename avg: ${(System.nanoTime() - t4) / 1e6 / 50}%.2f ms")
        System.err.println("[extra] meta native hadoop loaded: " +
          org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      }
      val t1 = System.nanoTime()
      (0 until 100).foreach(i => f.atomicWrite(s"$scratch/w-$i.json", "{\"x\":1}"))
      System.err.println(f"[extra] meta atomicWrite avg: ${(System.nanoTime() - t1) / 1e6 / 100}%.2f ms")
      val t2 = System.nanoTime()
      (0 until 100).foreach(i => f.atomicCreate(s"$scratch/c-$i.json", "{\"x\":1}"))
      System.err.println(f"[extra] meta atomicCreate avg: ${(System.nanoTime() - t2) / 1e6 / 100}%.2f ms")
      // delete/list costs (deleteRec opens every merge-heavy entry; listing
      // runs per commit in fileStats)
      val big = s"$scratch/bigdir"
      (0 until 8).foreach { d =>
        f.mkdirs(s"$big/b=$d")
        (0 until 40).foreach(i => f.atomicWrite(s"$big/b=$d/part-$i.parquet", "x" * 100))
      }
      val t3 = System.nanoTime()
      val n = (0 until 8).map(d => f.listFiles(s"$big/b=$d", _.endsWith(".parquet")).size).sum
      System.err.println(f"[extra] meta list 8 dirs/$n files: ${(System.nanoTime() - t3) / 1e6}%.1f ms")
      val t4 = System.nanoTime()
      f.deleteRecursive(big)
      System.err.println(f"[extra] meta deleteRecursive 320 files: ${(System.nanoTime() - t4) / 1e6}%.1f ms")
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q28")) {
      spark.sparkContext.setJobDescription("probe: q28 stages")
      graft.functions.native.register(spark)
      val e = RelationalQueries.T(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = e.where(col("vec_id") < 40).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + lit(0.125d)).otherwise(x)).as("v"))
      val aug = e.unionByName(planted)
      val ts = graft.queries.VectorQueries.tables(8, 4, 64)
      val withB = aug.select(col("vec_id"),
        explode(graft.queries.VectorQueries.lshBuckets(col("v"), ts)).as("bucket"))
      time("q28 buckets noop")(noop(withB))
      val q = withB.select(col("vec_id").as("qid"), col("bucket"))
      val c = withB.select(col("vec_id").as("nid"), col("bucket"))
      val cand0 = q.join(c, Seq("bucket")).where(col("qid") =!= col("nid"))
        .select("qid", "nid").distinct().where(col("qid") < col("nid"))
      time("q28 cand noop")(noop(cand0))
      val cand = time("q28 dump")(Fixtures.dump(cand0, s"${Fixtures.FixtureRoot}/probe_q28c"))
      val ver = cand
        .join(aug.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
        .join(aug.select(col("vec_id").as("nid"), col("v").as("cv")), Seq("nid"))
        .withColumn("sim", graft.functions.native.cosine(col("qv"), col("cv")))
        .where(col("sim") >= 0.95)
        .select(col("qid").as("ida"), col("nid").as("idb"), round(col("sim"), 4).as("sim"))
        .orderBy("ida", "idb")
      time("q28 verify noop")(noop(ver))
      spark.sparkContext.setJobDescription(null)
    }

    if (which("q52")) {
      spark.sparkContext.setJobDescription("probe: q52 phases (round-8 shape)")
      val L = 64
      val gram = col("text").substr(col("i"), lit(L))
      val raw = RelationalQueries.T(spark, sfDir, "documents").where(length(col("text")) >= L)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (L - 1))).as("i"))
        .select(col("doc_id"),
          struct(xxhash64(gram).as("h1"), xxhash64(gram, lit(L.toLong)).as("h2")).as("g"))
      time("q52 raw grams noop")(noop(raw))
      time("q52 raw grams noop x2")(noop(raw))
      // how much of the generation is the double xxhash64 vs the generate?
      val oneHash = RelationalQueries.T(spark, sfDir, "documents").where(length(col("text")) >= L)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (L - 1))).as("i"))
        .select(col("doc_id"), xxhash64(gram).as("h1"))
      time("q52 one-hash grams noop")(noop(oneHash))
      val noHash = RelationalQueries.T(spark, sfDir, "documents").where(length(col("text")) >= L)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (L - 1))).as("i"))
        .select(col("doc_id"), col("i"))
      time("q52 no-hash explode noop")(noop(noHash))
      val uniq = raw.repartition(col("g")).dropDuplicates("g", "doc_id")
      val out = uniq
        .withColumn("nd", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")))
        .where(col("nd") >= 2)
        .groupBy("doc_id").agg(count(lit(1)).as("dup_windows")).orderBy("doc_id")
      time("q52 full noop")(noop(out))
      spark.sparkContext.setJobDescription(null)
    }

    spark.stop()
  }
}
