package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.stream.IngestStream
import graft.table.{ApplyMode, LakeTable}

/** What one timed window measured. */
final class Stats {
  val op = ArrayBuffer[Double]()     // ms per closed-loop operation
  val narrow = ArrayBuffer[Double]() // ms per narrow `lang` count
  val scan = ArrayBuffer[Double]()   // ms per full content aggregate
  var events = 0L                    // change events applied (read_mix: served by the change feed)
  var eventNs = 0L                   // time those events took
  var walBytes = 0.0                 // WAL bytes behind the applied events
  var lakeBytes = 0.0                // lake bytes written for them
  var sourceRows = 0L                // rows the DSv2 point lookups returned
  var windowNs = 0L
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()

  def expect(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += s"$what: $detail" }
  }
}

/** One workload: a closed loop with one client. `setup` builds the inputs
  * from the seed (timed as set-up), `prepare` computes the reference the
  * output is checked against, `warmUp` runs a small untimed round, `round`
  * runs one closed-loop round and returns false once the generated inputs
  * are used up, `verify` checks the final table.
  */
abstract class Workload(val seed: Long) {
  var spark: SparkSession = _
  var tr: Tracer = new Tracer(false)
  var dir: String = _
  var genMs = 0.0
  /** live rows of the final table, set by the output check */
  var liveRows = 0L
  def setup(d: String): Unit
  def prepare(): Unit = ()
  /** re-create the table handle after the session or the files changed */
  def reopen(): Unit = ()
  /** Keep the data directory and the workload's progress for `restore`. */
  def save(): Unit = Main.copyTree(dir, s"$dir.saved")
  /** Go back to what `save` kept, so that a second window starts from the
    * same table state as the first.
    */
  def restore(): Unit = {
    Main.rm(dir)
    Files.move(Paths.get(s"$dir.saved"), Paths.get(dir))
    reopen()
  }
  def warmUp(st: Stats): Unit = round(st)
  def round(st: Stats): Boolean
  def verify(st: Stats): Unit
  def table: LakeTable

  /** Run rounds until `seconds` have passed or the inputs run out. */
  def window(seconds: Double): Stats = {
    val st = new Stats
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var more = true
    while (more && System.nanoTime() < end) {
      try more = round(st)
      catch {
        case e: Exception =>
          st.attempted += 1; st.failed += 1
          st.problems += s"round failed: $e"
          more = false
      }
    }
    st.windowNs = System.nanoTime() - t0
    st.attempted += st.op.size + st.narrow.size + st.scan.size
    st
  }

  protected def gen(cfg: GenConfig, wal: String, segments: Int): Unit = {
    val t0 = System.nanoTime()
    ChangeLogGen.writeWal(spark, cfg, wal, segments)
    genMs = (System.nanoTime() - t0) / 1e6
  }

  protected def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The two reads every round ends with, through the table API, `times`
    * times over: a round leaves one table state to read.
    */
  protected def readBack(st: Stats, t: LakeTable, times: Int): Unit =
    for (_ <- 0 until times) {
      val (_, a) = ms(tr.span("table.read")(t.read().groupBy("lang").count().collect()))
      val (_, b) = ms(tr.span("table.read")(t.read().agg(count(lit(1)), sum(length(col("content")))).head()))
      st.narrow += a
      st.scan += b
    }

  protected def liveCheck(st: Stats, df: DataFrame, ref: DataFrame): Unit = {
    val (n, h) = Check.fingerprint(df)
    val (rn, rh) = Check.fingerprint(ref)
    st.expect("live rows", n == rn, s"table $n, replay $rn")
    st.expect("row hash sum", h == rh, s"table $h, replay $rh")
    liveRows = n
  }

  protected def committedCheck(st: Stats, cpId: String, sent: Long): Unit = {
    val got = table.currentSnapshot().flatMap(_.committed.get(cpId)).map(_.count).getOrElse(0L)
    st.expect(s"committed batches ($cpId)", got == sent, s"committed $got, sent $sent")
  }
}

/** Steady-state tail: a prebuilt MoR table tailed by `IngestStream` with one
  * WAL segment per trigger and the default auto-compaction. The timed
  * window is one AvailableNow drain over a fixed number of newly delivered
  * segments, the same on every commit.
  */
final class StreamTrickle(seed: Long) extends Workload(seed) {
  val Buckets = 8
  val SegEvents = 1000L
  val PrebuildSegments = 4
  /** The default auto-compaction folds every bucket at its 17th file: at
    * trigger 16 counting the prebuilt file, the 6th of the window, so that a
    * shift of a few triggers either way keeps the one fold inside it.
    */
  val WarmSegments = 10
  val Window = 12
  val OneCoreSegments = 3
  /** a traced run restores the staged segments for its second window */
  val TailSegments = WarmSegments + Window + OneCoreSegments
  val cfg = GenConfig(seed = seed, events = (PrebuildSegments + TailSegments) * SegEvents, maxContentReps = 32)
  var table: LakeTable = _
  var staged = List.empty[Path]
  val delivered = ArrayBuffer[Path]()
  var triggers = 0L
  /** rows of each WAL segment, by file name */
  var segRows = Map.empty[String, Long]
  var drainSpan = -1
  private var saved = (List.empty[Path], 0, 0L)
  /** batchId -> (merge + auto-compaction done, snapshot loaded, version), traced runs only */
  private val batchEnds = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Int)]()

  def setup(d: String): Unit = {
    dir = d
    val all = s"$d/wal-all"
    gen(cfg, all, PrebuildSegments + TailSegments)
    val parts = Main.parts(all)
    val pre = Paths.get(s"$d/prebuild")
    Files.createDirectories(pre)
    parts.take(PrebuildSegments).foreach(p => Main.move(p, pre))
    Files.createDirectories(Paths.get(s"$d/wal"))
    staged = parts.drop(PrebuildSegments).toList
    delivered.clear()
    triggers = 0
    reopen()
    table.merge(spark.read.parquet(pre.toString), "prebuild", 0L)
  }

  override def reopen(): Unit = table = new LakeTable(spark, s"$dir/lake", Buckets, ApplyMode.MergeOnRead)

  /** Counts each segment's rows before any window: Spark's progress
    * reports count a source row each time the engine reads the batch.
    */
  override def prepare(): Unit =
    segRows = spark.read.parquet(s"$dir/wal-all").groupBy(input_file_name()).count().collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap

  override def save(): Unit = { super.save(); saved = (staged, delivered.size, triggers) }

  override def restore(): Unit = {
    super.restore()
    staged = saved._1
    delivered.remove(saved._2, delivered.size - saved._2)
    triggers = saved._3
  }

  override def warmUp(st: Stats): Unit = drain(st, WarmSegments)

  def round(st: Stats): Boolean = drain(st, OneCoreSegments)

  /** One drain of `Window` triggers, whatever `seconds` says. */
  override def window(seconds: Double): Stats = {
    val st = new Stats
    val t0 = System.nanoTime()
    try drain(st, Window)
    catch { case e: Exception => st.attempted += 1; st.failed += 1; st.problems += s"drain failed: $e" }
    st.windowNs = System.nanoTime() - t0
    st.attempted += st.op.size + st.narrow.size + st.scan.size
    st
  }

  private def drain(st: Stats, n: Int): Boolean = {
    if (staged.size < n) return false
    val batch = staged.take(n)
    staged = staged.drop(n)
    val live = Paths.get(s"$dir/wal")
    val bytes = batch.map(p => Files.size(p)).sum
    batch.foreach(p => delivered += Main.move(p, live))
    val before = Main.du(table.root)
    tr.op()
    val t0 = System.nanoTime()
    val q = tr.span("stream.drain") {
      drainSpan = tr.spans.lastOption.map(_.id).getOrElse(-1)
      val q = IngestStream.start(spark, live.toString, table, "tail", s"$dir/cp",
        maxFilesPerTrigger = 1, onBatch = (id, _) => onBatch(id))
      q.awaitTermination()
      q
    }
    val dt = System.nanoTime() - t0
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    progress.foreach(p => st.op += p.durationMs.get("triggerExecution").doubleValue)
    st.events += batch.map(p => segRows(p.getFileName.toString)).sum
    if (tr.enabled) traceTriggers(progress)
    triggers += progress.length
    st.eventNs += dt
    st.walBytes += bytes
    st.lakeBytes += Main.du(table.root) - before
    readBack(st, table, 3)
    true
  }

  /** Runs on the stream thread after each batch's merge and auto-compaction. */
  private def onBatch(batchId: Long): Unit = if (tr.enabled) {
    val a = Tracer.nowUs()
    val v = table.currentSnapshot().map(_.version).getOrElse(0)
    batchEnds.put(batchId, (a, Tracer.nowUs(), v))
  }

  /** Trigger phases from the progress reports; inside addBatch, the merge,
    * the auto-compaction (when the batch committed two versions: from the
    * first SQL execution that reads the table's own files) and the timed
    * snapshot load.
    */
  private def traceTriggers(progress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
    progress.foreach { p =>
      val (ab, abStart) = tr.addTrigger(p, drainSpan)
      Option(batchEnds.get(p.batchId)).foreach { case (end, snapEnd, v) =>
        val prevV = Option(batchEnds.get(p.batchId - 1)).map(_._3).getOrElse(v - 1)
        val compactAt = if (v - prevV >= 2) tr.firstSqlStart(abStart, end, s"${table.root}/data/") else None
        tr.add("table.merge", ab, abStart, compactAt.getOrElse(end))
        compactAt.foreach(c => tr.add("table.compact", ab, c, end))
        tr.add("table.snapshot", ab, end, snapEnd)
      }
    }

  def verify(st: Stats): Unit = {
    val wal = spark.read.parquet((Main.parts(s"$dir/prebuild") ++ delivered).map(_.toString): _*)
    liveCheck(st, table.read(), Check.replay(spark, wal))
    committedCheck(st, "tail", triggers)
    st.expect("one trigger per segment", triggers == delivered.size,
      s"$triggers triggers for ${delivered.size} segments")
  }
}

/** A prebuilt DeletionVector table taking medium update batches through
  * merge + maybeCompact, `PerRound` batches then the two reads per round.
  */
final class DvUpdate(seed: Long) extends Workload(seed) {
  val Buckets = 8
  val Prebuild = 20000L
  val Batch = 2500L
  /** the warm-up batch plus four rounds */
  val MaxBatches = 14
  val PerRound = 3
  val cfg = GenConfig(seed = seed, events = Prebuild + MaxBatches * Batch, filesPerRepo = 400, maxContentReps = 8)
  var wal: String = _
  var table: LakeTable = _
  var sent = 0
  var walBytesPerEvent = 0.0
  private var savedSent = 0

  def setup(d: String): Unit = {
    dir = d
    wal = s"$d/wal"
    gen(cfg, wal, 8)
    reopen()
    table.merge(spark.read.parquet(wal).where(col("lsn") <= Prebuild), "dv", 0L)
    sent = 1
  }

  override def reopen(): Unit = table = new LakeTable(spark, s"$dir/lake", Buckets, ApplyMode.DeletionVector)

  override def save(): Unit = { super.save(); savedSent = sent }

  override def restore(): Unit = { super.restore(); sent = savedSent }

  override def prepare(): Unit = walBytesPerEvent = Main.du(wal).toDouble / cfg.events

  override def warmUp(st: Stats): Unit = round(st, 1)

  def round(st: Stats): Boolean = round(st, PerRound)

  private def round(st: Stats, batches: Int): Boolean = {
    if (sent + batches > MaxBatches) return false
    val w = spark.read.parquet(wal)
    val before = Main.du(table.root)
    var busy = 0L
    for (_ <- 0 until batches) {
      val lo = Prebuild + (sent - 1) * Batch
      tr.op()
      val t0 = System.nanoTime()
      tr.span("table.merge")(table.merge(w.where(col("lsn") > lo && col("lsn") <= lo + Batch), "dv", sent.toLong))
      if (tr.span("table.maybeCompact")(table.maybeCompact())) tr.renameLast("table.compact")
      val dt = System.nanoTime() - t0
      busy += dt
      st.op += dt / 1e6
      sent += 1
      if (tr.enabled) tr.span("table.snapshot")(table.currentSnapshot())
    }
    tr.op()
    val t0 = System.nanoTime()
    readBack(st, table, 2)
    busy += System.nanoTime() - t0
    st.events += batches * Batch
    st.eventNs += busy
    st.walBytes += batches * Batch * walBytesPerEvent
    st.lakeBytes += Main.du(table.root) - before
    true
  }

  def verify(st: Stats): Unit = {
    val applied = spark.read.parquet(wal).where(col("lsn") <= Prebuild + (sent - 1) * Batch)
    liveCheck(st, table.read(), Check.replay(spark, applied))
    committedCheck(st, "dv", sent)
  }
}

/** Read-only loop on a prebuilt MoR table with the change feed on and
  * `Merges` uncompacted delta files per bucket: seeded point lookups through
  * DSv2, a narrow `lang` count, a full content aggregate and a
  * readChangesBetween over a seeded LSN range per round.
  */
final class ReadMix(seed: Long) extends Workload(seed) {
  val Buckets = 8
  val Events = 12000L
  val Merges = 2
  val Lookups = 8
  val CdfRange = 6000L
  val cfg = GenConfig(seed = seed, events = Events, maxContentReps = 32)
  var wal: String = _
  var table: LakeTable = _
  val rnd = new scala.util.Random(seed)
  var keys: Array[(String, String)] = _
  var ref: DataFrame = _
  var refRows = 0L
  var refLangs = Map.empty[String, Long]
  var setupWrite = (0L, 0L)
  /** per (batch, key) the lsn the change feed stores for it */
  var feedLsns: Array[Long] = _
  val lookups = ArrayBuffer[((String, String), Seq[(String, String)])]()
  val feeds = ArrayBuffer[(Long, Long, Long)]()

  def setup(d: String): Unit = {
    dir = d
    wal = s"$d/wal"
    gen(cfg, wal, Merges)
    table = new LakeTable(spark, s"$d/lake", Buckets, ApplyMode.MergeOnRead, defaultCdf = true)
    val w = spark.read.parquet(wal)
    val per = Events / Merges
    for (i <- 0 until Merges)
      table.merge(w.where(col("lsn").between(i * per + 1, (i + 1) * per)), "load", i.toLong)
  }

  override def prepare(): Unit = {
    val w = spark.read.parquet(wal)
    setupWrite = (Main.du(table.root), Main.du(wal))
    val picks = Seq.fill(256)(1L + rnd.nextInt(Events.toInt))
    keys = w.where(col("lsn").isin(picks: _*)).select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1)))
    ref = Check.replay(spark, w).cache()
    refRows = ref.count()
    refLangs = Check.langCounts(ref)
    val per = Events / Merges
    feedLsns = w.groupBy(((col("lsn") - 1) / per).cast("long").as("b"), col("repo"), col("path"))
      .agg(max("lsn")).collect().map(_.getLong(3))
  }

  /** read-only: every window starts from the same table state */
  override def save(): Unit = ()
  override def restore(): Unit = ()

  private def dsv2: DataFrame = spark.read.format("graft").load(table.root)

  /** plan, then execute, a DSv2 query of one kind */
  private def query(kind: String, df: DataFrame): Array[org.apache.spark.sql.Row] = {
    tr.span("sources.plan")(df.queryExecution.executedPlan)
    tr.span(s"sources.$kind")(df.collect())
  }

  def round(st: Stats): Boolean = {
    for (_ <- 0 until Lookups) {
      val k = keys(rnd.nextInt(keys.length))
      tr.op()
      val (rows, t) = ms(query("lookup", dsv2.where(col("repo") === k._1 && col("path") === k._2)
        .select("commit", "content")))
      st.op += t
      st.sourceRows += rows.length
      lookups += k -> rows.toSeq.map(r => (r.getString(0), r.getString(1)))
    }
    tr.op()
    val (langs, a) = ms(query("narrow", dsv2.groupBy("lang").count()))
    st.narrow += a
    tr.op()
    val (agg, b) = ms(query("scan", dsv2.agg(count(lit(1)), sum(length(col("content"))))))
    st.scan += b
    tr.op()
    val lo = rnd.nextInt((Events - CdfRange).toInt).toLong
    val (n, c) = ms(tr.span("table.changes")(table.readChangesBetween(lo, lo + CdfRange).count()))
    st.events += n
    st.eventNs += (c * 1e6).toLong
    st.attempted += 1
    feeds += ((lo, lo + CdfRange, n))
    st.expect("lang counts", langs.map(r => r.getString(0) -> r.getLong(1)).toMap == refLangs,
      s"table ${langs.mkString(",")}, replay $refLangs")
    st.expect("full read rows", agg.head.getLong(0) == refRows, s"table ${agg.head.getLong(0)}, replay $refRows")
    true
  }

  def verify(st: Stats): Unit = {
    st.walBytes = setupWrite._2.toDouble
    st.lakeBytes = setupWrite._1.toDouble
    liveCheck(st, dsv2, ref)
    committedCheck(st, "load", Merges)
    val want = lookups.map(_._1).distinct
    val expected = ref.select(col("repo"), col("path"), col("commit"), col("content"))
      .where(col("repo").isin(want.map(_._1).toSeq: _*)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3))).toMap
    lookups.foreach { case (k, got) =>
      st.expect(s"lookup $k", got == expected.get(k).toSeq, s"table $got, replay ${expected.get(k)}")
    }
    feeds.foreach { case (lo, hi, n) =>
      val want = feedLsns.count(l => l > lo && l <= hi).toLong
      st.expect(s"changes ($lo, $hi]", n == want, s"table $n, WAL $want")
    }
  }
}

object Main {
  val Cores = 4
  val Workloads = Seq("stream_trickle", "dv_update", "read_mix")

  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def du(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def parts(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** copy a directory tree, keeping the mtimes */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** move keeping the mtime, which orders the file stream source */
  def move(p: Path, toDir: Path): Path =
    Files.move(p, toDir.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[cdcbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def workload(name: String, seed: Long): Workload = name match {
    case "stream_trickle" => new StreamTrickle(seed)
    case "dv_update"      => new DvUpdate(seed)
    case "read_mix"       => new ReadMix(seed)
    case other            => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def gcMs: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Set up the streaming workload and run one round of it, so that a JVM
    * run with -XX:ArchiveClassesAtExit archives the classes it loads (nearly
    * all the others load too).
    */
  def train(root: String): Unit = {
    val w = new StreamTrickle(0L)
    w.spark = session(Cores, root)
    w.setup(s"$root/train")
    w.prepare()
    w.round(new Stats)
    w.verify(new Stats)
    w.spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.get("train").contains("1")) { train(opt("data")); System.exit(0) }
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = opt("data")
    val traceOut = opt("trace-out")
    val w = workload(name, seed)
    w.spark = session(Cores, root)
    log("session ready")

    // one cold set-up: the first WAL and tables this JVM builds
    val t0 = System.nanoTime()
    w.setup(s"$root/work")
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set-up: $setupS%.2f s (WAL ${w.genMs / 1000}%.2f s)")
    w.prepare()
    log("reference ready")
    val warm = new Stats
    w.warmUp(warm)
    log(s"warm-up round: ${warm.op.size} ops")

    // a traced run measures the traced window, then goes back to the table
    // state it started from and measures an untraced one; the difference of
    // the two is the tracing overhead plus the JIT warm-up the second window
    // gains from the first
    if (traced) w.save()
    val tr = new Tracer(traced)
    w.tr = tr
    val sc = w.spark.sparkContext
    tr.attach(sc)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val st = w.window(seconds)
    val gc = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tr.detach(sc)
    w.tr = new Tracer(false)
    log(f"window: ${st.op.size} ops in ${st.windowNs / 1e9}%.2f s: ${st.op.map(_.round).mkString(" ")} ms")
    val plain = if (!traced) None else {
      w.verify(st)
      w.restore()
      val x = w.window(seconds)
      log(f"untraced window: ${x.op.size} ops in ${x.windowNs / 1e9}%.2f s")
      Some(x)
    }
    w.verify(plain.getOrElse(st))
    log("verified")
    for (x <- warm +: plain.toSeq) {
      st.attempted += x.attempted
      st.failed += x.failed
      st.problems ++= x.problems
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("events_per_s", st.events / (st.eventNs / 1e9), "events/s"),
        ("op_ms_p50", median(st.op.toSeq), "ms"),
        ("op_ms_p90", pct(st.op.toSeq, 0.9), "ms"),
        ("narrow_ms_p50", median(st.narrow.toSeq), "ms"),
        ("scan_ms_p50", median(st.scan.toSeq), "ms"),
        ("write_amp", st.lakeBytes / st.walBytes, "ratio"),
        ("space_bytes_per_row", du(w.table.root).toDouble / math.max(w.liveRows, 1L), "bytes/row"),
        ("peak_rss_mb", peakRssMb, "MiB"),
        ("ok_op_frac", (st.attempted - st.failed).toDouble / st.attempted, "fraction"))
      else {
        val layers = layerMetrics(tr, st, plain.get, w, w.genMs, gc, heapPeakMb)
        // single-core baseline: a few more triggers of the tail at local[1],
        // per-trigger throughput against the untraced 4-core window's
        val oneCore = if (name != "stream_trickle") Seq(0.0, 0.0) else {
          w.spark.stop()
          w.spark = session(1, root)
          w.reopen()
          val one = new Stats
          w.round(one)
          w.verify(one)
          st.attempted += one.attempted
          st.failed += one.failed
          st.problems ++= one.problems
          def perTrigger(x: Stats) = x.events / (x.op.sum / 1000)
          val e1 = perTrigger(one)
          Seq(e1, perTrigger(plain.get) / (Cores * e1))
        }
        layers ++ Seq(("spark.events_per_s_1core", oneCore(0), "events/s"),
          ("spark.scaling_eff_1to4", oneCore(1), "ratio"))
      }
    st.problems.foreach(p => System.err.println(s"[cdcbench] MISMATCH $p"))
    if (traced) {
      Files.createDirectories(Paths.get(traceOut))
      Files.writeString(Paths.get(s"$traceOut/spans-$name-$seed.json"), tr.spanJson)
      Files.writeString(Paths.get(s"$traceOut/rollup-$name-$seed.json"), rollupJson(tr.rollup()))
    }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""CDCBENCH_RESULT {"correct": ${st.failed == 0}, "attempted": ${st.attempted}, """ +
      s""""failed": ${st.failed}, "metrics": {$body}}""")
    System.out.flush()
    w.spark.stop()
    System.exit(0)
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def layerMetrics(tr: Tracer, st: Stats, plain: Stats, w: Workload, genMs: Double,
                   gc: Double, heapPeakMb: Double): Seq[(String, Double, String)] = {
    val r = tr.rollup()
    def g(n: String) = r.getOrElse(n, new Tracer.Roll)
    val merge = g("table.merge")
    val compact = g("table.compact")
    val exec = g("sources.lookup")
    val trig = g("stream.trigger")
    val snap = w.table.currentSnapshot()
    val (taskMs, cpuMs, spill, jobs) = tr.taskTotals
    val windowMs = st.windowNs / 1e6
    val tracedP50 = median(st.op.toSeq)
    val plainP50 = median(plain.op.toSeq)
    def streamMs(n: String) = g(s"stream.$n").meanMs
    Seq(
      ("table.merge.ms", merge.meanMs, "ms"),
      ("table.merge.jobs", merge.per(merge.jobs), "count"),
      ("table.merge.tasks", merge.per(merge.tasks), "count"),
      ("table.merge.shuffle_bytes", merge.per(merge.shuffleBytes), "bytes"),
      ("table.merge.output_bytes", merge.per(merge.outBytes), "bytes"),
      ("table.compact.ms", compact.meanMs, "ms"),
      ("table.compact.count", compact.calls.toDouble, "count"),
      ("table.compact.bytes_rewritten", compact.outBytes, "bytes"),
      ("table.snapshot.ms", g("table.snapshot").meanMs, "ms"),
      ("table.meta.bytes", du(s"${w.table.root}/meta").toDouble, "bytes"),
      ("table.read.ms", g("table.read").meanMs, "ms"),
      ("table.files.live", snap.map(_.files.size.toDouble).getOrElse(0.0), "count"),
      ("table.dv.rows", snap.map(_.dvRows.toDouble).getOrElse(0.0), "count"),
      ("sources.plan.ms", g("sources.plan").meanMs, "ms"),
      ("sources.exec.ms", exec.meanMs, "ms"),
      ("sources.tasks", exec.per(exec.tasks), "count"),
      ("sources.bytes_read", exec.per(exec.fsBytesRead), "bytes"),
      ("sources.records_read_per_row", if (st.sourceRows == 0) 0.0 else exec.inRecords / st.sourceRows, "ratio"),
      ("sources.shuffle_bytes", exec.per(exec.shuffleBytes), "bytes"),
      ("sources.narrow.ms", g("sources.narrow").meanMs, "ms"),
      ("sources.narrow.bytes_read", g("sources.narrow").per(g("sources.narrow").fsBytesRead), "bytes"),
      ("sources.scan.ms", g("sources.scan").meanMs, "ms"),
      ("sources.scan.bytes_read", g("sources.scan").per(g("sources.scan").fsBytesRead), "bytes"),
      ("sources.scan.shuffle_bytes", g("sources.scan").per(g("sources.scan").shuffleBytes), "bytes"),
      ("table.changes.ms", g("table.changes").meanMs, "ms"),
      ("stream.trigger.ms", trig.meanMs, "ms"),
      ("stream.addBatch.ms", streamMs("addBatch"), "ms"),
      ("stream.walCommit.ms", streamMs("walCommit"), "ms"),
      ("stream.commitLog.ms", streamMs("commitLog"), "ms"),
      ("stream.latestOffset.ms", streamMs("latestOffset"), "ms"),
      ("stream.getBatch.ms", streamMs("getBatch"), "ms"),
      ("stream.queryPlanning.ms", streamMs("queryPlanning"), "ms"),
      ("stream.rows_per_trigger", if (trig.calls == 0) 0.0 else st.events.toDouble / trig.calls, "rows"),
      ("source.records_read", if (trig.calls == 0) 0.0 else st.events.toDouble, "rows"),
      ("source.bytes_read", if (trig.calls == 0) 0.0 else st.walBytes, "bytes"),
      ("spark.task.ms", taskMs, "ms"),
      ("spark.task.cpu_ms", cpuMs, "ms"),
      ("spark.core_busy", taskMs / (windowMs * Cores), "fraction"),
      ("spark.spill_bytes", spill, "bytes"),
      ("spark.jobs", jobs.toDouble, "count"),
      ("jvm.gc.ms", gc, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MiB"),
      ("gen.ms", genMs, "ms"),
      ("trace.overhead_ms", tracedP50 - plainP50, "ms"),
      ("trace.overhead_frac", (tracedP50 - plainP50) / plainP50, "fraction"))
  }

  def rollupJson(r: Map[String, Tracer.Roll]): String =
    r.toSeq.sortBy(_._1).map { case (n, x) =>
      s""""$n": {"calls": ${x.calls}, "total_ms": ${x.totalUs / 1000.0}, "self_ms": ${x.selfUs / 1000.0}, """ +
        s""""jobs": ${x.jobs}, "tasks": ${x.tasks}, "task_ms": ${x.taskMs}, "cpu_ms": ${x.cpuMs}, """ +
        s""""input_bytes": ${x.inBytes}, "input_records": ${x.inRecords}, "output_bytes": ${x.outBytes}, """ +
        s""""shuffle_bytes": ${x.shuffleBytes}, "spill_bytes": ${x.spillBytes}, "fs_bytes_read": ${x.fsBytesRead}}"""
    }.mkString("{\n", ",\n", "\n}\n")
}
