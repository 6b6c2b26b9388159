package graftbench

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spans recorded by the benchmark around each call it makes into an engine
  * layer, plus the Spark work attributed to them.
  *
  * The benchmark is a closed loop with one client, so the spans open on the
  * driver thread nest and never overlap. A Spark job or task is attributed
  * to the innermost span whose interval contains its start (jobs) or its
  * finish (tasks); that also catches work the engine submits from its own
  * threads (the merge pre-pass pool, the stream's micro-batch thread) while
  * the benchmark waits inside the span. Times are epoch microseconds, the
  * clock Spark stamps its listener events with.
  *
  * A disabled tracer runs the body and records nothing, so untraced runs pay
  * only a branch per call.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var nextOp = 0L
  private var curOp = 0L
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val jobStarts = mutable.ArrayBuffer[Long]()
  /** (start, physical plan) of each SQL execution */
  private val sqls = mutable.ArrayBuffer[(Long, String)]()

  /** Start a new operation id: the spans of one closed-loop operation share it. */
  def op(): Unit = { nextOp += 1; curOp = nextOp }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), curOp, nowUs(), -1L)
      spans += s
      open = s :: open
      val read0 = fsBytesRead()
      try body
      finally { s.end = nowUs(); s.bytesRead = fsBytesRead() - read0; open = open.tail }
    }

  /** Rename the span recorded last, once its call showed what it did. */
  def renameLast(name: String): Unit = if (enabled) spans.last.name = name

  /** Record a span whose interval was measured elsewhere (stream phases). */
  def add(name: String, parent: Int, startUs: Long, endUs: Long): Int =
    if (!enabled) -1
    else {
      val s = Span(spans.size, name, parent, curOp, startUs, endUs)
      spans += s
      s.id
    }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.synchronized {
      jobStarts += e.time * 1000L
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => sqls.synchronized(sqls += ((x.time * 1000L, x.physicalPlanDescription)))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += TaskRec(e.taskInfo.launchTime * 1000L, e.taskInfo.finishTime * 1000L,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.inputMetrics.bytesRead.toDouble, m.inputMetrics.recordsRead.toDouble,
          m.outputMetrics.bytesWritten.toDouble,
          (m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead).toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  /** Attach to a context for the traced window. */
  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Detach, after giving the asynchronous listener bus time to deliver the
    * events of the last jobs.
    */
  def detach(sc: SparkContext): Unit = if (enabled) {
    var idle = 0
    var last = -1
    while (idle < 3) {
      Thread.sleep(100)
      val n = tasks.synchronized(tasks.size)
      if (n == last && sc.statusTracker.getActiveJobIds().isEmpty) idle += 1 else idle = 0
      last = n
    }
    sc.removeSparkListener(listener)
  }

  /** Lay out one trigger's phases as spans under `parent`, in the order the
    * micro-batch engine runs them; Spark reports only their durations.
    * Returns the addBatch span's (id, start).
    */
  def addTrigger(p: StreamingQueryProgress, parent: Int): (Int, Long) = {
    val d = p.durationMs
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val total = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val trig = add("stream.trigger", parent, startUs, startUs + total * 1000L)
    var at = startUs
    var addBatch = (-1, startUs)
    for ((key, name) <- StreamPhases) Option(d.get(key)).foreach { ms =>
      val id = add(name, trig, at, at + ms.longValue * 1000L)
      if (key == "addBatch") addBatch = (id, at)
      at += ms.longValue * 1000L
    }
    addBatch
  }

  /** Start of the first SQL execution in [fromUs, toUs] whose physical plan
    * mentions `needle`. (Jobs of a stream all carry the call site of the
    * query's start, so plans are what tells the engine's phases apart.)
    */
  def firstSqlStart(fromUs: Long, toUs: Long, needle: String): Option[Long] = sqls.synchronized(
    sqls.collect { case (t, plan) if t >= fromUs && t <= toUs && plan.contains(needle) => t }.minOption)

  /** Per-span-name rollup: calls, total and self time (span minus the part
    * of it its child spans cover), and the Spark work attributed to spans of
    * that name.
    */
  def rollup(): Map[String, Roll] = {
    val kids = spans.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0L; var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { sum += b - from; reach = b }
      }
      sum
    }
    val out = mutable.Map[String, Roll]()
    spans.foreach { s =>
      val r = out.getOrElseUpdate(s.name, new Roll)
      r.calls += 1
      r.totalUs += s.end - s.start
      r.selfUs += s.end - s.start - covered(s)
      r.fsBytesRead += s.bytesRead
    }
    val sorted = spans.sortBy(_.start).toArray
    def innermost(t: Long): Option[Span] =
      sorted.iterator.filter(s => s.start <= t && t <= s.end)
        .foldLeft(Option.empty[Span])((best, s) => if (best.forall(b => s.start >= b.start)) Some(s) else best)
    jobStarts.synchronized(jobStarts.toList).foreach(t =>
      innermost(t).foreach(s => out(s.name).jobs += 1))
    tasks.synchronized(tasks.toList).foreach { t =>
      innermost(t.endUs).foreach { s =>
        val r = out(s.name)
        r.tasks += 1; r.taskMs += t.runMs; r.cpuMs += t.cpuMs; r.inBytes += t.inBytes
        r.inRecords += t.inRecords; r.outBytes += t.outBytes; r.shuffleBytes += t.shuffleBytes
        r.spillBytes += t.spillBytes
      }
    }
    out.toMap
  }

  /** All tasks and jobs seen while attached (whole-window totals). */
  def taskTotals: (Double, Double, Double, Int) = tasks.synchronized(
    (tasks.map(_.runMs).sum, tasks.map(_.cpuMs).sum, tasks.map(_.spillBytes).sum, jobStarts.size))

  def spanJson: String = spans.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_us":${s.start},"end_us":${s.end},"fs_bytes_read":${s.bytesRead}}""")
    .mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, var name: String, parent: Int, op: Long, start: Long, var end: Long) {
    /** local-filesystem bytes read while the span was open */
    var bytesRead = 0L
  }
  final case class TaskRec(startUs: Long, endUs: Long, runMs: Double, cpuMs: Double, inBytes: Double,
                           inRecords: Double, outBytes: Double, shuffleBytes: Double, spillBytes: Double)

  final class Roll {
    var calls = 0L; var totalUs = 0L; var selfUs = 0L; var jobs = 0L; var tasks = 0L
    var taskMs = 0.0; var cpuMs = 0.0; var inBytes = 0.0; var inRecords = 0.0
    var outBytes = 0.0; var shuffleBytes = 0.0; var spillBytes = 0.0; var fsBytesRead = 0.0
    def meanMs: Double = if (calls == 0) 0.0 else totalUs / 1000.0 / calls
    def per(x: Double): Double = if (calls == 0) 0.0 else x / calls
  }

  /** Micro-batch phases as `durationMs` keys, in execution order. */
  val StreamPhases: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latestOffset", "walCommit" -> "stream.walCommit",
    "getBatch" -> "stream.getBatch", "queryPlanning" -> "stream.queryPlanning",
    "addBatch" -> "stream.addBatch", "commitOffsets" -> "stream.commitLog")

  /** Bytes read through the Hadoop local filesystem, JVM-wide: Spark's
    * task input metrics stay 0 for the engine's DSv2 reader.
    */
  def fsBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}
