package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.gen.{ChangeLogGen, GenConfig}
import graft.table.{ApplyMode, LakeTable}

/** Every engine parquet open goes through `LakeTable.openParquet`, which
  * builds its read options from the caller's Hadoop conf. parquet's
  * options-less `ParquetFileReader.open(InputFile)` builds them from a
  * fresh `Configuration(true)` and re-parses Hadoop's default XML on every
  * open. The first case measures both; the second keeps a new call site
  * from bringing the cost back.
  */
class ParquetOpenSpec extends SparkSpec {

  /** counts `core-default.xml` lookups: a Hadoop `Configuration` captures
    * the thread context loader when it is built and asks it for each
    * default resource when it first loads its properties
    */
  private final class CountingLoader(parent: ClassLoader) extends ClassLoader(parent) {
    val lookups = new AtomicInteger()
    override def getResource(name: String): java.net.URL = {
      if (name == "core-default.xml") lookups.incrementAndGet()
      super.getResource(name)
    }
  }

  private def lookupsDuring(body: => Unit): Int = {
    val th = Thread.currentThread()
    val prev = th.getContextClassLoader
    val loader = new CountingLoader(prev)
    th.setContextClassLoader(loader)
    try body finally th.setContextClassLoader(prev)
    loader.lookups.get()
  }

  test("openParquet parses no default config; the options-less open parses it once per file") {
    val t = new LakeTable(spark, tmpDir("popen"), defaultBuckets = 4, ApplyMode.MergeOnRead)
    val wal = ChangeLogGen.changeLog(spark, GenConfig(seed = 5, events = 2000, repos = 5, filesPerRepo = 40))
    t.merge(wal.where(col("lsn") <= 1000), "po", 0L)
    t.merge(wal.where(col("lsn") > 1000), "po", 1L)
    val snap = t.currentSnapshot().get
    val files = snap.files.map(f => t.resolvePath(f.path))
    assert(files.size >= 8, s"expected two commits over 4 buckets, got ${files.size} files")
    val conf = spark.sessionState.newHadoopConf()
    var rows = 0L
    val viaHelper = lookupsDuring(files.foreach { f =>
      val r = LakeTable.openParquet(f, conf)
      try rows += r.getRecordCount finally r.close()
    })
    assert(rows == snap.totalRows, "the helper must open the engine's files intact")
    assert(viaHelper == 0, s"openParquet re-read Hadoop's defaults $viaHelper times over ${files.size} opens")
    val bare = lookupsDuring(files.foreach(f =>
      ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf)).close()))
    assert(bare == files.size,
      s"the options-less open should parse the defaults once per open: $bare lookups, ${files.size} opens")
  }

  test("openParquet is the only parquet open in main code") {
    val call = """ParquetFileReader\s*\.\s*open\s*\(|new\s+ParquetFileReader\s*\(""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main", "scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, "run from the repository root")
    val hits = sources.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined && !{
          val s = line.trim; s.startsWith("*") || s.startsWith("//") || s.startsWith("/*")
        } => (p.toString, i)
      }
    }
    val helper = java.nio.file.Paths.get("src", "main", "scala", "graft", "table", "LakeTable.scala")
    val defLine = java.nio.file.Files.readAllLines(helper).asScala.indexWhere(_.contains("def openParquet("))
    assert(defLine >= 0, "LakeTable.openParquet is gone")
    assert(hits.size == 1 && hits.head._1 == helper.toString &&
      hits.head._2 > defLine && hits.head._2 < defLine + 8,
      s"open parquet files through LakeTable.openParquet, not directly: ${hits.map { case (f, i) => s"$f:${i + 1}" }}")
  }
}
