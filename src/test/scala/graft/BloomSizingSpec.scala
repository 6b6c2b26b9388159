package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{GraftInputPartition, GraftScan}
import graft.table.{ApplyMode, FileEntry, LakeTable}

/** Key-evidence blooms are sized to their chunk: every engine write site
  * gives a `path`/`contentSha` chunk the smallest power-of-two filter from
  * 1 KiB to 1 MiB that holds its distinct values at 1 % FPP, so a small
  * commit pays KBs of filters, not 64 KiB per chunk. The filters are read
  * back from the files the engine wrote, never from a raw parquet write.
  */
class BloomSizingSpec extends SparkSpec {
  private lazy val sq = spark
  import sq.implicits._

  private val maxFilterBytes = 2048
  private val maxCommitBytes = 250000L

  /** `n` upserts of distinct keys k0 until k0+n (repo varies, so a bucket
    * gets a slice of every repo), deleting the keys in `deletes`
    */
  private def events(k0: Int, n: Int, lsn0: Long, deletes: Set[Int] = Set.empty): DataFrame =
    (k0 until k0 + n).map { k =>
      (s"repo-${k % 16}", f"src/module-${k % 97}%02d/File$k%06d.scala", s"c$lsn0",
        if (deletes(k)) null else s"object File$k { val v = ${lsn0 + k} }", lsn0 + k,
        if (deletes(k)) "D" else "U")
    }.toDF("repo", "path", "commit", "content", "lsn", "op")

  private case class Chunk(col: String, filterBytes: Int, values: Int, missed: Seq[String])

  /** the `path`/`contentSha` chunks of one data file: each chunk's bloom
    * size (0 = no bloom) and the file's values its bloom does not find
    */
  private def chunksOf(file: String): Seq[Chunk] = {
    val keyCols = Seq("path", "contentSha")
    val rows = spark.read.parquet(file).select(keyCols.map(col): _*).collect()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), spark.sessionState.newHadoopConf()))
    try {
      r.getFooter.getBlocks.asScala.toSeq.flatMap { blk =>
        val bloomReader = r.getBloomFilterDataReader(blk)
        blk.getColumns.asScala.toSeq.filter(cc => keyCols.contains(cc.getPath.toDotString)).map { cc =>
          val c = cc.getPath.toDotString
          val values = rows.flatMap(row => Option(row.getAs[String](c))).toSeq
          Option(bloomReader.readBloomFilter(cc)) match {
            case None => Chunk(c, 0, values.size, Nil)
            case Some(bf) => Chunk(c, bf.getBitsetSize, values.size,
              values.filterNot(v => bf.findHash(bf.hash(Binary.fromString(v)))))
          }
        }
      }
    } finally r.close()
  }

  private def newFiles(t: LakeTable, before: Seq[FileEntry]): Seq[String] = {
    val old = before.map(_.path).toSet
    t.currentSnapshot().get.files.filterNot(f => old(f.path)).map(f => t.resolvePath(f.path))
  }

  /** the sizing bounds on one write's files: blooms exist, none is above
    * 2 KiB, every written key is found, and the write stays small
    */
  private def assertSized(what: String, files: Seq[String]): Unit = {
    assert(files.nonEmpty, s"$what wrote no files")
    val chunks = files.flatMap(chunksOf)
    val blooms = chunks.filter(_.filterBytes > 0)
    assert(blooms.exists(_.col == "path") && blooms.exists(_.col == "contentSha"),
      s"$what: the fixture must write blooms, got ${chunks.map(c => c.col -> c.filterBytes)}")
    val big = blooms.filter(_.filterBytes > maxFilterBytes)
      .map(c => s"${c.col}=${c.filterBytes} bytes for ${c.values} values")
    assert(big.isEmpty, s"$what: filters above $maxFilterBytes bytes")
    val missed = chunks.filter(_.missed.nonEmpty).map(c => s"${c.col}: ${c.missed.take(3)}")
    assert(missed.isEmpty, s"$what: false negatives")
    val bytes = files.map(f => new java.io.File(f).length).sum
    assert(bytes <= maxCommitBytes, s"$what wrote $bytes bytes in ${files.size} files")
  }

  test("a 1,000-event MoR merge writes filters sized to its files (<= 2 KiB, no false negatives)") {
    val t = new LakeTable(spark, tmpDir("bsMor"), defaultBuckets = 8, ApplyMode.MergeOnRead)
    t.merge(events(0, 3000, 0L), "bs", 0L)
    val before = t.currentSnapshot().get.files
    // 1,000 events: updates of existing keys, new keys and some deletes
    t.merge(events(2500, 1000, 10000L, deletes = (2500 until 2600 by 7).toSet), "bs", 1L)
    val files = newFiles(t, before)
    assert(files.size == 8, s"one delta per bucket expected, got ${files.size}")
    assertSized("MoR merge", files)
    // the compaction of the resulting chains obeys the same bounds
    val pre = t.currentSnapshot().get.files
    t.compactBuckets(Set(0, 3, 5))
    assertSized("compactBuckets", newFiles(t, pre))
    assert(t.read().count() == 3500 - (2500 until 2600 by 7).size)
  }

  test("a DV merge's files are sized to their chunks too") {
    val t = new LakeTable(spark, tmpDir("bsDv"), defaultBuckets = 8, ApplyMode.DeletionVector)
    t.merge(events(0, 3000, 0L), "bs", 0L)
    val before = t.currentSnapshot().get.files
    t.merge(events(2500, 1000, 10000L, deletes = (2500 until 2600 by 7).toSet), "bs", 1L)
    assert(t.currentSnapshot().get.dvRows > 0, "the fixture must supersede rows")
    assertSized("DV merge", newFiles(t, before))
  }

  test("a point lookup on a 12-commit MoR chain of small-bloom files plans only the key's files") {
    // commit i (0..11) upserts the keys with k % 12 == i, so every file's
    // path range covers the probe; the hot key is also re-written by commit 7
    val t = new LakeTable(spark, tmpDir("bsChain"), defaultBuckets = 2, ApplyMode.MergeOnRead)
    val hot = 2 + 12 * 40
    (0 until 12).foreach { i =>
      val keys = (0 until 3600).filter(_ % 12 == i) ++ (if (i == 7) Seq(hot) else Nil)
      val rows = keys.map(k => ("main", f"f$k%05d.txt", s"c$i", s"content-$i-$k", i * 10000L + k))
      t.merge(rows.toDF("repo", "path", "commit", "content", "lsn").withColumn("op", lit("U")), "ch", i.toLong)
    }
    val snap = t.currentSnapshot().get
    val hotPath = f"f$hot%05d.txt"
    val chain = snap.files.filter(_.bucket == LakeTable.bucketOf("main", hotPath, snap.nBuckets))
    assert(chain.size >= 10, s"fixture must stack a delta chain, got ${chain.size}")
    // the chain's path evidence is the small blooms under test
    val sizes = chain.flatMap(f => chunksOf(t.resolvePath(f.path))).filter(_.col == "path").map(_.filterBytes)
    assert(sizes.forall(b => b > 0 && b <= maxFilterBytes), s"path filter sizes $sizes")

    def planned(df: DataFrame): Int = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftScan]
      .planInputPartitions().map(_.asInstanceOf[GraftInputPartition].files.size).sum
    def lookup = spark.read.format("graft").load(t.root)
      .where(col("repo") === "main" && col("path") === hotPath)
    spark.conf.set("spark.graft.bloom.scan.enabled", "false")
    val rangeOnly = try planned(lookup) finally spark.conf.unset("spark.graft.bloom.scan.enabled")
    assert(rangeOnly >= 10, s"fixture broke: ranges alone pruned to $rangeOnly files")
    assert(planned(lookup) == 2, s"expected commits 2 and 7 of ${chain.size} (ranges alone: $rangeOnly)")
    assert(lookup.select("commit").as[String].collect().toSeq == Seq("c7"))
  }
}
