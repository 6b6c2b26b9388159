package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

import graft.table.LakeTable

/** Suite 4 (SURVEY.md §5.2), property-based (raw ScalaCheck generators,
  * fixed seeds → reproducible): for ANY set of events — any permutation,
  * duplicate LSNs, any op mix — the engine's latest-per-key equals
  * "max (lsn, commit) per key wins" (the sequential oracle), and is
  * invariant under permutation and partitioning.
  */
object DedupPropertySpec {
  // top-level so Spark can derive an Encoder (inner classes can't)
  case class Ev(lsn: Long, op: String, repo: String, path: String, commit: String, content: String)
}

class DedupPropertySpec extends SparkSpec {
  import spark.implicits._
  import DedupPropertySpec.Ev

  val genEv: Gen[Ev] = for {
    lsn <- Gen.chooseNum(1L, 40L) // small range → force lsn collisions
    op <- Gen.oneOf("I", "U", "D")
    repo <- Gen.oneOf("r1", "r2", "hot")
    path <- Gen.oneOf("a.py", "b.scala", "c.md", "d.sql")
    commit <- Gen.listOfN(8, Gen.hexChar).map(_.mkString.toLowerCase)
  } yield Ev(lsn, op, repo, path, commit, if (op == "D") null else s"src-$lsn-$commit")

  def sample(seed: Long, n: Int): List[Ev] =
    Gen.listOfN(n, genEv).apply(Gen.Parameters.default, Seed(seed)).get

  def oracle(evs: List[Ev]): Map[(String, String), (Long, String, Boolean)] =
    evs.sortBy(e => (e.lsn, e.commit)).foldLeft(Map.empty[(String, String), (Long, String, Boolean)]) {
      (m, e) =>
        val k = (e.repo, e.path)
        if (m.get(k).exists(s => s._1 > e.lsn || (s._1 == e.lsn && s._2 >= e.commit))) m
        else m.updated(k, (e.lsn, e.commit, e.op == "D"))
    }

  def engine(evs: List[Ev], parts: Int = 0): Map[(String, String), (Long, String, Boolean)] = {
    var df = evs.toDF()
      .withColumn("ts", timestamp_seconds(col("lsn")))
      .withColumn("deleted", col("op") === "D")
      .drop("op")
    if (parts > 0) df = df.repartition(parts)
    LakeTable.latestPerKey(df)
      .select("repo", "path", "lsn", "commit", "deleted")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toMap
  }

  test("latestPerKey == sequential oracle for arbitrary event sets (15 seeds)") {
    (1L to 15L).foreach { seed =>
      val evs = sample(seed, 60)
      assert(engine(evs) == oracle(evs), s"seed=$seed")
    }
  }

  test("latestPerKey is permutation- and partitioning-invariant (8 seeds)") {
    (100L to 107L).foreach { seed =>
      val evs = sample(seed, 40)
      val base = engine(evs)
      assert(engine(evs.reverse) == base, s"seed=$seed reverse")
      assert(engine(scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(evs), 7) == base,
        s"seed=$seed shuffle+repartition")
    }
  }

  /** drain a resolve PartitionReader into (repo, path, lsn, commit) rows —
    * a SEQUENCE, not a set: duplicate emissions (the failure class the
    * split-point sort fix addressed) must stay visible to the comparison
    */
  private def drain(p: graft.sources.GraftInputPartition): Seq[(String, String, Long, String)] = {
    val required = org.apache.spark.sql.types.StructType.fromDDL(
      "repo STRING, path STRING, lsn BIGINT, commit STRING")
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf()))
    val factory = new graft.sources.GraftReaderFactory(required, conf, false)
    val r = factory.createReader(p)
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long, String)]()
    try while (r.next()) {
      val row = r.get()
      out += ((row.getUTF8String(0).toString, row.getUTF8String(1).toString,
        row.getLong(2), row.getUTF8String(3).toString))
    } finally r.close()
    out.toSeq.sorted
  }

  test("sorted-merge resolve == sequential oracle over random multi-file histories (10 seeds)") {
    (200L to 209L).foreach { seed =>
      val evs = sample(seed, 80)
      // split into 1-4 "commit files": within each, the per-commit winner
      // per key, written (repo,path)-sorted — the MOR delta layout
      val nf = 1 + (seed % 4).toInt
      val groups = evs.zipWithIndex.groupBy(_._2 % nf).toSeq.sortBy(_._1).map(_._2.map(_._1))
      val dir = tmpDir(s"srtprop$seed")
      val files = groups.zipWithIndex.map { case (g, i) =>
        val df = g.toDF()
          .withColumn("deleted", col("op") === "D").drop("op", "ts")
        LakeTable.latestPerKey(df)
          .coalesce(1).sortWithinPartitions("repo", "path")
          .write.parquet(s"$dir/f$i")
        new java.io.File(s"$dir/f$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      }
      val expected = oracle(evs).collect {
        case ((repo, path), (lsn, commit, deleted)) if !deleted => (repo, path, lsn, commit)
      }.toSeq.sorted
      // whole-bucket sorted merge == oracle (sequence compare: a duplicate
      // emission must FAIL, not collapse into a set)
      val whole = drain(graft.sources.GraftInputPartition(files, Nil,
        resolveLatest = true, sortedResolve = true))
      assert(whole == expected, s"seed=$seed whole-bucket")
      // ARBITRARY key-range partitions must union to exactly the oracle
      // (no lost keys, no duplicates) — the wide-bucket splitting contract
      val keys = expected.map(k => (k._1, k._2)).sorted
      if (keys.size >= 3) {
        val s1 = keys(keys.size / 3); val s2 = keys(2 * keys.size / 3)
        val ranges = Seq(
          graft.sources.GraftKeyRange(null, null, s1._1, s1._2, bounded = true),
          graft.sources.GraftKeyRange(s1._1, s1._2, s2._1, s2._2, bounded = true),
          graft.sources.GraftKeyRange(s2._1, s2._2, null, null, bounded = false))
        val parts = ranges.map(r => drain(graft.sources.GraftInputPartition(files, Nil,
          resolveLatest = true, sortedResolve = true, range = Some(r))))
        assert(parts.flatten.sorted == expected, s"seed=$seed range union (incl. duplicates)")
      }
    }
  }
}
