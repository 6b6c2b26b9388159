package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.LangRules

/** The reference the engine's output is compared with: a latest-per-key
  * replay of the WAL written with plain Spark (a window, not the engine's
  * aggregate resolve) and the language rule table joined as data (not the
  * engine's `when` chain).
  */
object Check {

  /** Live rows (repo, path, commit, lang, content) after applying `wal`:
    * per key the event with the highest (lsn, commit) wins, deletes drop it.
    */
  def replay(spark: SparkSession, wal: DataFrame): DataFrame = {
    val latest = wal
      .withColumn("__rn", row_number().over(
        Window.partitionBy("repo", "path").orderBy(col("lsn").desc, col("commit").desc)))
      .where(col("__rn") === 1 && col("op") =!= "D")
    val rules = spark.createDataFrame(LangRules.rules.zipWithIndex.map { case ((s, l), i) => (i, s, l) })
      .toDF("__rule", "__suffix", "__lang")
    latest.join(broadcast(rules), col("path").endsWith(col("__suffix")), "left")
      .withColumn("__first", row_number().over(
        Window.partitionBy("repo", "path").orderBy(col("__rule").asc_nulls_last)))
      .where(col("__first") === 1)
      .select(col("repo"), col("path"), col("commit"),
        coalesce(col("__lang"), lit(LangRules.fallback)).as("lang"), col("content"))
  }

  /** (live rows, order-independent sum of row hashes over
    * (repo, path, commit, lang, sha256(content))).
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256)).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** lang -> live rows */
  def langCounts(df: DataFrame): Map[String, Long] =
    df.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}
