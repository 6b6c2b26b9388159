package graft

import org.apache.spark.sql.SparkSession

/** The one parser of `spark.graft.*` session confs and of the read options
  * that mirror them: a malformed value fails with an
  * IllegalArgumentException naming its key, the same way on every path.
  */
private[graft] object GraftConf {

  /** `v` parsed by `p` (surrounding blanks ignored) */
  def parse[T](key: String, v: String, what: String)(p: String => Option[T]): T =
    p(v.trim).getOrElse(throw new IllegalArgumentException(s"graft: $key must be $what, got '$v'"))

  def long(spark: SparkSession, key: String): Option[Long] =
    spark.conf.getOption(key).map(parse(key, _, "an integer")(_.toLongOption))

  def int(spark: SparkSession, key: String): Option[Int] =
    spark.conf.getOption(key).map(parse(key, _, "an integer")(_.toIntOption))

  def bool(spark: SparkSession, key: String): Option[Boolean] =
    spark.conf.getOption(key).map(parse(key, _, "true or false")(_.toBooleanOption))
}
