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

  def flag(key: String, v: String): Boolean = parse(key, v, "true or false")(_.toBooleanOption)

  def positiveInt(key: String, v: String): Int =
    parse(key, v, "a positive integer")(_.toIntOption.filter(_ > 0))

  def positiveLong(key: String, v: String): Long =
    parse(key, v, "a positive integer")(_.toLongOption.filter(_ > 0))

  /** the `cdf` write option / table property: (feed on, before-images on) */
  def cdf(key: String, v: String): (Boolean, Boolean) =
    parse(key, v, "true, false or full")(s =>
      if (s.equalsIgnoreCase("full")) Some((true, true)) else s.toBooleanOption.map((_, false)))

  def long(spark: SparkSession, key: String): Option[Long] =
    spark.conf.getOption(key).map(parse(key, _, "an integer")(_.toLongOption))

  def int(spark: SparkSession, key: String): Option[Int] =
    spark.conf.getOption(key).map(parse(key, _, "an integer")(_.toIntOption))

  def bool(spark: SparkSession, key: String): Option[Boolean] = spark.conf.getOption(key).map(flag(key, _))
}
