package graft

/** The SparkSessionExtensions path: a session built with GraftExtensions
  * (or spark.sql.extensions config) gets the native functions in SQL with
  * no imperative registration. The shared suite session is built that way.
  */
class ExtensionsSpec extends SparkSpec {

  test("withExtensions(GraftExtensions) exposes simhash64/cosine_sim in SQL") {
    val h = spark.sql("SELECT simhash64(array('a','b','c')) AS h, cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head
    assert(h.getLong(0) != 0L)
    assert(math.abs(h.getDouble(1) - 1.0) < 1e-12)
  }
}
