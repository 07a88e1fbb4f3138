package graft.plans

import graft.SparkSpec

/** The SQL surface [[GraftExtensions]] registers, called through
  * `spark.sql` the way a SQL user reaches it: hand-computed values, and
  * the arity check a misuse runs into. */
class SqlSurfaceSpec extends SparkSpec {

  test("graft_dot, graft_cosine, graft_shingles and graft_minhash answer hand values") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        |  graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
        |  graft_shingles(array('a','b','c','b','c'), 2) AS sh,
        |  graft_minhash(array('a','b','c'), 4, 2) AS mh""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0) // 1·3 + 2·4
    assert(r.getDouble(1) == 1.0)
    // distinct 2-shingles in first-seen order: "b c" repeats
    assert(r.getSeq[String](2) == Seq("a b", "b c", "c b"))
    // signature k = min over the shingles {"a b", "b c"} of md5("k|" + shingle)
    assert(r.getSeq[String](3) == Seq(
      "e10ccba8cb71a5dd930087397b56694d", // md5("0|a b")
      "7dade2cedb70f0c5bca3745b97b31075", // md5("1|b c")
      "b630e736985c654def673ecdce05eea6", // md5("2|a b")
      "529882cbb8a04960ca63a08c3a157766")) // md5("3|b c")
  }

  test("graft_minhash with 2 arguments raises its arity message") {
    val e = intercept[Exception](
      spark.sql("SELECT graft_minhash(array('a'), 2)").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(
      "graft_minhash(words, numHashes, shingleSize) takes 3 arguments")),
      messages.mkString("\n"))
  }
}
