package graft

/** The custom Catalyst expressions are reachable from SQL in a session
  * built with the extensions (the test session installs them at creation).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("simhash64 and winnow_fingerprint callable from SQL") {
    val r = spark.sql(
      """SELECT simhash64(split('the quick brown fox', ' ')) AS h,
        |  size(winnow_fingerprint('the quick brown fox jumps over the dog')) AS n,
        |  size(winnow_fingerprint('the quick brown fox jumps over the dog', 4, 8)) AS n2
        |""".stripMargin).head
    assert(r.getLong(0) !== 0L)
    assert(r.getInt(1) > 0)
    assert(r.getInt(2) >= r.getInt(1)) // smaller window ⇒ more fingerprints
  }

  test("media_byte_features callable from SQL") {
    val r = spark.sql(
      "SELECT media_byte_features(encode('aaaa', 'UTF-8')) AS f").head
    val f = r.getStruct(0)
    assert(f.getAs[Int]("n_bytes") === 4)
    assert(f.getAs[Double]("entropy") === 0.0)
    assert(f.getAs[Int]("mode_byte") === 'a'.toInt)
  }

  test("dot_product and cosine_sim callable from SQL") {
    val r = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |  cosine_sim(array(0.0d, 0.0d), array(1.0d, 0.0d)) AS z
        |""".stripMargin).head
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 1.0)
    assert(r.isNullAt(2))
  }

  test("cdc_cuts and gram_run_stats callable from SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(text).toDF("t")
    val viaSql = df.selectExpr(
      "cdc_cuts(t) AS cuts", "cdc_cuts(t, 4) AS cuts4",
      "gram_run_stats(split(t, ' '), 2) AS g").head
    val viaApi = df.select(
      graft.functions.TextFingerprints.cdcCuts(col("t"), 8).as("cuts"),
      graft.functions.TextFingerprints.gramRunStats(split(col("t"), " "), 2).as("g")).head
    assert(viaSql.getSeq[Int](0) === viaApi.getSeq[Int](0))
    assert(viaSql.getStruct(2) === viaApi.getStruct(1))
    assert(viaSql.getStruct(2).getAs[Long]("total_chars") > 0L)
  }

  test("SQL result equals the DataFrame API result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("a b c d e f g h").toDF("t")
    val viaSql = df.selectExpr("simhash64(split(t, ' ')) AS h").head.getLong(0)
    val viaApi = df.select(
      graft.functions.TextFingerprints.simhash64(split(col("t"), " ")).as("h"))
      .head.getLong(0)
    assert(viaSql === viaApi)
  }
}
