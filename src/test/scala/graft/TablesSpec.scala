package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** `Tables.load` reads the schema from one parquet footer on the driver:
  * the schema equals Spark's own inference, the load runs no Spark job, and
  * a missing table still fails with Spark's `PATH_NOT_FOUND`.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def inferred(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spark jobs started while `body` runs, counted after the bus drained. */
  private def jobsDuring(body: => Unit): Int = {
    Bridge.drainListeners(spark)
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Bridge.drainListeners(spark); jobs }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("each sf0.001 table loads with the schema Spark infers") {
    tables.foreach { t =>
      assert(Tables.load(spark, sf, t).schema === inferred(sf, t).schema, t)
    }
  }

  test("the ten table loads run no Spark job; inferring their schemas runs one each") {
    assert(jobsDuring(tables.foreach(t => Tables.load(spark, sf, t))) === 0)
    // the listener does see the jobs the footer read replaces
    assert(jobsDuring(tables.foreach(t => inferred(sf, t))) === tables.size)
  }

  test("Tables.events yields the same microsecond ts as the inferred read") {
    val raw = inferred(sf, "events")
    val expected = raw.schema("ts").dataType match {
      case LongType => raw.select(col("event_id"),
        timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000")).as("ts"))
      case _ => raw.select(col("event_id"), col("ts").cast("timestamp").as("ts"))
    }
    val got = Tables.events(spark, sf)
    assert(got.schema("ts").dataType === TimestampType)
    def rows(df: DataFrame) = df.select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(rows(got) === rows(expected))
  }

  test("a Spark-written multi-file directory loads with the inferred schema and rows") {
    val dir = Files.createTempDirectory("tables-spec").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("src", StringType),
        StructField("tags", ArrayType(StringType))))),
      StructField("scores", ArrayType(DoubleType)),
      StructField("amount", DecimalType(12, 3)).withComment("kept only in the Spark footer schema"),
      StructField("seen", TimestampNTZType)))
    val data = (1 to 40).map { i =>
      Row(i.toLong, Row(s"s$i", Seq(s"t$i", "x")), Seq(i * 0.5, -i.toDouble),
        BigDecimal(i) / 7, LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
      .write.parquet(s"$dir/mixed.parquet")
    val parts = new java.io.File(s"$dir/mixed.parquet").list()
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts === 4)

    val loaded = Tables.load(spark, dir, "mixed")
    val spark0 = inferred(dir, "mixed")
    assert(loaded.schema === spark0.schema)
    assert(loaded.schema("seen").dataType === TimestampNTZType)
    assert(loaded.schema("amount").getComment() === Some("kept only in the Spark footer schema"))
    assert(loaded.orderBy("id").collect().toSeq === spark0.orderBy("id").collect().toSeq)
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND, an empty directory with UNABLE_TO_INFER_SCHEMA") {
    def failure(read: => DataFrame) = intercept[AnalysisException](read)
    val ours = failure(Tables.load(spark, sf, "no_such_table"))
    val spark0 = failure(inferred(sf, "no_such_table"))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(ours.getMessage === spark0.getMessage)

    val dir = Files.createTempDirectory("tables-spec-empty").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty.parquet"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/empty.parquet/_SUCCESS"))
    val emptyOurs = failure(Tables.load(spark, dir, "empty"))
    assert(emptyOurs.getCondition === failure(inferred(dir, "empty")).getCondition)
    assert(emptyOurs.getCondition === "UNABLE_TO_INFER_SCHEMA")
  }
}
