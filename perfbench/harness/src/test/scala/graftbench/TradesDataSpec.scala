package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{TradesEtl, Transform}

class TradesDataSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("TradesDataSpec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val dir = new File("target/trades-data-spec")

  override def beforeAll(): Unit = dir.mkdirs()
  override def afterAll(): Unit = spark.stop()

  test("the generator's clean-row and group counts match the pipeline's") {
    Seq(TradesData.reference.copy(rows = 5000) -> 7L,
        TradesData.Spec(5000, 300, java.time.LocalDate.of(2023, 1, 2), 7) -> 8L)
      .foreach { case (spec, seed) =>
        val path = new File(dir, s"trades-$seed.csv").getPath
        val truth = TradesData.write(path, spec, seed)
        val clean = TradesEtl.clean(TradesEtl.extract(spark, path))
        assert(truth.rows == 5000L)
        assert(truth.cleanRows < truth.rows, "the file carries dirty rows")
        assert(clean.count() == truth.cleanRows)
        assert(Transform(clean, computePnl = true).count() == truth.groups)
      }
  }

  test("the same seed writes the same bytes") {
    val a = new File(dir, "a.csv").getPath
    val b = new File(dir, "b.csv").getPath
    TradesData.write(a, TradesData.reference.copy(rows = 500), 3L)
    TradesData.write(b, TradesData.reference.copy(rows = 500), 3L)
    assert(java.util.Arrays.equals(Files.readAllBytes(new File(a).toPath),
      Files.readAllBytes(new File(b).toPath)))
  }

  test("15 users reproduce the reference's ids and tiers") {
    assert(TradesData.user(0, 15) == (1001L, 0))
    assert(TradesData.user(5, 15) == (2001L, 1))
    assert(TradesData.user(14, 15) == (3005L, 2))
    assert(TradesData.user(19999, 20000) == (36666L, 2))
  }
}
