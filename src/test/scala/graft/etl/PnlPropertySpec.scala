package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import java.sql.Timestamp
import scala.util.Random

/** Randomized (seeded) algebraic properties of the PnL pipeline — the
  * invariants SURVEY.md §5d calls out, checked on generated trade sets
  * including sell-only/buy-only groups and zero quantities.
  */
class PnlPropertySpec extends SparkSpec {

  private val rnd = new Random(42)

  private def genTrades(n: Int) = {
    val syms  = Seq("AAPL", "GOOGL", "MSFT")
    val tiers = Seq("bronze", "silver", "gold")
    (1 to n).map { i =>
      (new Timestamp(1672531200000L + rnd.nextInt(90 * 24 * 3600) * 1000L),
        1000L + rnd.nextInt(5),
        tiers(rnd.nextInt(3)),
        syms(rnd.nextInt(3)),
        if (rnd.nextBoolean()) "buy" else "sell",
        math.round(rnd.nextDouble() * 1000) / 100.0,
        math.round((10 + rnd.nextDouble() * 400) * 100) / 100.0)
    }
  }

  test("PnL invariants hold on 5 random trade sets") {
    import spark.implicits._
    for (_ <- 1 to 5) {
      val df = genTrades(200).toDF(
        "timestamp", "user_id", "client_type", "symbol", "side", "quantity", "price")
      val agg = Transform(df, computePnl = true).collect()
      agg.foreach { r =>
        def d(c: String): Double = r.getAs[Double](c)
        def isNull(c: String)    = r.isNullAt(r.fieldIndex(c))

        // masked sums are never negative and never NULL
        assert(d("buy_qty") >= 0.0 && d("sell_qty") >= 0.0)
        // net position algebra
        assert(math.abs(d("net_qty") - (d("buy_qty") - d("sell_qty"))) < 1e-9)
        // avg_buy_price defined iff there were buys
        assert(isNull("avg_buy_price") === (d("buy_qty") == 0.0))
        if (!isNull("avg_buy_price")) {
          assert(math.abs(d("avg_buy_price") - d("buy_value") / d("buy_qty")) < 1e-9)
          // realized + unrealized = total (all defined here)
          assert(math.abs(d("total_pnl") - (d("realized_pnl") + d("unrealized_pnl"))) < 1e-9)
        } else {
          // no buys → every PnL column is NULL (never NaN/Inf)
          assert(isNull("realized_pnl") && isNull("unrealized_pnl") && isNull("total_pnl"))
        }
        // volume consistency: buy_value + sell_value == total_volume
        assert(math.abs(d("buy_value") + d("sell_value") - d("total_volume")) < 1e-6)
      }
      // no NaN/Infinity anywhere (the isfinite→NULL guard)
      agg.foreach { r =>
        r.toSeq.foreach {
          case dd: Double => assert(!dd.isNaN && !dd.isInfinite)
          case _          => ()
        }
      }
    }
  }

  test("mark price equals the price of the globally latest trade per symbol") {
    import spark.implicits._
    val trades = genTrades(300).toDF(
      "timestamp", "user_id", "client_type", "symbol", "side", "quantity", "price")
    val marks = Transform.markPrice(trades).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = trades.collect()
      .map { case Row(ts: Timestamp, _, _, sym: String, _, _, p: Double) => (sym, ts, p) }
      .groupBy(_._1).map { case (s, rows) => s -> rows.maxBy(_._2.getTime)._3 }
    assert(marks === expected)
  }

  test("a tie on a symbol's latest timestamp marks at one of the tied prices, and PnL follows that mark") {
    import spark.implicits._
    // max_by over tied timestamps is indeterminate (Transform.apply's tie
    // note): this pins what holds whichever tied trade wins.
    val latest = Timestamp.valueOf("2023-01-05 10:00:00")
    val trades = Seq(
      (Timestamp.valueOf("2023-01-02 09:00:00"), 1001L, "gold", "AAPL", "buy", 10.0, 90.0),
      (Timestamp.valueOf("2023-01-03 09:00:00"), 1002L, "gold", "AAPL", "buy", 4.0, 95.0),
      (latest, 1001L, "gold", "AAPL", "sell", 3.0, 101.0),
      (latest, 1001L, "gold", "AAPL", "buy", 2.0, 105.0),
    ).toDF("timestamp", "user_id", "client_type", "symbol", "side", "quantity", "price")
    for (parts <- Seq(1, 2, 4)) {
      val out = Transform(trades.repartition(parts), computePnl = true).collect()
      val marks = out.map(_.getAs[Double]("mark_price")).toSet
      assert(marks.size === 1)
      val m = marks.head
      assert(Set(101.0, 105.0).contains(m), s"mark $m with $parts partitions")
      // user 1001: avg buy (900 + 210) / 12 = 92.5, realized 303 - 92.5 * 3,
      // net 9; user 1002: avg 95, nothing sold, net 4
      val expected = Map(1001L -> (25.5 + (m - 92.5) * 9), 1002L -> ((m - 95.0) * 4))
      assert(out.length === 2)
      out.foreach { r =>
        assert(math.abs(r.getAs[Double]("total_pnl") - expected(r.getAs[Long]("user_id"))) < 1e-9)
      }
    }
  }
}
