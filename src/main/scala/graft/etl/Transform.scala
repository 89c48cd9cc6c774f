package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Transform stage: weekly aggregation + PnL (reference
  * `etl_weekly_trades.py:52-131`; SURVEY.md §2 P1-P4, A1-A4).
  *
  * One shuffle on the 4 group keys; the buy/sell split is conditional
  * aggregation (`sum(when(...))`) in that single pass — never a self-join.
  * The 5-row mark-price dim joins back via broadcast.
  */
object Transform {

  val groupKeys: Seq[String] = Seq("week_start_date", "client_type", "user_id", "symbol")

  /** P1 + P2: Monday-of-week date + per-trade notional. `date_trunc("week")`
    * is Monday-based — the exact reference semantic
    * (`etl_weekly_trades.py:61-65`), incl. year-boundary weeks
    * (2023-01-01 falls in week 2022-12-26).
    */
  def withDerived(trades: DataFrame): DataFrame =
    trades
      .withColumn("week_start_date", date_trunc("week", col("timestamp")).cast(DateType))
      .withColumn("total_volume", col("quantity") * col("price"))

  /** A1 (PnL path) / A2: grouped weekly aggregate.
    *
    * Parity trap (SURVEY §7.3.2): pandas sums an all-NaN group to 0.0, Spark
    * to NULL — hence `coalesce(sum(...), 0.0)` on the masked sums.
    */
  /** The conditional buy/sell aggregation expressions — shared verbatim by
    * the batch agg below and the streaming twin
    * ([[graft.streaming.StreamingOps.weeklyTradesAgg]]) so parity fixes
    * (like the pandas all-NaN-sum→0.0 coalesce) can never diverge.
    */
  def pnlAggExprs: Seq[org.apache.spark.sql.Column] = {
    val isBuy  = col("side") === "buy"
    val isSell = col("side") === "sell"
    Seq(
      coalesce(sum(when(isBuy, col("quantity"))), lit(0.0)).as("buy_qty"),
      coalesce(sum(when(isSell, col("quantity"))), lit(0.0)).as("sell_qty"),
      coalesce(sum(when(isBuy, col("total_volume"))), lit(0.0)).as("buy_value"),
      coalesce(sum(when(isSell, col("total_volume"))), lit(0.0)).as("sell_value"),
      sum("total_volume").as("total_volume"),
      count("timestamp").as("trade_count"),
    )
  }

  def weeklyAgg(derived: DataFrame, computePnl: Boolean = true): DataFrame = {
    val base = derived.groupBy(groupKeys.map(col): _*)
    if (computePnl) {
      base.agg(pnlAggExprs.head, pnlAggExprs.tail: _*)
    } else {
      base.agg(
        sum("total_volume").as("total_volume"),
        count("timestamp").as("trade_count"),
      )
    }
  }

  /** A3: mark price = price of the latest trade per symbol, over the whole
    * cleaned trade-level set (reference `compute_mark_price`,
    * `etl_weekly_trades.py:124-131` — global scope, post-clean).
    */
  def markPrice(trades: DataFrame): DataFrame =
    trades
      .groupBy("symbol")
      .agg(max_by(col("price"), col("timestamp")).as("mark_price"))

  /** A4 + P4: broadcast mark-price lookup and PnL arithmetic with the
    * reference's isfinite→NULL guard (`etl_weekly_trades.py:99-121`):
    * 0/0 and k/0 become NULL, never NaN/Inf. Groups with no buys keep
    * buy_qty = 0.0 but NULL avg_buy_price and PnL columns.
    */
  def withPnl(agg: DataFrame, markDim: DataFrame): DataFrame = {
    val abp = when(col("buy_qty") =!= 0.0, col("buy_value") / col("buy_qty"))
    agg
      .join(broadcast(markDim), Seq("symbol"), "left")
      .withColumn("avg_buy_price", abp)
      .withColumn("net_qty", col("buy_qty") - col("sell_qty"))
      .withColumn("realized_pnl",
        col("sell_value") - col("avg_buy_price") * col("sell_qty"))
      .withColumn("unrealized_pnl",
        (col("mark_price") - col("avg_buy_price")) * col("net_qty"))
      .withColumn("total_pnl", col("realized_pnl") + col("unrealized_pnl"))
      .select(
        col("week_start_date"), col("client_type"), col("user_id"), col("symbol"),
        col("buy_qty"), col("sell_qty"), col("buy_value"), col("sell_value"),
        col("total_volume"), col("trade_count"), col("avg_buy_price"),
        col("net_qty"), col("realized_pnl"), col("mark_price"),
        col("unrealized_pnl"), col("total_pnl"))
  }

  /** Full transform (`transform()` in the reference).
    *
    * One input pass (round 15, optimization guide §2.4 "two operations
    * keyed the same way can share one exchange"): the mark-price dim is
    * derived FROM the weekly aggregate instead of from a second scan of
    * the trade-level input. Each group additionally carries its
    * latest-trade (price, ts); per symbol, the group holding the symbol's
    * globally latest trade wins `max_by(__grp_last_price, __grp_last_ts)`,
    * which equals `markPrice(derived)` exactly — selection-only (no float
    * arithmetic), and the winning row is the same row. Both aggregation
    * subtrees hang off the SAME 4-key Exchange, which ReuseExchange
    * dedupes: the old shape's plan held TWO full `Scan csv → parse →
    * clean` subtrees (the broadcast mark side re-parsed the entire input
    * — at the 8 M-row bench twin that doubled the dominant parse cost),
    * the new plan holds ONE (plans/r15/q44_trades_etl_{before,after}.txt).
    *
    * Tie note: when several trades share a symbol's max timestamp,
    * `max_by` ties are indeterminate in BOTH shapes (old: over rows; new:
    * over group candidates). The declared q44 input (the reference's
    * 800-row CSV) has exactly ONE row at the max ts per symbol
    * (verified), so the declared query's result is bit-identical —
    * oracle-hash + golden-diff re-proven this round.
    *
    * Eager work: with `computePnl` the weekly aggregate is localCheckpointed
    * (see below), so building the returned DataFrame already runs one
    * Spark job over the whole input — a caller timing "plan construction"
    * is timing that job. `spark.graft.materialize.skip=true` turns the
    * checkpoint off for explain-only passes.
    */
  def apply(cleanTrades: DataFrame, computePnl: Boolean = true): DataFrame = {
    val derived = withDerived(cleanTrades)
    if (!computePnl) weeklyAgg(derived, computePnl = false)
    else {
      // materialized because it feeds BOTH the mark dim and the join's
      // left side: column pruning specializes the mark side's partial
      // aggregate (it keeps only the 3 mark columns), so the two exchange
      // subtrees never canonicalize equal and ReuseExchange/AQE stage
      // reuse cannot dedupe them — unmaterialized, the scan+parse+partial
      // stage ran TWICE (measured: 2×41 core-s at the 8 M twin; the q72
      // posting-table lesson). The checkpoint is the AGG OUTPUT — small by
      // construction relative to the trade-level input it saves a second
      // full pass over.
      val aggExt = graft.operators.RelationalOps.materialize(derived
        .groupBy(groupKeys.map(col): _*)
        .agg(pnlAggExprs.head,
          (pnlAggExprs.tail ++ Seq(
            max_by(col("price"), col("timestamp")).as("__grp_last_price"),
            max(col("timestamp")).as("__grp_last_ts"))): _*))
      // per-symbol aggregate (partial agg collapses each partition to ≤
      // |symbols| rows before the exchange — no skewed window funnel) +
      // broadcast join back
      val mark = aggExt
        .groupBy("symbol")
        .agg(max_by(col("__grp_last_price"), col("__grp_last_ts"))
          .as("mark_price"))
      withPnl(aggExt.drop("__grp_last_price", "__grp_last_ts"), mark)
    }
  }
}
