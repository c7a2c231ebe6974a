package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The one operator that is not stateless relational algebra: the
  * moving-average crossover backtest state machine
  * (/root/reference/main.py:392-446, SURVEY.md §2.6).
  *
  * A single ordered pass per symbol holding mutable state
  * (inPosition, entryPrice, budget, tradesCount):
  *   - rows iterate in time order, starting at the second row (lag seed);
  *   - when tradesCount ≥ maxTrades the loop BREAKS at the top of the
  *     iteration (main.py:407-408) — so the capping position is never closed
  *     by a death cross, only by forced liquidation;
  *   - golden cross while flat and budget ≥ perTrade: open (debit perTrade,
  *     main.py:414-422);
  *   - death cross while long: close, credit (perTrade/entry)·price
  *     (main.py:423-430);
  *   - any open position is force-liquidated at the last row's close
  *     (main.py:432-439) — the TRUE last row, even when the loop broke early.
  *
  * Spark mapping: MA columns come from built-in windows (one shuffle on
  * symbol); the fold runs via `groupByKey(symbol).flatMapSortedGroups(ts)` —
  * parallel across symbols, sequential within one, which is exactly the
  * semantics. At 100 TB / many symbols each group is one task's stream; no
  * state ever crosses executors. The reference is the 1-symbol degenerate
  * case.
  */
object Backtest {

  /** Parameter defaults from the reference GUI (main.py:38-40). */
  case class Config(
      initialBudget: Double = 10000.0,
      perTrade: Double = 1000.0,
      maxTrades: Option[Int] = None,
      shortN: Int = 5,
      longN: Int = 20)

  /** Reference positions are `list[dict]` rows (main.py:419-420);
    * `shares = perTrade / entry_price` is the derived export column.
    * Exit fields are None until the position closes — after a batch run
    * they are always filled (forced liquidation); the Option stays for the
    * streaming variant where positions can still be open.
    */
  case class Position(
      symbol: String,
      entry_ts: Timestamp,
      entry_price: Double,
      exit_ts: Option[Timestamp],
      exit_price: Option[Double],
      shares: Double)

  /** One candle with its crossover decision
    * ([[TradingOps.crossoverSignals]]). Non-private: Catalyst's generated
    * deserializer must access it.
    */
  case class SignalRow(
      symbol: String, ts: Timestamp, close: Double,
      buy_signal: Boolean, sell_signal: Boolean)

  /** The fold's input: candles with the shared crossover signals. */
  private[operators] def signals(candles: DataFrame, cfg: Config): DataFrame =
    TradingOps.crossoverSignals(
      TradingOps.movingAverages(candles, cfg.shortN, cfg.longN))

  /** All trade positions, one ordered fold per symbol. */
  def positions(candles: DataFrame, cfg: Config = Config()): Dataset[Position] = {
    val spark = candles.sparkSession
    import spark.implicits._
    signals(candles, cfg)
      .select(col("symbol"), col("ts"), col("close"),
              col("buy_signal"), col("sell_signal"))
      .as[SignalRow]
      .groupByKey(_.symbol)
      .flatMapSortedGroups(col("ts")) { (symbol, rows) => fold(symbol, rows, cfg) }
  }

  /** Per-symbol scalar outcome (main.py:441-443): final budget after all
    * closes + liquidation, and ROI. Derived relationally from [[positions]]
    * (every position is closed, so
    * final = initial + Σ (perTrade/entry·exit − perTrade)); the sum
    * accumulates in DECIMAL so it is partition-order independent.
    * Symbols with zero crossovers produce no row (the reference's
    * zero-trade run returns the untouched budget — callers treat a missing
    * symbol as ROI 0).
    */
  def summary(candles: DataFrame, cfg: Config = Config()): DataFrame =
    positions(candles, cfg).toDF()
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("num_trades"),
        sum((col("exit_price") * lit(cfg.perTrade) / col("entry_price") -
             lit(cfg.perTrade)).cast("decimal(28,10)"))
          .cast("double").as("pnl"))
      .select(
        col("symbol"), col("num_trades"),
        round(lit(cfg.initialBudget) + col("pnl"), 6).as("final_value"),
        round(col("pnl") / lit(cfg.initialBudget) * 100.0, 6).as("roi"))

  private def fold(
      symbol: String, rows: Iterator[SignalRow], cfg: Config): Iterator[Position] =
    foldCore(rows, cfg)._2.iterator.map(p => p.copy(symbol = symbol))

  /** The state machine itself, symbol-agnostic: consumes time-ordered rows,
    * returns (final budget, positions). Shared by the flatMapSortedGroups
    * fold and the SQL-callable Aggregator. A series' first row never
    * signals (no lag), which is the reference loop's start at i=1.
    */
  private[operators] def foldCore(
      rows: Iterator[SignalRow], cfg: Config): (Double, Seq[Position]) = {
    var lastTs: Timestamp = null
    var lastClose = 0.0
    var inPos = false
    var entryTs: Timestamp = null
    var entryPrice = 0.0
    var budget = cfg.initialBudget
    var trades = 0
    var stopped = false
    val out = scala.collection.mutable.ArrayBuffer.empty[Position]
    while (rows.hasNext) {
      val cur = rows.next()
      lastTs = cur.ts
      lastClose = cur.close
      if (!stopped && cfg.maxTrades.exists(trades >= _)) stopped = true
      if (!stopped) {
        if (!inPos && cur.buy_signal) {
          if (budget >= cfg.perTrade) {
            inPos = true
            entryTs = cur.ts
            entryPrice = cur.close
            trades += 1
            budget -= cfg.perTrade
          }
        } else if (inPos && cur.sell_signal) {
          inPos = false
          budget += cfg.perTrade / entryPrice * cur.close
          out += Position(null, entryTs, entryPrice,
            Some(cur.ts), Some(cur.close), cfg.perTrade / entryPrice)
        }
      }
    }
    if (inPos) {
      budget += cfg.perTrade / entryPrice * lastClose
      out += Position(null, entryTs, entryPrice,
        Some(lastTs), Some(lastClose), cfg.perTrade / entryPrice)
    }
    (budget, out.toSeq)
  }
}
