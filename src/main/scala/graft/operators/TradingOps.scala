package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Relational trading operators (SURVEY.md §2.2, §2.4, §2.5).
  *
  * All operators are pure `DataFrame => DataFrame` (lazy logical-plan
  * constructors) over the canonical candle schema
  * `(symbol, ts, open, high, low, close, volume)`. Everything here is
  * built-in Catalyst expressions — no UDFs — so whole-stage codegen and
  * predicate pushdown apply end-to-end. Every window partitions by `symbol`:
  * at 100 TB / many symbols the plan shuffles once on symbol and runs each
  * series independently (the reference is the degenerate 1-symbol case,
  * where a single-partition window is the faithful semantic mapping).
  */
object TradingOps {

  private val bySymbolTs = Window.partitionBy("symbol").orderBy("ts")
  private val bySymbol = Window.partitionBy("symbol")

  /** P2 — inclusive-both-ends time-range filter, matching pandas
    * `.loc[start:end]` slice semantics (/root/reference/main.py:318-320).
    * At scale: the predicate pushes to the parquet scan (min/max pruning),
    * the Catalyst analog of the reference's sorted-index slicing.
    */
  def dateRange(df: DataFrame, start: String, end: String): DataFrame =
    df.filter(col("ts") >= lit(start).cast("timestamp") &&
              col("ts") <= lit(end).cast("timestamp"))

  /** P4 — the reference's JSON predicate DSL (/root/reference/main.py:265-289):
    * grammar is exactly `{col: {"gt"|"lt"|"eq": number}}`, AND-conjunction
    * only. Compiled straight to a `Column` tree so Catalyst can push each
    * conjunct down to the scan — the reference instead string-built a pandas
    * `query()` and forced a 10-partition materialize.
    */
  def compileFilter(spec: Map[String, Map[String, Double]]): Column =
    spec.toSeq.sortBy(_._1).flatMap { case (c, ops) =>
      ops.toSeq.sortBy(_._1).map {
        case ("gt", v) => col(c) > lit(v)
        case ("lt", v) => col(c) < lit(v)
        case ("eq", v) => col(c) === lit(v)
        case (op, _) =>
          throw new IllegalArgumentException(s"unsupported predicate op: $op")
      }
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** P4 applied — parse the JSON spec text and filter. Jackson ships with
    * Spark, so the control-plane parse adds no dependency.
    */
  def jsonFilter(df: DataFrame, specJson: String): DataFrame =
    df.filter(compileFilter(parseFilterSpec(specJson)))

  private[graft] def parseFilterSpec(json: String): Map[String, Map[String, Double]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val it = root.properties().iterator()
    val b = Map.newBuilder[String, Map[String, Double]]
    while (it.hasNext) {
      val e = it.next()
      val inner = Map.newBuilder[String, Double]
      val oit = e.getValue.properties().iterator()
      while (oit.hasNext) {
        val o = oit.next()
        inner += o.getKey -> o.getValue.asDouble()
      }
      b += e.getKey -> inner.result()
    }
    b.result()
  }

  /** W5 — evenly-spaced every-Nth-row buy signals
    * (/root/reference/main.py:349-364): `step = max(n / maxTrades, 1)` when
    * maxTrades is set, else 10; rows at stride offsets 0, step, 2·step, …
    * get `buy_signal = true`. The reference's two passes (len, then stride)
    * fuse into one window stage here: `count().over(symbol)` and
    * `row_number()` share the same shuffle.
    */
  def evenlySpacedSignals(df: DataFrame, maxTrades: Option[Int]): DataFrame = {
    val n = count(lit(1)).over(bySymbol)
    val step = maxTrades
      .map(k => greatest(floor(n / lit(k)), lit(1L)))
      .getOrElse(lit(10L))
    df.withColumn("buy_signal",
      (row_number().over(bySymbolTs) - 1) % step === 0)
  }

  /** W1/W2 — trailing rolling means over close
    * (/root/reference/main.py:403-404). `rowsBetween(-(n-1), 0)` with Spark's
    * natural shrinking frame at the partition head exactly reproduces pandas
    * `rolling(n, min_periods=1)` — no null-padding emulation (SURVEY.md §4).
    *
    * `ma_side` is the sign of `short_ma − long_ma` (1, 0, −1), decided
    * EXACTLY: the two DOUBLE means of a cent-priced series are often
    * mathematically equal yet differ in the last bit, and that bit
    * differs between engines (Spark and DuckDB sum a frame differently),
    * so comparing the doubles flips crossovers on ties. Instead each
    * window's DECIMAL sum is cross-multiplied by the other window's
    * count: `Σs·nl` vs `Σl·ns` compares `Σs/ns` with `Σl/nl` with no
    * division and no rounding. This column is the ONE crossover
    * decision: [[crossoverSignals]] reads it, and [[Backtest]] and
    * [[BacktestAggregator]] fold those signals.
    */
  def movingAverages(df: DataFrame, shortN: Int, longN: Int): DataFrame = {
    val short = bySymbolTs.rowsBetween(-(shortN - 1), 0)
    val long = bySymbolTs.rowsBetween(-(longN - 1), 0)
    df.withColumn("short_ma", avg(col("close")).over(short))
      .withColumn("long_ma", avg(col("close")).over(long))
      .withColumn("ma_side", maSide(short, long))
  }

  /** Reference window sizes (main.py:403-404). */
  def movingAverages(df: DataFrame): DataFrame = movingAverages(df, 5, 20)

  /** Price type of the exact crossover decision: any price below 10^10
    * to 8 decimals (a satoshi). Its window sums are DECIMAL(28,8), and a
    * sum times a DECIMAL(9,0) count is DECIMAL(38,8) — inside Spark's
    * maximum precision, so no operand is ever rounded. The DuckDB oracle
    * ([[graft.SparkEntry]]'s crossover fragment) casts to the same types.
    */
  private[graft] val MaPrice = "decimal(18,8)"
  private[graft] val MaCount = "decimal(9,0)"

  private def maSide(short: WindowSpec, long: WindowSpec): Column = {
    val price = col("close").cast(MaPrice)
    def n(w: WindowSpec) = count(col("close")).over(w).cast(MaCount)
    val s = sum(price).over(short) * n(long)
    val l = sum(price).over(long) * n(short)
    when(s > l, 1).when(s < l, -1).when(s === l, 0)
  }

  /** W3/W4 — crossover predicates over [[movingAverages]]' `ma_side`
    * (/root/reference/main.py:409-423): golden cross (buy) =
    * prev_short ≤ prev_long ∧ short > long; death cross (sell) = mirrored.
    * First row of each series has no lag ⇒ null ⇒ false, matching the
    * reference loop starting at i=1.
    */
  def crossoverSignals(df: DataFrame): DataFrame = {
    val prev = lag(col("ma_side"), 1).over(bySymbolTs)
    df.withColumn("buy_signal",
        coalesce(prev <= 0 && col("ma_side") > 0, lit(false)))
      .withColumn("sell_signal",
        coalesce(prev >= 0 && col("ma_side") < 0, lit(false)))
  }

  /** W6 — first K rows chronologically, per symbol
    * (/root/reference/main.py:381,465). Window top-k rather than global
    * sort+limit so it stays parallel across symbols.
    */
  def headK(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rn", row_number().over(bySymbolTs))
      .filter(col("rn") <= k)
      .drop("rn")

  /** A3 — final mark price: last close by time per symbol
    * (/root/reference/main.py:383,433,478). `max_by` = one hash-agg, no sort.
    */
  def lastClose(df: DataFrame): DataFrame =
    df.groupBy(col("symbol"))
      .agg(max_by(col("close"), col("ts")).as("last_close"))

  /** Export-table projection (reference main.py:515-534): signal rows with
    * the derived `trade_amount` and `shares = trade_amount / close`
    * columns — the payload its CSV export writes.
    */
  def exportSignals(candles: DataFrame, perTrade: Double,
      maxTrades: Option[Int]): DataFrame =
    evenlySpacedSignals(candles, maxTrades)
      .filter(col("buy_signal"))
      .select(col("symbol"), col("ts"), col("close"),
        lit(perTrade).as("trade_amount"),
        round(lit(perTrade) / col("close"), 6).as("shares"))

  /** Gap-filled candle series: one row per (symbol, hour) over each
    * symbol's active span, carrying the last close forward through silent
    * hours (LOCF) with zero volume — the fill step minute-data pipelines
    * run AFTER bucketing. The hour spine is generated per symbol with
    * `sequence` (no driver loop); the fill is one `last(ignoreNulls)`
    * window over the same symbol partitioning as every other operator.
    *
    * PRECONDITION: input candles must already sit on a common hourly
    * grid (the [[graft.Tables.candles]] contract — `date_trunc('hour')`
    * buckets). The spine is anchored at each symbol's min ts and joined
    * by EQUALITY, so an off-grid row (e.g. a candle at :30 in an
    * otherwise on-the-hour series) matches no spine slot and would be
    * dropped, not resampled — bucket first ([[graft.Tables.candlesAt]]),
    * then gap-fill. This operator fills gaps; it never re-buckets.
    */
  def gapFillCandles(candles: DataFrame): DataFrame = {
    val spine = candles.groupBy(col("symbol"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("symbol"),
        explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("ts"))
    val filled = spine.join(candles, Seq("symbol", "ts"), "left")
    val w = Window.partitionBy(col("symbol")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.select(col("symbol"), col("ts"),
      last(col("close"), ignoreNulls = true).over(w).as("close"),
      coalesce(col("volume"), lit(0.0)).as("volume"),
      col("close").isNull.as("gap_filled"))
  }

  /** "Evenly Spaced Buys" strategy valuation, per symbol, as ONE lazy
    * DataFrame expression (/root/reference/main.py:366-390):
    *
    *   buys        = rows with buy_signal, in time order
    *   num_trades  = min(|buys|, maxTrades, ⌊budget / perTrade⌋)   (main.py:380)
    *   shares      = Σ perTrade / close over the first num_trades buys
    *   final_value = (budget − num_trades·perTrade) + shares·lastClose
    *   roi         = (final_value − budget) / budget · 100
    *
    * Float determinism for the oracle: the per-row `perTrade/close` doubles
    * are bit-identical across engines; summing them is made order-independent
    * by accumulating in DECIMAL(28,10) (exact) and casting back to double —
    * so the result doesn't depend on partitioning (the reference's own
    * benchmark invariant, main.py:606-616).
    */
  def portfolioEvenlySpaced(
      candles: DataFrame,
      budget: Double = 10000.0,
      perTrade: Double = 1000.0,
      maxTrades: Option[Int] = None): DataFrame = {
    val affordable = math.floor(budget / perTrade).toLong
    val capCol = maxTrades
      .map(k => least(lit(k.toLong), lit(affordable)))
      .getOrElse(lit(affordable))
    val buys = evenlySpacedSignals(candles, maxTrades)
      .filter(col("buy_signal"))
      .withColumn("rn", row_number().over(bySymbolTs))
      .filter(col("rn") <= capCol)
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("num_trades"),
        sum((lit(perTrade) / col("close")).cast("decimal(28,10)"))
          .cast(DoubleType).as("total_shares"))
    buys
      .join(lastClose(candles), Seq("symbol"))
      .select(
        col("symbol"),
        col("num_trades"),
        round(col("total_shares"), 6).as("total_shares"),
        round(lit(budget) - col("num_trades") * lit(perTrade) +
              col("total_shares") * col("last_close"), 6).as("final_value"),
        round((col("total_shares") * col("last_close") -
               col("num_trades") * lit(perTrade)) / lit(budget) * 100.0, 6)
          .as("roi"))
  }

  /** Per-symbol maximum drawdown: running peak via an expanding window
    * max, per-row drawdown (close − peak)/peak, then the minimum (the
    * deepest drop) per symbol. Float-safe for the oracle by construction:
    * the running max is exact, each drawdown is a single IEEE divide on
    * identical inputs, and min() is order-independent.
    */
  def maxDrawdown(candles: DataFrame): DataFrame = {
    val run = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("ts"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    candles
      .withColumn("peak", max(col("close")).over(run))
      .withColumn("dd", (col("close") - col("peak")) / col("peak"))
      .groupBy(col("symbol"))
      .agg(
        round(min(col("dd")), 6).as("max_drawdown"),
        max(col("peak")).as("peak_close"),
        count(lit(1)).as("n_candles"))
  }

  /** Cutler's RSI (simple-moving-average variant) over a `periods`-row
    * trailing frame: gains/losses from one-candle close diffs, rolling
    * DECIMAL sums (order-independent), RSI = 100 − 100/(1 + ΣG/ΣL) with
    * the all-gain (ΣL = 0) branch pinned to 100. The Wilder/EMA variant
    * is a sequential recursion (backtest-fold territory, not a window);
    * Cutler's is the standard window-expressible form, and the shrinking
    * head frame mirrors the reference's min_periods=1 convention (§4).
    */
  def rsi(candles: DataFrame, periods: Int = 14): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("ts"))
    val frame = w.rowsBetween(-(periods - 1), 0)
    def dsum(c: Column) = sum(c.cast("decimal(28,10)")).over(frame)
      .cast(DoubleType)
    candles
      .withColumn("diff", col("close") - lag(col("close"), 1).over(w))
      .withColumn("gain", greatest(col("diff"), lit(0.0)))
      .withColumn("loss", greatest(-col("diff"), lit(0.0)))
      .withColumn("sg", dsum(col("gain")))
      .withColumn("sl", dsum(col("loss")))
      // head rows (diff NULL) take the sl===0 branch to 100.0: greatest
      // skips nulls, so gain/loss — and the frame sums — are never NULL
      // (pinned by TradingOpsSpec; matches the reference's zero-seeded
      // rolling means rather than pandas min_periods NULLs)
      .select(col("symbol"), col("ts"), col("close"),
        when(col("sl") === 0.0, lit(100.0))
          .otherwise(round(lit(100.0) -
            lit(100.0) / (lit(1.0) + col("sg") / col("sl")), 6))
          .as("rsi"))
  }

  /** Exponential moving average of close per symbol. A TRUE recursion
    * (`ema_i = α·close_i + (1−α)·ema_{i−1}`, seeded with the first
    * close) — unlike the SMA family this is NOT window-expressible, so
    * it runs as a typed sorted-group fold (`flatMapSortedGroups`, the
    * backtest machinery): one shuffle on symbol, one ordered pass per
    * group, O(1) state. The DuckDB oracle replays the identical double
    * arithmetic in the identical order via a recursive CTE, so emitted
    * values are bit-exact across engines with no tolerance.
    */
  def emaClose(candles: DataFrame, n: Int = 14): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    val alpha = 2.0 / (n + 1)
    val beta = 1.0 - alpha
    candles.select(col("symbol"), col("ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts")) { (symbol, rows) =>
        var ema = 0.0
        var first = true
        rows.map { case (_, ts, close) =>
          ema = if (first) { first = false; close }
                else alpha * close + beta * ema
          (symbol, ts, close, ema)
        }
      }
      .toDF("symbol", "ts", "close", "ema_raw")
      .select(col("symbol"), col("ts"), col("close"),
        round(col("ema_raw"), 6).as("ema"))
  }

  /** MACD(fast, slow, signal): a SECOND-ORDER recursion — the signal line
    * is an EMA of the macd line, which is itself the difference of two
    * EMAs of close. All three accumulators ride the same single ordered
    * pass per symbol as [[emaClose]] (one shuffle, O(1) state — state
    * never grows with series length, so a 10-year minute series streams
    * through unchanged). Seeds: both EMAs = first close, so macd starts
    * at 0 and the signal EMA seeds at 0. The DuckDB oracle replays the
    * identical double updates in the identical order via a recursive CTE
    * carrying (ef, es, esig) — bit-exact, no tolerance.
    */
  def macd(candles: DataFrame, fast: Int = 12, slow: Int = 26,
      signal: Int = 9): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    val af = 2.0 / (fast + 1); val bf = 1.0 - af
    val as = 2.0 / (slow + 1); val bs = 1.0 - as
    val ag = 2.0 / (signal + 1); val bg = 1.0 - ag
    candles.select(col("symbol"), col("ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts")) { (symbol, rows) =>
        var eF = 0.0; var eS = 0.0; var eSig = 0.0
        var first = true
        rows.map { case (_, ts, close) =>
          if (first) { first = false; eF = close; eS = close; eSig = 0.0 }
          else {
            eF = af * close + bf * eF
            eS = as * close + bs * eS
            eSig = ag * (eF - eS) + bg * eSig
          }
          (symbol, ts, close, eF - eS, eSig)
        }
      }
      .toDF("symbol", "ts", "close", "macd_raw", "sig_raw")
      .select(col("symbol"), col("ts"), col("close"),
        round(col("macd_raw"), 6).as("macd"),
        round(col("sig_raw"), 6).as("macd_signal"),
        round(col("macd_raw") - col("sig_raw"), 6).as("macd_hist"))
  }

  /** Pearson correlation of close prices for every symbol pair over their
    * time-aligned candles (the pairs-trading screen). Built from the five
    * DECIMAL-exact co-moment sums (Σx, Σy, Σxy, Σx², Σy²) so the sums are
    * partition-order independent, then one fixed sequence of double ops:
    *   corr = (n·Σxy − Σx·Σy) / (√(n·Σx²−Σx²ᵗᵒᵗ) · √(n·Σy²−Σy²ᵗᵒᵗ))
    * — bit-identical to the DuckDB oracle, unlike built-in corr() whose
    * streaming co-moment update order is engine-specific. Pairs with a
    * zero-variance side are dropped (correlation undefined).
    * One ts-equi-self-join + one aggregate; at scale the join carries
    * (ts, symbol, close) only.
    *
    * SCALE BOUND: the all-pairs form materializes S²/2 rows per aligned
    * timestamp before aggregating (inherent to all-pairs correlation, not
    * to this plan) — at 392 symbols × minute bars that is ~77k pair-rows
    * per minute, the repo's largest row amplifier. The `block` parameter
    * is the scale path: candidate pairs are restricted to symbols sharing
    * a block key (sector, liquidity tier, …), turning S² into Σ(per-block
    * s²) — the same candidate-restriction move Similarity.nearDupPairs
    * makes with `label`. `block` must be a function of `symbol` (constant
    * per symbol), otherwise a pair could straddle blocks and be lost.
    * [[topSymbolsByVolume]] composes as the other standard restriction.
    */
  def pairCorrelation(candles: DataFrame,
      block: Option[Column] = None): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(28,10)")).cast(DoubleType)
    val src = block match {
      case Some(b) => candles.withColumn("blk", b)
      case None => candles
    }
    val joinKeys = if (block.isDefined) Seq("blk", "ts") else Seq("ts")
    val a = src.select(joinKeys.map(col) :+ col("symbol").as("sym_a") :+
      col("close").as("x"): _*)
    val b = src.select(joinKeys.map(col) :+ col("symbol").as("sym_b") :+
      col("close").as("y"): _*)
    a.join(b, joinKeys)
      .filter(col("sym_a") < col("sym_b"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .filter(col("vx") > 0.0 && col("vy") > 0.0)
      .select(col("sym_a"), col("sym_b"), col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("vx")) * sqrt(col("vy"))), 6).as("corr"))
  }

  /** Restrict a candle frame to the `topN` symbols by total traded
    * volume — the standard pre-filter before an all-pairs screen (top-N²
    * pairs instead of S²). One aggregate over (symbol) and a broadcast
    * semi-join: the top-N list is tiny by construction, so the fact side
    * never shuffles.
    */
  def topSymbolsByVolume(candles: DataFrame, topN: Int): DataFrame = {
    val top = candles.groupBy(col("symbol"))
      .agg(sum(col("volume").cast("decimal(28,10)")).as("total_volume"))
      .orderBy(col("total_volume").desc, col("symbol"))
      .limit(topN)
      .select(col("symbol"))
    candles.join(broadcast(top), Seq("symbol"), "left_semi")
  }

  /** Daily VWAP + TWAP per symbol — the two benchmark prices every
    * execution-quality report keys on. VWAP weights close by volume;
    * TWAP weights by the seconds the price was "current" (gap to the
    * next candle within the day; the day's last candle gets the nominal
    * candle width `defaultDtSec` since it has no successor). Weighted
    * sums accumulate in DECIMAL → order-independent, oracle-exact; the
    * final divides are single double ops. One shuffle on (symbol, day)
    * shared by the lead window and the aggregate.
    */
  def vwapTwapDaily(candles: DataFrame, defaultDtSec: Long = 3600L): DataFrame = {
    val byDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol"), col("day")).orderBy(col("ts"))
    candles
      .withColumn("day", to_date(col("ts")))
      .withColumn("dt",
        coalesce(
          unix_seconds(lead(col("ts"), 1).over(byDay)) -
            unix_seconds(col("ts")),
          lit(defaultDtSec)).cast("double"))
      .groupBy(col("symbol"), col("day"))
      .agg(
        count(lit(1)).as("n_candles"),
        round(sum((col("close") * col("volume")).cast("decimal(28,10)"))
          .cast(DoubleType) /
          sum(col("volume").cast("decimal(28,10)")).cast(DoubleType), 6)
          .as("vwap"),
        round(sum((col("close") * col("dt")).cast("decimal(28,10)"))
          .cast(DoubleType) /
          sum(col("dt").cast("decimal(28,10)")).cast(DoubleType), 6)
          .as("twap"))
  }

  /** Bollinger bands + Donchian channel over a trailing `n`-row frame per
    * symbol (reference domain: rolling stats over the close series,
    * main.py:403-404 generalized from mean to dispersion). The standard
    * deviation is NOT Spark's `stddev` (whose streaming update order is
    * engine-specific): both moments accumulate as exact DECIMAL frame
    * sums, then one fixed-association double formula
    * `(sumsq − sum²/n) / (n−1)` — bit-identical in the DuckDB oracle.
    * Shrinking head frames (min_periods=1 analog) yield NULL bands until
    * the frame holds 2 rows. One shuffle on symbol; frame sums are
    * single-pass (UnboundedPreceding not required).
    */
  def bollingerBands(candles: DataFrame, n: Int = 20,
      k: Double = 2.0): DataFrame = {
    val frame = bySymbolTs.rowsBetween(-(n - 1), 0)
    // all five frame aggregates in ONE select → Catalyst extracts a
    // single Window operator (one sort pass); layered withColumns would
    // split them into three Windows (PlanShapeSpec pins this)
    candles
      .select(col("symbol"), col("ts"), col("close"),
        sum(col("close").cast("decimal(28,10)")).over(frame)
          .cast(DoubleType).as("s"),
        sum((col("close") * col("close")).cast("decimal(28,10)"))
          .over(frame).cast(DoubleType).as("sq"),
        count(lit(1)).over(frame).cast(DoubleType).as("cnt"),
        max(col("high")).over(frame).as("donchian_hi"),
        min(col("low")).over(frame).as("donchian_lo"))
      .withColumn("mid", col("s") / col("cnt"))
      .withColumn("std",
        when(col("cnt") > 1.0,
          sqrt(greatest(
            (col("sq") - col("s") * col("s") / col("cnt")) /
              (col("cnt") - lit(1.0)),
            lit(0.0)))))
      .select(col("symbol"), col("ts"), col("close"),
        round(col("mid"), 6).as("bb_mid"),
        round(col("mid") + lit(k) * col("std"), 6).as("bb_upper"),
        round(col("mid") - lit(k) * col("std"), 6).as("bb_lower"),
        col("donchian_hi"), col("donchian_lo"))
  }

  /** Per-symbol Sharpe ratio over simple close-to-close returns. Each
    * return is one double division (deterministic per row); the two
    * moments accumulate as exact DECIMAL sums, then mean/std/sharpe are
    * single fixed-order double expressions — the same
    * sample-variance identity as [[bollingerBands]], so the DuckDB
    * oracle matches bit-for-bit. One shuffle (symbol hash-agg) with
    * map-side partials; output is |symbols| rows.
    */
  def sharpeRatio(candles: DataFrame): DataFrame = {
    val ret = col("close") / lag(col("close"), 1).over(bySymbolTs) - lit(1.0)
    val base = candles
      .withColumn("r", ret)
      .filter(col("r").isNotNull)
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("n_returns"),
        sum(col("r").cast("decimal(28,14)")).cast(DoubleType).as("s"),
        sum((col("r") * col("r")).cast("decimal(28,14)")).cast(DoubleType)
          .as("sq"))
    base
      .withColumn("mean_r", col("s") / col("n_returns"))
      // n_returns > 1 guards the n−1 division like [[bollingerBands]]'
      // cnt > 1 does: at n_returns = 1 the identity divides by zero, and
      // because sq is the DECIMAL-rounded r² while s·s is the raw double
      // square, the numerator is ±~1e-18 rather than exactly 0 — var_r
      // would be ±Infinity and +Inf would FABRICATE sharpe = 0.0 instead
      // of the NULL a one-return symbol must report
      .withColumn("var_r",
        when(col("n_returns") > 1,
          (col("sq") - col("s") * col("s") / col("n_returns")) /
            (col("n_returns") - lit(1.0))))
      .select(col("symbol"), col("n_returns"),
        round(col("mean_r"), 10).as("mean_return"),
        when(col("var_r") > 0.0,
          round(col("mean_r") / sqrt(col("var_r")), 6)).as("sharpe"))
  }
}
