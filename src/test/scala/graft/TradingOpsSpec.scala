package graft

import org.apache.spark.sql.functions._

import graft.operators.TradingOps

class TradingOpsSpec extends SparkSpec {

  test("emaClose replays the exact per-symbol recursion in time order") {
    val closes = Seq(10.0, 12.0, 9.0, 15.0, 11.0)
    val df = candleFrame(Map("a" -> closes, "b" -> Seq(5.0, 7.0)))
    val got = TradingOps.emaClose(df, 14).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val alpha = 2.0 / 15; val beta = 1.0 - alpha
    def expect(cs: Seq[Double]): Seq[Double] = {
      var e = cs.head
      cs.head +: cs.tail.map { c => e = alpha * c + beta * e; e }
    }.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)
    assert(got.filter(_._1 == "a").map(_._3).toSeq == expect(closes))
    assert(got.filter(_._1 == "b").map(_._3).toSeq == expect(Seq(5.0, 7.0)))
  }

  test("dateRange is inclusive on both bounds (pandas .loc parity)") {
    val df = candleFrame(Map("a" -> Seq(1.0, 2.0, 3.0, 4.0, 5.0)))
    // rows at :01 and :03 minutes are the exact bounds
    val got = TradingOps.dateRange(df, "2024-01-01 00:01:00", "2024-01-01 00:03:00")
      .select("close").collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == Seq(2.0, 3.0, 4.0))
  }

  test("compileFilter: gt/lt/eq conjunction; unknown op rejected") {
    val df = candleFrame(Map("a" -> Seq(1.0, 2.0, 3.0, 4.0, 5.0)))
    val spec = Map("close" -> Map("gt" -> 1.0, "lt" -> 5.0))
    val got = df.filter(TradingOps.compileFilter(spec))
      .select("close").collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == Seq(2.0, 3.0, 4.0))
    val eq = df.filter(TradingOps.compileFilter(Map("close" -> Map("eq" -> 3.0))))
    assert(eq.count() == 1)
    intercept[IllegalArgumentException] {
      TradingOps.compileFilter(Map("close" -> Map("ge" -> 1.0)))
    }
  }

  test("jsonFilter parses the reference's spec grammar") {
    val df = candleFrame(Map("a" -> Seq(10.0, 20.0, 30.0)))
    val got = TradingOps.jsonFilter(df, """{"close": {"gt": 15.0}}""")
    assert(got.count() == 2)
  }

  test("evenlySpacedSignals: step = max(n/k, 1), default 10, per symbol") {
    // n=10, k=3 -> step=3 -> rows 1,4,7,10 flagged
    val df = candleFrame(Map("a" -> (1 to 10).map(_.toDouble)))
    val flagged = TradingOps.evenlySpacedSignals(df, Some(3))
      .filter(col("buy_signal")).select("close")
      .collect().map(_.getDouble(0)).sorted
    assert(flagged.toSeq == Seq(1.0, 4.0, 7.0, 10.0))
    // n=4 < k=10 -> step clamps to 1 -> all rows flagged
    val small = candleFrame(Map("a" -> (1 to 4).map(_.toDouble)))
    assert(TradingOps.evenlySpacedSignals(small, Some(10))
      .filter(col("buy_signal")).count() == 4)
    // no maxTrades -> step=10 -> rows 1 and 11 of 12
    val twelve = candleFrame(Map("a" -> (1 to 12).map(_.toDouble)))
    assert(TradingOps.evenlySpacedSignals(twelve, None)
      .filter(col("buy_signal")).count() == 2)
  }

  test("movingAverages reproduces pandas rolling(min_periods=1)") {
    val df = candleFrame(Map("a" -> Seq(2.0, 4.0, 6.0, 8.0)))
    val got = TradingOps.movingAverages(df, 2, 3)
      .orderBy("ts").select("short_ma", "long_ma")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    // short (w=2): 2, 3, 5, 7 ; long (w=3): 2, 3, 4, 6
    assert(got.toSeq == Seq((2.0, 2.0), (3.0, 3.0), (5.0, 4.0), (7.0, 6.0)))
  }

  test("crossover ties on cent prices are decided exactly (no double flip)") {
    // Row 3 of each series is a mathematical tie: short (w=2) and long
    // (w=3) means are both 54.05 for "a" and 77.29 for "b". The double
    // means differ in the last bit (54.05 vs 54.04999999999999, and
    // 77.28999999999999 vs 77.29), which used to fire a golden cross on
    // "a" and a death cross on "b" out of a tie.
    val df = candleFrame(Map(
      "a" -> Seq(59.05, 54.05, 25.71, 82.39),
      "b" -> Seq(72.29, 77.29, 75.02, 79.56)))
    val signals = TradingOps.crossoverSignals(
      TradingOps.movingAverages(df, 2, 3)).orderBy("symbol", "ts")
    val got = signals.select("symbol", "buy_signal", "sell_signal")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      ("a", false, false), ("a", false, false),
      ("a", false, true), ("a", false, false),
      ("b", false, false), ("b", false, false),
      ("b", true, false), ("b", false, false)))
    assert(signals.select("ma_side").collect().map(_.getInt(0)).toSeq ==
      Seq(0, 0, -1, 0, 0, 0, 1, 0))
    // the backtest fold consumes the same decision: no open on "a"
    val opened = operators.Backtest.positions(df,
        operators.Backtest.Config(shortN = 2, longN = 3))
      .collect().map(_.symbol).toSeq
    assert(opened == Seq("b"))
  }

  test("headK keeps first K per symbol chronologically") {
    val df = candleFrame(Map(
      "a" -> Seq(1.0, 2.0, 3.0), "b" -> Seq(9.0, 8.0)))
    val got = TradingOps.headK(df, 2).groupBy("symbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L))
  }

  test("lastClose = close at max ts per symbol") {
    val df = candleFrame(Map("a" -> Seq(5.0, 7.0, 3.0), "b" -> Seq(1.0)))
    val got = TradingOps.lastClose(df)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 3.0, "b" -> 1.0))
  }

  test("portfolioEvenlySpaced matches hand computation") {
    // closes 10,20,40,80; k=2 -> step=2 -> buys at rows 1,3 (close 10,40)
    // shares = 1000/10 + 1000/40 = 125; last=80
    // final = 10000 - 2000 + 125*80 = 18000; roi = 80%
    val df = candleFrame(Map("a" -> Seq(10.0, 20.0, 40.0, 80.0)))
    val r = TradingOps.portfolioEvenlySpaced(df, 10000.0, 1000.0, Some(2))
      .collect().head
    assert(r.getAs[Long]("num_trades") == 2L)
    assert(math.abs(r.getAs[Double]("total_shares") - 125.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("final_value") - 18000.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("roi") - 80.0) < 1e-9)
  }

  test("portfolio result is invariant to input partitioning (reference X4)") {
    val df = candleFrame(Map("a" -> (1 to 97).map(i => 50.0 + (i * 37 % 23))))
    val base = TradingOps.portfolioEvenlySpaced(df, 10000.0, 1000.0, Some(7))
      .collect().head.toSeq
    for (p <- Seq(1, 3, 8)) {
      val got = TradingOps.portfolioEvenlySpaced(
        df.repartition(p), 10000.0, 1000.0, Some(7)).collect().head.toSeq
      assert(got == base, s"partitions=$p")
    }
  }

  test("maxDrawdown matches hand computation") {
    // closes 10, 20, 15, 5, 8: peaks 10,20,20,20,20
    // dd: 0, 0, -0.25, -0.75, -0.6 -> max drawdown -0.75, peak 20
    val df = candleFrame(Map("a" -> Seq(10.0, 20.0, 15.0, 5.0, 8.0)))
    val r = TradingOps.maxDrawdown(df).collect().head
    assert(math.abs(r.getAs[Double]("max_drawdown") - (-0.75)) < 1e-9)
    assert(r.getAs[Double]("peak_close") == 20.0)
    assert(r.getAs[Long]("n_candles") == 5L)
  }

  test("rsi matches hand computation (Cutler's SMA variant)") {
    // closes 10, 12, 11: diffs -, +2, -1
    // row1: no diff -> sl=0 -> 100; row2: sg=2 sl=0 -> 100
    // row3: sg=2 sl=1 -> 100 - 100/(1 + 2) = 66.666667
    val df = candleFrame(Map("a" -> Seq(10.0, 12.0, 11.0)))
    val got = TradingOps.rsi(df, 14).collect()
      .map(r => r.getAs[java.sql.Timestamp]("ts").getTime ->
        r.getAs[Double]("rsi")).toMap
    val base = 1704067200000L
    assert(got(base) == 100.0)
    assert(got(base + 60000L) == 100.0)
    assert(math.abs(got(base + 120000L) - 66.666667) < 1e-6)
  }

  test("pairCorrelation: perfect positive and negative correlation") {
    // b = 2a + 1 (corr +1), c = 10 - a (corr -1 with a and b)
    val df = candleFrame(Map(
      "a" -> Seq(1.0, 2.0, 3.0, 4.0),
      "b" -> Seq(3.0, 5.0, 7.0, 9.0),
      "c" -> Seq(9.0, 8.0, 7.0, 6.0)))
    val got = TradingOps.pairCorrelation(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("corr"))
      .toMap
    assert(got.size == 3)
    assert(math.abs(got(("a", "b")) - 1.0) < 1e-9)
    assert(math.abs(got(("a", "c")) + 1.0) < 1e-9)
    assert(math.abs(got(("b", "c")) + 1.0) < 1e-9)
  }

  test("pairCorrelation with block key restricts to intra-block pairs") {
    val df = candleFrame(Map(
      "a" -> Seq(1.0, 2.0, 3.0, 4.0),
      "b" -> Seq(3.0, 5.0, 7.0, 9.0),
      "c" -> Seq(9.0, 8.0, 7.0, 6.0),
      "d" -> Seq(2.0, 4.0, 6.0, 8.0)))
    // block = first letter group: {a,b} vs {c,d} — cross-block pairs
    // (a,c),(a,d),(b,c),(b,d) must disappear; intra-block corr values
    // must equal the all-pairs run (the restriction prunes candidates,
    // never changes a surviving pair's math)
    val blk = when(col("symbol").isin("a", "b"), lit("g1")).otherwise(lit("g2"))
    val blocked = TradingOps.pairCorrelation(df, Some(blk)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("corr"))
      .toMap
    assert(blocked.keySet == Set(("a", "b"), ("c", "d")))
    val all = TradingOps.pairCorrelation(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("corr"))
      .toMap
    assert(blocked(("a", "b")) == all(("a", "b")))
    assert(blocked(("c", "d")) == all(("c", "d")))
  }

  test("topSymbolsByVolume keeps only the heaviest symbols") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val df = candleFrame(Map(
      "a" -> Seq(1.0, 2.0), "b" -> Seq(1.0), "c" -> Seq(1.0, 2.0, 3.0)))
    // volumes are 1.0 per candle -> totals a=2, b=1, c=3
    val kept = TradingOps.topSymbolsByVolume(df, 2)
      .select("symbol").distinct().collect().map(_.getString(0)).toSet
    assert(kept == Set("a", "c"))
  }

  test("vwapTwapDaily matches hand computation") {
    // one symbol, one day, minute candles (candleFrame volume = 1.0):
    // override volumes so VWAP != TWAP.
    // closes 10, 20, 30 at :00 :01 :02, volumes 1, 3, 1
    // VWAP = (10·1 + 20·3 + 30·1) / 5 = 20.0
    // dt: 60 s, 60 s, default 3600 s (last candle)
    // TWAP = (10·60 + 20·60 + 30·3600) / 3720 = 109800/3720 ≈ 29.516129
    val df = candleFrame(Map("a" -> Seq(10.0, 20.0, 30.0)))
      .withColumn("volume",
        expr("CASE WHEN close = 20.0 THEN 3.0 ELSE 1.0 END"))
    val r = TradingOps.vwapTwapDaily(df).collect().head
    assert(r.getAs[Long]("n_candles") == 3L)
    assert(math.abs(r.getAs[Double]("vwap") - 20.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("twap") - 29.516129) < 1e-6)
  }

  test("bollingerBands matches hand computation; head frames yield null") {
    // closes 10, 20, 30: at row 3 the 20-row frame holds all 3 rows
    // mean = 20, sample std = 10 → upper 40, lower 0; donchian from
    // candleFrame's high = close+1, low = close−1
    val df = candleFrame(Map("a" -> Seq(10.0, 20.0, 30.0)))
    val rows = TradingOps.bollingerBands(df, 20, 2.0).collect()
      .sortBy(_.getTimestamp(1).getTime)
    assert(rows(0).isNullAt(rows(0).fieldIndex("bb_upper"))) // 1-row frame
    val r3 = rows(2)
    assert(r3.getAs[Double]("bb_mid") == 20.0)
    assert(r3.getAs[Double]("bb_upper") == 40.0)
    assert(r3.getAs[Double]("bb_lower") == 0.0)
    assert(r3.getAs[Double]("donchian_hi") == 31.0)
    assert(r3.getAs[Double]("donchian_lo") == 9.0)
  }

  test("sharpeRatio matches hand computation") {
    // closes 100, 110, 99: returns 0.1 and (99/110 − 1) = −0.1 exactly
    // → mean 0, var = (0.01 + 0.01 − 0)/1 = 0.02, sharpe = 0
    val df = candleFrame(Map("a" -> Seq(100.0, 110.0, 99.0)))
    val r = TradingOps.sharpeRatio(df).collect().head
    assert(r.getAs[Long]("n_returns") == 2L)
    assert(math.abs(r.getAs[Double]("mean_return")) < 1e-9)
    assert(math.abs(r.getAs[Double]("sharpe")) < 1e-9)
  }

  test("macd replays the exact three-accumulator recursion in time order") {
    val closes = Seq(10.0, 12.0, 9.0, 15.0, 11.0, 13.0)
    val df = candleFrame(Map("a" -> closes))
    val got = TradingOps.macd(df, 12, 26, 9).collect()
      .sortBy(_.getTimestamp(1).getTime)
    val (af, as, ag) = (2.0 / 13, 2.0 / 27, 2.0 / 10)
    var eF = closes.head; var eS = closes.head; var eSig = 0.0
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    closes.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) {
        eF = af * c + (1 - af) * eF
        eS = as * c + (1 - as) * eS
        eSig = ag * (eF - eS) + (1 - ag) * eSig
      }
      assert(got(i).getAs[Double]("macd") == r6(eF - eS), s"row $i macd")
      assert(got(i).getAs[Double]("macd_signal") == r6(eSig), s"row $i sig")
      assert(got(i).getAs[Double]("macd_hist") == r6((eF - eS) - eSig),
        s"row $i hist")
    }
  }
}
