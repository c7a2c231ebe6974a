package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** The bench sink. Materializes EVERY output column through the no-op
    * DataSourceV2 sink instead of count(): count() re-optimizes the plan
    * with only the aggregate's needs, and column pruning then DELETES any
    * expensive operator whose output is projection-only — 22 of the
    * declared queries lost a Window or a whole join under count() (r16
    * count-plan audit; the as-of family benched FLAT 0.4 s from sf10 to
    * sf30 — the tell). Package-visible so PlanShapeSpec ("bench
    * instrument pin") can pin the
    * instrument: the spec executes sentinel pruning victims through this
    * exact method and fails if their benched plan ever loses its
    * Window/join again (i.e. if anyone "optimizes" the sink back to a
    * pruning action).
    */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get("graft-bench")
    // Warmup: run every query once at the SMALLEST scale factor (different
    // dataset — nothing the timed loop reads is cached) so JIT + whole-stage
    // codegen + shuffle paths are compiled before measurement. Standard
    // steady-state benchmarking (JMH-style warmup iterations): round-1
    // numbers charged ~5 s of one-time codegen to whichever query happened
    // to run first.
    // Optional comma-separated allowlist for targeted local runs
    // (SPARK_GRAFT_BENCH_ONLY=q1,q2); the driver never sets it. Applied
    // to warmup too: a one-query dev run must not pay ~all queries'
    // warmup drains/layout builds at sf0.001.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val warmDir = "/root/testdata/sf0.001"
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
        selected.foreach { case (_, fn) =>
          try materialize(fn(spark, warmDir))
          catch { case _: Throwable => () }
          // free each warmup query's localCheckpoint blocks immediately —
          // see Sessions.releaseCaches
          Sessions.releaseCaches(spark)
        }
    } catch { case _: Throwable => () }
    // Per-query time = MIN of `runs` measured executions (declared in the
    // JSON line) — the standard steady-state latency estimator: the min
    // strips one-off scheduler/GC/container noise (observed ±30% uniform
    // drift between whole bench runs on this host) while every run still
    // does all the real work against the target-SF data.
    // Default 3 runs since round 5: the round-4 driver bench reported
    // curation_pipeline at 8.0 s (vs 3.6 s measured locally best-of-3 on
    // identical code) — sustained container noise survived min-of-2; a
    // third sample makes the min estimator robust to one slow window.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt max 1
    // Container-drift calibration (r10 verdict item 2): same-code bench
    // totals spanned 72.9–113.4 s across windows on this host, so every
    // round-over-round comparison starts by re-litigating drift. This
    // probe is a FIXED synthetic workload — pure codegen'd hash CPU over
    // spark.range plus exactly one shuffle — fully data-independent, so
    // its time moves only with the container's momentary speed. Run
    // min-of-2 BEFORE and AFTER the measured loop; both land in the JSON
    // (cal_pre/cal_post) and tools/bench_compare.py normalizes per-query
    // ratios by the cross-round calibration ratio.
    // Probe size is a trade: big enough for a stable signal, small
    // enough not to perturb the measured queries — a 512M-row probe
    // measurably slowed the latency-sensitive streaming drains that
    // follow it by ~15% (A/B-isolated against the r10 Bench in one
    // container window), so it stays at 256M with an explicit
    // cache-release + GC before the loop resumes.
    def calibrate(): Double = {
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(256L * 1000L * 1000L)
          .selectExpr("pmod(xxhash64(id), 4096) AS k",
            "xxhash64(id, 1L) AS v")
          .groupBy("k").sum("v").count()
        (System.nanoTime() - t0) / 1e9
      }.min
      Sessions.releaseCaches(spark)
      System.gc()
      t
    }
    // Second, I/O-FLAVORED calibration probe (r17 verdict item 4): the
    // pure-CPU probe above diverged from the I/O-mixed workload WITHIN
    // one window (0.45 → 0.64 s between consecutive runs on an idle
    // machine — SCALE.md r17 "Window control"), so a drift correction
    // built on it alone is unreliable exactly when the regression
    // question is close. This probe times the other half of what the
    // queries actually do: a fixed-size parquet WRITE to scratch, a
    // parquet READ back, and one shuffle — data-independent like the
    // CPU probe (spark.range source, fixed 8 M rows ≈ 40 MB parquet),
    // small enough not to perturb the surrounding queries.
    // tools/bench_compare.py reports BOTH drift ratios and warns when
    // they disagree — the case where "drift-corrected" medians must
    // not be trusted without a same-window A/B.
    val calIoDir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-calio")
    def calibrateIo(): Double = {
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(8L * 1000L * 1000L)
          .selectExpr("id", "xxhash64(id) AS v",
            "cast(pmod(xxhash64(id, 2L), 1000) AS int) AS k")
          .write.mode("overwrite").parquet(calIoDir.getPath)
        spark.read.parquet(calIoDir.getPath)
          .groupBy("k").sum("v").count()
        (System.nanoTime() - t0) / 1e9
      }.min
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(calIoDir)
      Sessions.releaseCaches(spark)
      System.gc()
      t
    }
    val calPre = calibrate()
    val calIoPre = calibrateIo()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.toSeq.flatMap { case (name, fn) =>
      // Free the previous query's localCheckpoint blocks, then a GC
      // breather so one query's garbage doesn't bill the next one's
      // timed region (8g heap; round-2 driver run showed a 10× outlier on
      // a query that is ~1 s in isolation; round-8 showed every
      // checkpoint-using query 1.2–3.1× slower from block accumulation).
      Sessions.releaseCaches(spark)
      System.gc()
      // stderr breadcrumb (never stdout — the driver json-parses the
      // stdout tail): when a scale probe's JVM dies mid-surface, the
      // last marker names the query that killed it. The r15 152-query
      // sf30 probe died on heap OOM with NO way to attribute it — the
      // log showed only a stage number. heapMB is the post-GC live set
      // right before the query starts: flat across the sequence rules
      // out cross-query retention; a climbing staircase names the
      // queries that leak (the r16 attribution probe, VERDICT item 2).
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
      // diskFreeGB: scratch-disk watermark on the Spark local dir (r17
      // verdict item 3). The r16 triangle death was a scratch-disk
      // exhaustion that had to be attributed by EXTERNAL 2-s disk
      // sampling; this makes the next one self-attributing the way
      // heapMB made the GCLocker death self-attributing — a falling
      // staircase across the sequence names the queries that eat
      // scratch, and the last marker before a disk-full JVM death
      // names the killer.
      val scratchDir = new java.io.File(
        sys.props.getOrElse("spark.local.dir",
          sys.props.getOrElse("java.io.tmpdir", "/tmp")))
      val diskFreeGb = scratchDir.getUsableSpace / (1024L * 1024 * 1024)
      System.err.println(
        s"[bench] start $name heapMB=$heapMb diskFreeGB=$diskFreeGb")
      var ok = true
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { materialize(fn(spark, sfDir)) }
        catch { case e: Throwable =>
          // a failed run must NEVER masquerade as a (fast) measurement:
          // recording time-to-throw would make the bench total IMPROVE
          // when queries break. Mark and exclude; the name surfaces in
          // the JSON's "failed" list and on stderr.
          ok = false
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // each run rebuilds the plan and re-checkpoints — drop this run's
        // blocks before the next one (async, outside the timed region)
        Sessions.releaseCaches(spark)
        dt
      }
      if (ok) Some(name -> times.min) else { failed += name; None }
    }.toMap
    val calPost = calibrate()
    val calIoPost = calibrateIo()
    // The driver records only the LAST 2000 chars of stdout and json-parses
    // the final line (BENCH_r01/r02: "parsed": null when the line overflowed
    // that window). Keep the line compact: 10 ms per-query precision, and a
    // hard warning if we ever approach the budget again.
    // 10 ms precision with trailing zeros stripped ("0.20"→"0.2") — saves
    // ~35 chars across 75 queries against the stdout-tail budget
    def f(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".") else s
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // sf as basename: the full path costs ~20 chars of the 2000-char
    // stdout-tail budget and the scale factor is all the judge needs
    val sfName = new java.io.File(sfDir).getName
    // Graceful degradation against the ~1900-char line budget (the driver
    // json-parses the LAST stdout line from a 2000-char tail — overflow
    // means "parsed": null, as in rounds 1-2): if the full per-query map
    // does not fit, fold the FASTEST queries into one "_other" bucket
    // (count + exact summed seconds) until it does. Slow queries — the
    // ones worth reading — always survive; the total stays exact.
    def mkLine(shown: Seq[(String, Double)], folded: Seq[Double]): String = {
      val entries = shown.map { case (k, v) => "\"" + k + "\":" + f(v) } ++
        (if (folded.isEmpty) Nil
         else Seq("\"_other\":" + f(folded.sum),
           "\"_other_n\":" + folded.size))
      // a round with failures reports a SMALLER (better-looking) total —
      // flag it as partial so no comparator ever reads it as the full
      // surface's time (ADVICE r10)
      val failedPart = if (failed.isEmpty) ""
        else failed.sorted.map("\"" + _ + "\"")
          .mkString(""","partial":true,"failed":[""", ",", "]")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","runs":$runs,"agg":"min","cal_pre":${f(calPre)},"cal_post":${f(calPost)},"calio_pre":${f(calIoPre)},"calio_post":${f(calIoPost)},"queries":${entries.mkString("{", ",", "}")}$failedPart,"sf":"$sfName"}"""
    }
    val bySlowest = results.toSeq.sortBy { case (k, v) => (-v, k) }
    var keep = bySlowest.length
    var line = mkLine(bySlowest, Nil)
    while (line.length > 1900 && keep > 0) {
      keep -= 1
      line = mkLine(bySlowest.take(keep), bySlowest.drop(keep).map(_._2))
    }
    println(line)
    spark.stop()
  }
}
