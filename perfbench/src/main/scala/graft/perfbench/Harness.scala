package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Bench, Sessions, SparkEntry, Tables}

/** The benchmark's JVM side: one workload, one process, one closed-loop
  * client running jobs one after another.
  *
  * Set-up: session start, the build-once layouts its jobs read
  * ([[Fixtures]]) timed on their own, then one untimed warm pass over
  * the target input that writes every job's output under
  * `<out>/warm/<job>` for the oracle check. Timed passes follow for
  * `--seconds`. Each job is construct (`SparkEntry.queries(name)(spark, dir)`)
  * then execute (`Bench.materialize`, `graft.Bench`'s noop sink); between
  * jobs the harness releases cached blocks, collects garbage and samples
  * the live heap outside the timed region, as `graft.Bench` does.
  * A job that throws is counted as failed and never timed.
  *
  * With `--trace 1` a [[Tracer]] records spans and per-layer counters of
  * the timed passes. Everything is written to `<out>/result.json` (and
  * `<out>/trace.json`); run.py turns it into the reported metrics.
  *
  * Usage: Harness --workload W --data DIR --out DIR --jobs a,b,c
  *   --seconds S --trace 0|1 --launch-ms EPOCH_MS
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val dir = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val launchMs = opt("launch-ms").toLong
    val jobs = opt("jobs").split(',').toSeq.map(n => n -> SparkEntry.queries(n))

    val spark = Sessions.get("graft-perfbench")
    val cores = Sessions.workerSlots(spark)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val fixtureS = timed(jobs.foreach { case (name, _) =>
      Fixtures.get(name).foreach(_(spark, dir))
    })

    // The warm pass writes each job's output for the oracle check.
    // The JVM runs C1 only (run.py's -XX:TieredStopAtLevel=1), which
    // compiles most hot paths within this pass.
    val warmFailures = mutable.LinkedHashMap.empty[String, String]
    val warmS = timed(jobs.foreach { case (name, fn) =>
      try fn(spark, dir).write.mode("overwrite").parquet(s"$out/warm/$name")
      catch { case e: Throwable => warmFailures(name) = message(e) }
      Sessions.releaseCaches(spark)
    })
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var heapMb = 0.0

    /** One pass over the job list, traced when `tracer` is set; returns
      * the pass's times and (traced) per-layer counters. */
    def runPass(tracer: Option[Tracer], root: Option[Span],
        label: String): Map[String, Any] = {
      val passSpan = for (t <- tracer; r <- root)
        yield t.open(r.id, workload, "pass", s"pass $label")
      val times = mutable.LinkedHashMap.empty[String, Seq[Double]]
      val layers = mutable.Map.empty[String, Double]
      var scratchPeak = 0.0
      jobs.foreach { case (name, fn) =>
        Sessions.releaseCaches(spark)
        System.gc()
        val rt = Runtime.getRuntime
        heapMb = heapMb.max((rt.totalMemory - rt.freeMemory) / 1e6)
        val jobSpan = for (t <- tracer; p <- passSpan)
          yield t.open(p.id, name, "job", name)
        tracer.zip(jobSpan).foreach { case (t, s) => t.beginJob(s) }
        attempted += 1
        try {
          val t0 = System.nanoTime()
          val df = step(tracer, jobSpan, name, "construct")(fn(spark, dir))
          val t1 = System.nanoTime()
          step(tracer, jobSpan, name, "execute")(Bench.materialize(df))
          val t2 = System.nanoTime()
          times(name) = Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        } catch { case e: Throwable => failures(s"$name#$label") = message(e) }
        for (t <- tracer; s <- jobSpan) {
          t.close(s)
          scratchPeak = scratchPeak.max(scratchMb(spark))
          val c = t.endJob()
          c.foreach { case (k, v) =>
            layers(k) = if (k == "exec.task_skew") layers.getOrElse(k, 0.0).max(v)
              else layers.getOrElse(k, 0.0) + v
          }
          layers("construct_s") = layers.getOrElse("construct_s", 0.0) +
            times.get(name).map(_.head).getOrElse(0.0)
        }
      }
      for (t <- tracer; p <- passSpan) t.close(p)
      if (tracer.isDefined) layers("exec.scratch_peak_mb") = scratchPeak
      Map("pass_s" -> times.values.map(_.sum).sum,
        "jobs" -> times.toMap, "layers" -> layers.toMap)
    }

    val firstCallMs = System.currentTimeMillis()

    val tracer = if (trace) Some(new Tracer(spark).register()) else None
    val calPre = tracer.map(_ => calibrate(spark))
    val root = tracer.map(t => t.open(0L, workload, "workload", workload))
    // Timed passes until `seconds` have passed, each pass whole, and at
    // least MinPasses of them.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size < MinPasses || System.nanoTime() < deadline)
      passes += runPass(tracer, root, passes.size.toString)
    for (t <- tracer; r <- root) t.close(r)
    val calPost = tracer.map(_ => calibrate(spark))
    tracer.foreach(_.unregister())

    val result = Map(
      "workload" -> workload,
      "jobs" -> jobs.map(_._1),
      "cores" -> cores,
      "setup" -> Map(
        "session_s" -> sessionS, "fixture_s" -> fixtureS, "warm_s" -> warmS,
        "first_call_s" -> (firstCallMs - launchMs) / 1e3),
      "warm_failures" -> warmFailures.toMap,
      "attempted" -> attempted,
      "failures" -> failures.toMap,
      "live_heap_mb" -> heapMb,
      "passes" -> passes.toSeq,
      "host" -> Map("cal_pre_s" -> calPre, "cal_post_s" -> calPost),
      "oracle_sql" -> jobs.map(j => j._1 -> SparkEntry.oracleSql.get(j._1)).toMap)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out, "result.json"),
      json.writeValueAsString(result))
    tracer.foreach { t =>
      val spans = t.spansWithSelf.map { case (s, self) => Map(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "kind" -> s.kind,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self) }
      Files.writeString(Paths.get(out, "trace.json"),
        json.writeValueAsString(spans))
    }
    spark.stop()
  }

  /** Runs one step of a job; traced, it is a span whose id tags the
    * Spark jobs it launches. */
  private def step[T](tracer: Option[Tracer], job: Option[Span], name: String,
      kind: String)(body: => T): T = (tracer, job) match {
    case (Some(t), Some(j)) =>
      val s = t.open(j.id, name, kind, kind)
      t.sc.addJobTag(t.tagFor(s))
      try body finally { t.sc.removeJobTag(t.tagFor(s)); t.close(s) }
    case _ => body
  }

  /** run.py reports each job's median over the passes: three samples
    * leave one slow pass out. */
  private val MinPasses = 3

  /** The build-once layout behind each workload job that reads one.
    * Set-up builds it with a direct, separately timed call, so its cost
    * shows as fixture time instead of inside the warm pass. */
  private val Fixtures: Map[String, (SparkSession, String) => Any] = Map(
    "candles_bucketed" -> Tables.bucketedCandlesFor)

  /** `graft.Bench`'s fixed CPU probe (hash + one shuffle over a range),
    * at 1/8 of its row count so a traced run stays short. A drift
    * diagnostic only. */
  private def calibrate(spark: SparkSession): Double = {
    val s = timed(spark.range(32L * 1000L * 1000L)
      .selectExpr("pmod(xxhash64(id), 4096) AS k", "xxhash64(id, 1L) AS v")
      .groupBy("k").sum("v").count())
    Sessions.releaseCaches(spark)
    s
  }

  /** Bytes the run holds on scratch storage, in MB: the Spark local
    * dirs, the JVM temp dir, the harness cwd's `spark-warehouse` (the
    * build-once layouts) and the stream drains' run roots, which
    * `graft.streaming.EventStreams` puts in /dev/shm when it exists. */
  private def scratchMb(spark: SparkSession): Double = {
    val runRoots = Option(new java.io.File("/dev/shm").listFiles()).toSeq
      .flatten.filter(f => f.getName.startsWith("graft-") &&
        f.getName.contains("-run-"))
    val roots = (spark.sparkContext.getConf.getOption("spark.local.dir").toSeq
      .flatMap(_.split(',')) :+ sys.props("java.io.tmpdir") :+ "spark-warehouse")
      .map(r => new java.io.File(r).getAbsoluteFile) ++ runRoots
    def size(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
    roots.distinct.map(size).sum / 1e6
  }

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
}
