package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurement harness (never part of a declared query): the one dev
  * probe for any declared query. Each query gets one warm run (JIT,
  * codegen, checkpoints, replay fixtures) and then ONE measured run
  * through [[Bench.materialize]] (the exact bench sink); everything
  * printed comes from that single measured run:
  *
  *  - `[stage]` — per-stage table, slowest first: wall time, task
  *    count, max/median task time (a stage that stays slow after a
  *    width fix is either SKEWED, max ≫ median, or constant-dominated,
  *    max ≈ median — stage totals cannot tell the two apart), shuffle
  *    read/write and spill;
  *  - `[stream]` — per-micro-batch `durationMs` phases and the
  *    state-operator counters, when the query drains a stream (updates
  *    vs removals vs commit separates "state-store puts are the cost"
  *    from "the micro-batch machinery is the cost");
  *  - `[plan]` — the FINAL adaptive plan of the sink write. Reused
  *    exchanges and query stages appear only at runtime; a static
  *    `explain` shows the pre-AQE skeleton.
  *
  * Listener delivery is async, so the probe waits for the listener bus
  * to go quiet after the warm run (its straggler events must not be
  * attributed to the measured run) and again before printing.
  *
  * Usage: tools/java_run.sh graft.Probe <query> [query ...]
  * (SPARK_GRAFT_SF_DIR selects the data directory, default sf0.1).
  * An unknown query name exits 2 before any session starts.
  */
object Probe {
  private case class Stage(id: Int, label: String, sec: Double,
    tasks: Int, shufRead: Long, shufWrite: Long, spillMem: Long,
    spillDisk: Long)

  /** What the three listeners record while `armed`. `events` counts
    * EVERY delivery, armed or not — settling on it is what waits out
    * the warm run's tail before capture is armed.
    */
  private final class Recorder {
    @volatile var armed = false
    val events = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[Stage]()
    val taskSecs =
      new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Double]]()
    val batches = new ConcurrentLinkedQueue[String]()
    val plan = new AtomicReference[String]()

    def clear(): Unit = {
      stages.clear(); taskSecs.clear(); batches.clear(); plan.set(null)
    }

    val jobs: SparkListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        if (armed && e.taskInfo != null) taskSecs
          .computeIfAbsent(e.stageId,
            _ => new ConcurrentLinkedQueue[java.lang.Double]())
          .add(e.taskInfo.duration / 1000.0)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        events.incrementAndGet()
        if (armed) stages.add(stage(e.stageInfo))
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        events.incrementAndGet()
        if (armed) {
          val p = e.progress
          batches.add(s"batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
          p.stateOperators.foreach { so =>
            batches.add(s"state op=${so.operatorName} " +
              s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"removed=${so.numRowsRemoved} updMs=${so.allUpdatesTimeMs} " +
              s"rmMs=${so.allRemovalsTimeMs} commitMs=${so.commitTimeMs} " +
              s"memMB=${so.memoryUsedBytes / 1048576}")
          }
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    // every successful action reports here, the drains' per-batch
    // writes included; delivery is in posting order, so the LAST plan
    // captured is the sink write that ends the measured run
    val writes: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        events.incrementAndGet()
        if (armed) plan.set(qe.executedPlan.toString)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = events.incrementAndGet()
    }
  }

  /** AQE stages all carry the useless "$anonfun$withThreadLocalCaptured"
    * name; the first graft frame in the stage's submission stack names
    * the operator line that BUILT the stage's plan — coarse (plan
    * construction site, not per operator) but enough to tell an edge
    * build from an iteration from a checkpoint.
    */
  private def stage(si: StageInfo): Stage = {
    val m = si.taskMetrics
    val sec = (for (a <- si.submissionTime; b <- si.completionTime)
      yield (b - a) / 1000.0).getOrElse(0.0)
    val site = si.details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("graft.Probe"))
      .orElse(si.details.linesIterator.find(l =>
        l.contains("sql.execution") &&
          !l.contains("SQLExecution") && !l.contains("withThreadLocal") &&
          !l.contains("QueryExecution") && !l.contains("adaptive")))
      .map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")")
      .getOrElse("")
    val name = si.name.takeWhile(_ != '\n')
    val label = if (name.startsWith("$anonfun")) site else s"$name $site".trim
    Stage(si.stageId, label, sec, si.numTasks,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
      m.diskBytesSpilled)
  }

  /** Poll until `count` is stable for 1 s (bounded at 20 s). */
  private def settle(count: () => Int): Unit = {
    var last = -1
    var stable = 0
    var waited = 0
    while (stable < 4 && waited < 80) {
      Thread.sleep(250); waited += 1
      if (count() == last) stable += 1 else { stable = 0; last = count() }
    }
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%.1f"

  private def report(name: String, total: Double, sfDir: String,
      rec: Recorder): Unit = {
    val stages = rec.stages.toArray(Array.empty[Stage]).sortBy(-_.sec)
    println(f"[stage] == $name: total $total%.2f s, ${stages.length} " +
      s"stages (measured run, noop sink, $sfDir) ==")
    println("[stage] | stage | sec | tasks | task max/med s | " +
      "shuf read MB | shuf write MB | spill mem MB | spill disk MB |")
    stages.foreach { r =>
      val ts = Option(rec.taskSecs.get(r.id))
        .map(_.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).sorted)
        .filter(_.nonEmpty)
        .map(a => f"${a.last}%.2f/${a(a.length / 2)}%.2f")
        .getOrElse("-")
      println(s"[stage] | ${r.id} ${r.label} | ${f"${r.sec}%.2f"} | " +
        s"${r.tasks} | $ts | ${mb(r.shufRead)} | ${mb(r.shufWrite)} | " +
        s"${mb(r.spillMem)} | ${mb(r.spillDisk)} |")
    }
    rec.batches.forEach(l => println(s"[stream] $l"))
    println(s"[plan] == $name: final adaptive plan ==")
    println(Option(rec.plan.get).getOrElse("(no plan captured)"))
  }

  def main(args: Array[String]): Unit = {
    val names = args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(
        (if (unknown.nonEmpty) s"unknown queries: ${unknown.mkString(", ")}\n"
         else "") +
        "usage: tools/java_run.sh graft.Probe <query> [query ...]")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get("graft-probe")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec.jobs)
    spark.streams.addListener(rec.streams)
    spark.listenerManager.register(rec.writes)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      Bench.materialize(fn(spark, sfDir))
      Sessions.releaseCaches(spark)
      System.gc()
      settle(() => rec.events.get())
      rec.clear()
      rec.armed = true
      val t0 = System.nanoTime()
      Bench.materialize(fn(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      settle(() => rec.events.get())
      rec.armed = false
      report(n, total, sfDir, rec)
      Sessions.releaseCaches(spark)
      System.gc()
    }
    spark.stop()
  }
}
