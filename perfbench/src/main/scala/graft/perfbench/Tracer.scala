package graft.perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace tree: workload → pass → job →
  * {construct, execute} → Spark job → stage. `trace` is the benchmark
  * job's name (the workload's name above job level); times are epoch µs.
  */
final case class Span(id: Long, parent: Long, trace: String, kind: String,
    name: String, startUs: Long, var endUs: Long)

/** Per-layer recorder for the traced run. It sees the engine only
  * through Spark's public listener APIs — a SparkListener (jobs, stages,
  * tasks, blocks), a QueryExecutionListener (planning phases, final
  * adaptive plan) and a StreamingQueryListener (micro-batch progress) —
  * and keeps spans and counters in memory until the run ends.
  *
  * Attribution: the harness opens a job with [[beginJob]] and, after the
  * job's last call returns, [[endJob]] drains the listener bus, so every
  * event of that job has been counted before the next job starts.
  * Spark jobs are parented by the job tag the harness sets around
  * construct and execute ([[tagFor]]); untagged jobs (streaming
  * micro-batches run on their own thread) fall back to the current job.
  */
final class Tracer(spark: SparkSession) {
  val sc = spark.sparkContext
  private val clock0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = clock0Us + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val constructIds = mutable.Set.empty[Long]
  def open(parent: Long, trace: String, kind: String, name: String,
      startUs: Long = nowUs): Span = synchronized {
    nextId += 1
    val s = Span(nextId, parent, trace, kind, name, startUs, startUs)
    spans += s
    if (kind == "construct") constructIds += s.id
    s
  }
  def close(s: Span): Unit = synchronized { s.endUs = nowUs }

  private val TagPrefix = "perfbench-span-"
  def tagFor(s: Span): String = TagPrefix + s.id

  // ---- per-job accumulators (guarded by `this`) -------------------------
  private var jobSpan: Option[Span] = None
  private var counters = mutable.Map.empty[String, Double]
  private val sparkJobs = mutable.Map.empty[Int, Span]
  private var jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var worstSkew = 1.0
  private var streamState = mutable.Map.empty[java.util.UUID, (Long, Long)]

  private def add(k: String, v: Double): Unit =
    if (jobSpan.isDefined) counters(k) = counters.getOrElse(k, 0.0) + v

  /** The SparkListener's counters. Each exists, at 0 if nothing was
    * added, once the listener has seen a Spark job start, so a counter
    * missing from a pass means the listener never fired (run.py fails
    * the run on that), not that the pass wrote no blocks. */
  private val SparkCounters = Seq("construct.jobs", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_busy_s", "exec.gc_s",
    "exec.input_mb", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_disk_mb", "exec.block_write_mb")

  def beginJob(s: Span): Unit = {
    ListenerBusDrain(sc)
    synchronized {
      jobSpan = Some(s)
      counters = mutable.Map.empty
      jobIntervals = mutable.ArrayBuffer.empty
      worstSkew = 1.0
      streamState = mutable.Map.empty
    }
  }

  /** Drains the bus and returns the finished job's counters, with
    * `exec_s` (union of its Spark job intervals) and `exec.task_skew`
    * (worst stage max/median task time) derived here. */
  def endJob(): Map[String, Double] = {
    ListenerBusDrain(sc)
    synchronized {
      val out = counters.toMap ++ Map(
        "exec_s" -> Tracer.unionUs(jobIntervals.toSeq) / 1e6,
        "exec.task_skew" -> worstSkew,
        "stream.state_rows" -> streamState.values.map(_._1).sum.toDouble,
        "stream.state_mb" -> streamState.values.map(_._2).sum / 1e6)
      jobSpan = None
      out
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobSpan.foreach { js =>
        SparkCounters.foreach(add(_, 0))
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(',').toSeq).getOrElse(Nil)
        val parent = tags.collectFirst {
          case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toLong
        }
        add(if (parent.exists(constructIds)) "construct.jobs" else "exec.jobs", 1)
        val s = open(parent.getOrElse(js.id), js.trace, "spark_job",
          s"job ${e.jobId}", e.time * 1000L)
        sparkJobs(e.jobId) = s
        e.stageIds.foreach(id => stageParent(id) = s.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      sparkJobs.remove(e.jobId).foreach { s =>
        s.endUs = e.time * 1000L
        jobIntervals += ((s.startUs, s.endUs))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (jobSpan.isDefined && e.taskInfo != null) {
        val dur = e.taskInfo.duration
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += dur
        add("exec.tasks", 1)
        add("exec.task_busy_s", dur / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
          add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          add("exec.spill_disk_mb", m.diskBytesSpilled / 1e6)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        val times = taskTimes.remove((info.stageId, info.attemptNumber()))
          .getOrElse(mutable.ArrayBuffer.empty[Long])
        jobSpan.foreach { js =>
          add("exec.stages", 1)
          if (times.size >= 2) {
            val sorted = times.sorted
            val median = sorted(sorted.size / 2).max(1L)
            worstSkew = worstSkew.max(sorted.last.toDouble / median)
          }
          for (t0 <- info.submissionTime; t1 <- info.completionTime) {
            val s = open(stageParent.getOrElse(info.stageId, js.id), js.trace,
              "stage", s"stage ${info.stageId} (${info.numTasks} tasks)",
              t0 * 1000L)
            s.endUs = t1 * 1000L
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.diskSize > 0)
          add("exec.block_write_mb", b.diskSize / 1e6)
      }
  }

  private val planListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val plan = qe.executedPlan
      val exchanges = collectWithSubqueries(plan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size
      val reused = collectWithSubqueries(plan) {
        case r: ReusedExchangeExec => r
      }.size
      Tracer.this.synchronized {
        add("plan.analysis_s", phase("analysis"))
        add("plan.optimization_s", phase("optimization"))
        add("plan.planning_s", phase("planning"))
        add("plan.exchanges", exchanges)
        add("plan.reused_exchanges", reused)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        add("stream.batches", 1)
        add("stream.input_rows", p.numInputRows.toDouble)
        add("stream.add_batch_s", d("addBatch"))
        add("stream.query_planning_s", d("queryPlanning"))
        add("stream.get_batch_s", d("getBatch"))
        add("stream.latest_offset_s", d("latestOffset"))
        add("stream.commit_s", d("walCommit") + d("commitOffsets"))
        add("stream.trigger_overhead_s", d("triggerExecution") - d("addBatch"))
        if (jobSpan.isDefined && p.stateOperators.nonEmpty)
          streamState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def register(): this.type = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    this
  }

  def unregister(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans with their self time: duration minus the part of the interval
    * the span's children cover. */
  def spansWithSelf: Seq[(Span, Long)] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (c.startUs.max(s.startUs), c.endUs.min(s.endUs))).filter(i => i._2 > i._1)
      (s, (s.endUs - s.startUs) - Tracer.unionUs(kids.toSeq))
    }
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
