package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. Op spans are timed by the benchmark around a call
  * into a layer's public function; job, stage and task spans come from the
  * Spark listener and hang under the op whose id was set as a local property
  * on the calling thread when Spark launched the job.
  *
  * Times are epoch milliseconds for every kind (the listener's event clock);
  * op spans also carry their nanosecond-timed wall as the `wall_ms` attribute.
  */
final case class Span(
    id: Long,
    parent: Long,
    kind: String,
    name: String,
    startMs: Long,
    endMs: Long,
    attrs: Map[String, Double] = Map.empty,
    tags: Map[String, String] = Map.empty)

/** Task-level figures summed over a set of tasks. */
final case class TaskSums(
    tasks: Long = 0, failed: Long = 0,
    runMs: Double = 0, cpuMs: Double = 0, deserMs: Double = 0, gcMs: Double = 0,
    schedDelayMs: Double = 0, shuffleReadB: Double = 0, shuffleWriteB: Double = 0,
    spillB: Double = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, failed + o.failed,
    runMs + o.runMs, cpuMs + o.cpuMs, deserMs + o.deserMs, gcMs + o.gcMs,
    schedDelayMs + o.schedDelayMs, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB)
}

/** What the trace knows about one op: its wall, its jobs and their tasks. */
final case class OpStats(
    span: Span, wallMs: Double, jobs: Int, stages: Int, jobUnionMs: Double,
    sums: TaskSums) {
  /** Op wall not covered by any of its jobs: planning, result handling and
    * the Spark driver's own work between jobs. */
  def driverGapMs: Double = math.max(0.0, wallMs - jobUnionMs)
}

/** In-memory span recorder. Spans are kept in memory and written out once,
  * at the end of the run.
  *
  * `op` is the only call the workloads make: with tracing off it runs the
  * body and nothing else, so end-to-end runs carry no listener and no
  * bookkeeping. With tracing on, the op's id reaches Spark through
  * `sc.setLocalProperty`, and the listener parents each job (and its stages
  * and tasks) under that op. The recorder times its own work — op
  * bookkeeping and every listener callback — so a traced run can report its
  * overhead as a share of its wall.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val selfNs = new AtomicLong(0)

  private final class JobRec(val id: Int, val parent: Long, val startMs: Long,
      val nStages: Int) {
    @volatile var endMs: Long = -1
    @volatile var ok: Boolean = true
  }
  private final class StageRec(val id: Int, val job: Int) {
    var name = ""
    var startMs = -1L
    var endMs = -1L
    var sums = TaskSums()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(Property)))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, p, e.time, e.stageIds.size))
      e.stageIds.foreach { s =>
        stageJob.putIfAbsent(s, e.jobId)
        stages.putIfAbsent(s, new StageRec(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val r = jobs.get(e.jobId)
      if (r != null) {
        r.endMs = e.time
        r.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val r = stages.computeIfAbsent(i.stageId, s => new StageRec(s, stageJob.getOrDefault(s, -1)))
      r.synchronized {
        r.name = i.name.takeWhile(_ != '\n').take(80)
        r.startMs = i.submissionTime.getOrElse(-1L)
        r.endMs = i.completionTime.getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val info = e.taskInfo
      val m = e.taskMetrics
      val failed = if (info.successful) 0L else 1L
      val s =
        if (m == null) TaskSums(tasks = 1, failed = failed)
        else {
          val dur = info.finishTime - info.launchTime
          val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          TaskSums(1, failed, m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
            m.executorDeserializeTime.toDouble, m.jvmGCTime.toDouble, delay.toDouble,
            m.shuffleReadMetrics.totalBytesRead.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      val r = stages.computeIfAbsent(e.stageId, st => new StageRec(st, stageJob.getOrDefault(st, -1)))
      r.synchronized { r.sums = r.sums + s }
      tasks.add(Span(-1, e.stageId.toLong, "task", s"task ${info.taskId}",
        info.launchTime, info.finishTime,
        Map("run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs, "deser_ms" -> s.deserMs,
          "gc_ms" -> s.gcMs, "sched_delay_ms" -> s.schedDelayMs,
          "shuffle_read_b" -> s.shuffleReadB, "shuffle_write_b" -> s.shuffleWriteB,
          "spill_b" -> s.spillB, "failed" -> failed.toDouble)))
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as an op span named `name`. Nested ops are not used: each
    * workload call is one op, and everything Spark runs for it is a child. */
  def op[T](name: String, attrs: Map[String, Double] = Map.empty,
            tags: Map[String, String] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val b0 = System.nanoTime()
    val id = ids.incrementAndGet()
    sc.setLocalProperty(Property, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    selfNs.addAndGet(t0 - b0)
    try body
    finally {
      val b1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(Property, null)
      ops.add(Span(id, 0, "op", name, startMs, endMs, attrs + ("wall_ms" -> (b1 - t0) / 1e6), tags))
      selfNs.addAndGet(System.nanoTime() - b1)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) {
    // the bus is asynchronous; a no-op job's end event queues behind all
    // earlier events, so once it is seen everything before it was handled
    val marker = -2L - ids.incrementAndGet()
    sc.setLocalProperty(Property, marker.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Property, null)
    val deadline = System.currentTimeMillis() + 10000
    def markerDone = jobs.values.asScala.exists(j => j.parent == marker && j.endMs >= 0)
    while (!markerDone && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  def overheadNs: Long = selfNs.get()

  /** Per-op figures, in op order. Jobs without an op parent are excluded. */
  def opStats: Seq[OpStats] = {
    val byParent = jobs.values.asScala.toSeq.filter(_.endMs >= 0).groupBy(_.parent)
    val stagesByJob = stages.values.asScala.toSeq.groupBy(_.job)
    ops.asScala.toSeq.sortBy(_.id).map { op =>
      val js = byParent.getOrElse(op.id, Nil)
      val sums = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
        .foldLeft(TaskSums())((a, s) => a + s.sums)
      OpStats(op, op.attrs("wall_ms"), js.size,
        js.map(_.nStages).sum, unionMs(js.map(j => (j.startMs, j.endMs)), op.startMs, op.endMs), sums)
    }
  }

  /** Every task of every op-parented job, summed. */
  def totals: (Int, Int, TaskSums) = {
    val st = opStats
    (st.map(_.jobs).sum, st.map(_.stages).sum, st.foldLeft(TaskSums())(_ + _.sums))
  }

  /** Every span: ops, their jobs, stages and tasks, parent links intact. */
  def spans: Seq[Span] = {
    val opIds = ops.asScala.map(_.id).toSet
    val jobSpans = jobs.values.asScala.toSeq.filter(j => opIds(j.parent)).map { j =>
      Span(JobBase + j.id, j.parent, "job", s"job ${j.id}", j.startMs, j.endMs,
        Map("stages" -> j.nStages.toDouble, "ok" -> (if (j.ok) 1.0 else 0.0)))
    }
    val kept = jobSpans.map(_.id - JobBase).toSet
    val stageSpans = stages.values.asScala.toSeq.filter(s => kept(s.job.toLong)).map { s =>
      Span(StageBase + s.id, JobBase + s.job, "stage", s.name, s.startMs, s.endMs,
        Map("tasks" -> s.sums.tasks.toDouble, "run_ms" -> s.sums.runMs,
          "cpu_ms" -> s.sums.cpuMs))
    }
    val keptStages = stageSpans.map(_.id - StageBase).toSet
    val taskSpans = tasks.asScala.toSeq.filter(t => keptStages(t.parent))
      .map(t => t.copy(parent = StageBase + t.parent))
    ops.asScala.toSeq.sortBy(_.id) ++ jobSpans.sortBy(_.id) ++ stageSpans.sortBy(_.id) ++ taskSpans
  }
}

object Trace {
  val Property = "perfbench.op"
  private val JobBase = 1000000000L
  private val StageBase = 2000000000L

  /** Length of the union of [start, end] intervals, clipped to [lo, hi].
    * Jobs of one op can overlap (a broadcast or subquery runs beside the
    * main job), so summing their durations over-counts and can make the
    * op's driver gap negative. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def spanJson(s: Span): String = {
    val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    val tags = s.tags.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{${attrs.mkString(",")}},"tags":{${tags.mkString(",")}}}"""
  }
}
