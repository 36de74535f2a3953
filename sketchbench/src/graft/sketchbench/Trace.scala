package graft.sketchbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One interval of the benchmark's own call into a module. `name` is
  * `<layer>.<call>`; the layer is the module the call enters (`bench` for
  * the op itself, whose self time is the benchmark's glue between calls).
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** Records spans around the benchmark's calls. Spans nest through a stack
  * on the single client thread. Each span tags the Spark jobs issued under
  * it with job group `sb-<id>`, which lets [[TaskListener]] attribute every
  * stage and task to its enclosing span. When disabled, `span` only runs
  * its body, so untraced runs pay nothing.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  /** Index of the op being traced; set-up repetition r records as -r. */
  var op: Int = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** nanoTime - offset is the epoch clock in ns; Spark events use epoch ms. */
  val offsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, op, t0, t1)
      }
    }

  /** Epoch milliseconds (Spark's event clock) to this tracer's ns clock. */
  def msToNs(ms: Long): Long = ms * 1000000L + offsetNs
}

object Tracer {
  def group(id: Int): String = s"sb-$id"
}

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         shWriteBytes: Long, shWriteRecords: Long,
                         shReadBytes: Long, spillBytes: Long,
                         failed: Boolean)

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long)

/** Collects job, stage and task events. Events arrive on Spark's listener
  * thread; readers call `BusDrain.drain` first and then read under the
  * lock.
  */
final class TaskListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stageGroup = mutable.HashMap[Int, String]()
  val tasks = mutable.ArrayBuffer[TaskRec]()

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, groupOf(e.properties), e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != Success
    if (m == null)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0,
        0, 0, failed)
    else
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, failed)
  }
}

/** Task totals of one set of tasks. */
final case class TaskTotals(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                            shWriteBytes: Long, shWriteRecords: Long,
                            shReadBytes: Long, spillBytes: Long,
                            failed: Int)

object TaskTotals {
  def of(ts: Iterable[TaskRec]): TaskTotals = TaskTotals(ts.size,
    ts.iterator.map(_.runMs).sum, ts.iterator.map(_.cpuNs).sum,
    ts.iterator.map(_.gcMs).sum, ts.iterator.map(_.shWriteBytes).sum,
    ts.iterator.map(_.shWriteRecords).sum,
    ts.iterator.map(_.shReadBytes).sum, ts.iterator.map(_.spillBytes).sum,
    ts.count(_.failed))
}

/** What one traced op did, per span and per layer. */
final case class OpTrace(
    wallMs: Double,
    /** Self time per span name, ms; `spark[<span>]` is the job time under a span. */
    spanSelfMs: Map[String, Double],
    /** Self time per layer, ms, with `spark` for job time. */
    layerSelfMs: Map[String, Double],
    /** Duration of each named call span, ms. */
    spanMs: Map[String, Double],
    /** Tasks under each named call span. */
    spanTasks: Map[String, TaskTotals],
    /** Task time of stages that write shuffle (partial aggregates), per span. */
    partialTaskMs: Map[String, Double],
    /** Task time of stages that only read shuffle (final aggregates), per span. */
    finalTaskMs: Map[String, Double],
    all: TaskTotals, jobs: Int, stages: Int, unattributedJobs: Int,
    driverMs: Double, taskSkew: Double)

object OpTrace {
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Analyse op `op`: its spans from `tracer`, its jobs and tasks from
    * `l` (already drained). Self times add up to the op's wall time: each
    * span's self is its duration minus its child spans minus the part of
    * it covered by its own Spark jobs, which count as `spark` self time.
    */
  def of(tracer: Tracer, l: TaskListener, op: Int): OpTrace =
    l.synchronized {
      val spans = tracer.spans.filter(_.op == op).toSeq
      val root = spans.find(_.parent == -1).get
      val byGroup = spans.map(s => Tracer.group(s.id) -> s).toMap
      val jobsOf = l.jobs.filter(j => j.group != null && byGroup.contains(j.group))
        .groupBy(j => byGroup(j.group).id)
      val opJobs = jobsOf.values.flatten.toSeq
      val stagesOf: Map[Int, Seq[Int]] = l.stageGroup.toSeq
        .collect { case (st, g) if g != null && byGroup.contains(g) => byGroup(g).id -> st }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val stageToSpan = stagesOf.toSeq.flatMap { case (s, sts) => sts.map(_ -> s) }.toMap
      val opTasks = l.tasks.filter(t => stageToSpan.contains(t.stage)).toSeq
      // a span and all its descendants
      def under(s: Span): Seq[Span] =
        s +: spans.filter(_.parent == s.id).flatMap(under)
      val spanSelf = mutable.LinkedHashMap[String, Double]()
      val layerSelf = mutable.LinkedHashMap[String, Double]()
      def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
        m(k) = m.getOrElse(k, 0.0) + v
      for (s <- spans) {
        val children = spans.filter(_.parent == s.id).map(_.durNs).sum
        val jobIv = jobsOf.getOrElse(s.id, Nil).toSeq.filter(_.endMs >= 0).map { j =>
          (math.max(s.startNs, tracer.msToNs(j.startMs)),
           math.min(s.endNs, tracer.msToNs(j.endMs)))
        }.filter { case (a, b) => b > a }
        val sparkNs = unionMs(jobIv)
        val self = (s.durNs - children - sparkNs) / 1e6
        add(spanSelf, s.name, self)
        add(layerSelf, s.layer, self)
        if (sparkNs > 0) {
          add(spanSelf, s"spark[${s.name}]", sparkNs / 1e6)
          add(layerSelf, "spark", sparkNs / 1e6)
        }
      }
      val calls = spans.filter(_.parent == root.id)
      val shuffleWriters = opTasks.groupBy(_.stage)
        .collect { case (st, ts) if ts.exists(_.shWriteBytes > 0) => st }.toSet
      val shuffleReaders = opTasks.groupBy(_.stage)
        .collect { case (st, ts) if ts.exists(_.shReadBytes > 0) => st }.toSet
      def tasksUnder(s: Span): Seq[TaskRec] = {
        val ids = under(s).map(_.id).toSet
        opTasks.filter(t => ids.contains(stageToSpan(t.stage)))
      }
      val spanMs = calls.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).sum / 1e6 }
      val spanTasks = calls.groupBy(_.name).map { case (n, ss) =>
        n -> TaskTotals.of(ss.flatMap(tasksUnder)) }
      val partial = calls.groupBy(_.name).map { case (n, ss) =>
        n -> ss.flatMap(tasksUnder).filter(t => shuffleWriters(t.stage))
          .map(_.runMs).sum.toDouble }
      val fin = calls.groupBy(_.name).map { case (n, ss) =>
        n -> ss.flatMap(tasksUnder)
          .filter(t => shuffleReaders(t.stage) && !shuffleWriters(t.stage))
          .map(_.runMs).sum.toDouble }
      val taskIv = opTasks.map(t => (tracer.msToNs(t.launchMs), tracer.msToNs(t.finishMs)))
        .map { case (a, b) => (math.max(a, root.startNs), math.min(b, root.endNs)) }
        .filter { case (a, b) => b > a }
      val driverMs = (root.durNs - unionMs(taskIv)) / 1e6
      // skew in the stage that ran longest (first launch to last finish)
      val skew = opTasks.filterNot(_.failed).groupBy(_.stage).values
        .maxByOption(ts => ts.map(_.finishMs).max - ts.map(_.launchMs).min)
        .map { ts =>
          val d = ts.map(t => (t.finishMs - t.launchMs).toDouble).sorted
          d.last / math.max(1.0, Stats.median(d))
        }.getOrElse(1.0)
      val unattributed = l.jobs.count { j =>
        val startNs = tracer.msToNs(j.startMs)
        startNs >= root.startNs && startNs <= root.endNs &&
          (j.group == null || !byGroup.contains(j.group))
      }
      OpTrace(root.durNs / 1e6, spanSelf.toMap, layerSelf.toMap, spanMs,
        spanTasks, partial, fin, TaskTotals.of(opTasks), opJobs.size,
        opTasks.map(_.stage).distinct.size, unattributed, driverMs, skew)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Latency at the highest percentile that has at least ten samples
    * beyond it: the (n-10)-th smallest of n. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.size >= 11, s"tail needs at least 11 samples, got ${xs.size}")
    val s = xs.sorted
    val k = s.size - 10
    (s(k - 1), 100.0 * k / s.size)
  }
}
