package graft.sketchbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sketchbench.BusDrain

/** Layered sketch benchmark: one closed-loop client thread on a local
  * session runs one workload (`build`, `query` or `curate`) for a fixed
  * number of ops, set by `--seconds`, and checks every op against exact
  * answers.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work-dir <dir> [--commit <sha>] [--sources <digest>]
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics.
  * With `--trace 1` the run alternates untraced ops and ops with spans
  * and the task listener on, then replays the workload's inputs
  * through the `core` kernels, and the last line carries the per-layer
  * metrics. The line before it is a report with the run environment,
  * the quality metrics and, when traced, the span self times.
  */
object Main {
  /** Set-ups per run. The first runs on a cold JVM (class loading, JIT,
    * codegen) and only warms it; setup_s is the median of the others.
    */
  val SetupReps = 3
  /** Ops per set-up before the timed phase (JIT and codegen warm-up). */
  val WarmOps = 1
  /** The tail percentile needs at least 11 ops. */
  val MinOps = 12
  /** Ops per second of `--seconds`, per workload: about the op rate the
    * library had when the benchmark was written, on a 4-vCPU Xeon VM. The timed op count depends
    * only on the workload and `--seconds`, never on how fast the code
    * under test runs, so `op_p50_ms` and `op_tail_ms` are read at the
    * same ranks on every commit.
    */
  val OpsPerSecond = Map("build" -> 3.0, "query" -> 1.6, "curate" -> 0.5)

  def timedOps(workload: String, seconds: Double): Int =
    math.max(MinOps, math.round(seconds * OpsPerSecond.getOrElse(workload, 1.0)).toInt)

  /** Heap in use, in MB, once garbage is collected: what the workload's
    * caches, pins and Spark's own state hold. The first GC lets Spark's
    * ContextCleaner see the RDDs, shuffles and broadcasts that dropped
    * op outputs no longer reference; it frees their blocks and map
    * statuses on its own thread, and the second GC collects those.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, workDir: String, commit: String,
                        sources: String)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Args(need("workload"), need("seed").toLong, seconds, trace,
      need("work-dir"), kv.getOrElse("commit", "unknown"),
      kv.getOrElse("sources", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    // the result line is parsed: a comma-decimal default locale would
    // change every formatted number
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"sketchbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.locality.wait", "0")
      // the UI is off, but Spark's status store still keeps up to 1000
      // jobs, stages and SQL executions; that history grew the heap by
      // about 1.4 MB per curate op, so heap_live_mb tracked the op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val code =
      try run(a, spark, cores, sessionSec)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(a: Args, spark: SparkSession, cores: Int,
                  sessionSec: Double): Int = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, cores, a.seed, a.workDir, tracer)
    val w = Workload(a.workload, ctx)
    tracer.enabled = a.trace

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    /** Time spent in gates, which the timed phase leaves out. */
    var gateNs = 0L
    /** Runs op i (timed) and then its gate (untimed); returns the latency
      * in ms and the output unless the op threw.
      */
    def attempt(i: Int): Option[(Double, w.Out)] = {
      attempted += 1
      try {
        val t = System.nanoTime()
        val out =
          if (tracer.enabled) { tracer.op = i; tracer.span("bench.op")(w.op(i)) }
          else w.op(i)
        val t1 = System.nanoTime()
        val bad = w.gate(out)
        gateNs += System.nanoTime() - t1
        if (bad.nonEmpty) { failed += 1; failures ++= bad.map(b => s"op $i: $b") }
        Some(((t1 - t) / 1e6, out))
      } catch {
        case e: Exception =>
          failed += 1
          failures += s"op $i threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }

    // ---- set-up, repeated; the median of the warm ones is setup_s ----
    val setupSec = mutable.ArrayBuffer[Double]()
    var exactSec = 0.0
    var opIndex = 0
    for (rep <- 1 to SetupReps) {
      if (rep > 1) w.teardown()
      tracer.op = -rep
      val s0 = System.nanoTime()
      w.setup(rep)
      val s1 = System.nanoTime()
      if (rep == 1) w.computeExact()
      val s2 = System.nanoTime()
      exactSec += (s2 - s1) / 1e9
      val wasTracing = tracer.enabled
      tracer.enabled = false
      for (_ <- 1 to WarmOps) { attempt(opIndex); opIndex += 1 }
      tracer.enabled = wasTracing
      setupSec += ((s1 - s0) + (System.nanoTime() - s2)) / 1e9
    }
    val cachedMb = ctx.storageMb

    // ---- timed phase: closed loop of a fixed number of ops ----
    /** Runs `n` untraced ops; returns their latencies, the items they
      * finished and the phase's wall seconds without the gates. Outputs
      * are dropped after their gate, so the heap does not grow with n.
      */
    def loop(n: Int): (Seq[Double], Long, Double) = {
      val lat = mutable.ArrayBuffer[Double]()
      var items = 0L
      val gate0 = gateNs
      val start = System.nanoTime()
      for (_ <- 1 to n) {
        attempt(opIndex).foreach { case (ms, out) =>
          lat += ms; items += w.items(out)
        }
        opIndex += 1
      }
      (lat.toSeq, items, (System.nanoTime() - start - (gateNs - gate0)) / 1e9)
    }

    val nOps = timedOps(a.workload, a.seconds)
    val env = Env.describe(spark, cores, a)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "env" -> env, "session_s" -> sessionSec,
      "setup_s_each" -> setupSec.toSeq, "exact_answers_s" -> exactSec)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()

    if (!a.trace) {
      val (lat, items, wallSec) = loop(nOps)
      val liveMb = liveHeapMb()
      if (lat.size >= 11) {
        val (tail, pct) = Stats.tail(lat)
        metrics += "items_per_s" -> (items / wallSec, "items/s")
        metrics += "op_p50_ms" -> (Stats.median(lat), "ms")
        metrics += "op_tail_ms" -> (tail, "ms")
        metrics += "setup_s" -> (Stats.median(setupSec.toSeq.drop(1)), "s")
        metrics += "heap_live_mb" -> (liveMb, "MB")
        report += "op_tail" -> Map("percentile" -> pct, "n" -> lat.size)
        report += "op_ms" -> lat.map(x => math.round(x * 10) / 10.0)
      }
    } else {
      // untraced and traced ops alternate, so that the JIT warming up
      // during the phase favours neither side of trace.overhead_frac; the
      // listener is attached only around traced ops
      val half = math.max(5, nOps / 2)
      val uLat = mutable.ArrayBuffer[Double]()
      var uItems = 0L
      val listener = new TaskListener
      tracer.enabled = false
      val traces = mutable.ArrayBuffer[OpTrace]()
      val traced = mutable.ArrayBuffer[(Double, Long, w.Out)]()
      for (k <- 0 until 2 * half) {
        val i = opIndex
        opIndex += 1
        if (k % 2 == 0)
          attempt(i).foreach { case (ms, out) => uLat += ms; uItems += w.items(out) }
        else {
          BusDrain.drain(sc)
          sc.addSparkListener(listener)
          tracer.enabled = true
          val r = attempt(i)
          tracer.enabled = false
          BusDrain.drain(sc)
          sc.removeSparkListener(listener)
          r.foreach { case (ms, out) =>
            traces += OpTrace.of(tracer, listener, i)
            traced += ((ms, w.items(out), out))
          }
        }
      }
      if (traces.nonEmpty && uLat.nonEmpty) {
        val (tokens, absent, values) = w.replayInputs()
        val core = CoreReplay.run(tokens, absent, values)
        val layer = Layers.metrics(w, tracer, listener, traces.toSeq,
          traced.map(_._3).toSeq, core, cachedMb, cores)
        val tracedIps = traced.map(_._2).sum / (traced.map(_._1).sum / 1e3)
        // both sides per second of op latency: draining the listener bus
        // around traced ops is not tracing overhead
        val untracedIps = uItems / (uLat.sum / 1e3)
        for ((k, v) <- layer) metrics += k -> v
        metrics += "trace.items_per_s" -> (tracedIps, "items/s")
        metrics += "trace.untraced_items_per_s" -> (untracedIps, "items/s")
        metrics += "trace.overhead_frac" -> (1 - tracedIps / untracedIps, "fraction")
        metrics += "trace.ops" -> (traces.size.toDouble, "count")
        report += "span_self_ms_per_op" -> Layers.spanSelf(traces.toSeq)
      }
    }

    report += "failed_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted)
    report ++= w.quality
    w.storedMb.foreach(mb => report += "stored_mb" -> mb)
    if (failures.nonEmpty) report += "failures" -> failures.take(20).toSeq
    w.teardown()

    val correct = failed == 0 && metrics.nonEmpty
    println("sketchbench report " + Json(report))
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }
}

/** The pinned run environment, printed beside the metrics. */
object Env {
  def describe(spark: SparkSession, cores: Int, a: Main.Args): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "cores" -> cores,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark_driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
    "locale" -> (if (java.util.Locale.getDefault == java.util.Locale.ROOT) "ROOT"
                 else java.util.Locale.getDefault.toString),
    "ui_enabled" -> spark.conf.get("spark.ui.enabled"),
    "coursier_mode" -> sys.env.getOrElse("COURSIER_MODE", ""),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "java_vm" -> System.getProperty("java.vm.name"),
    "commit" -> a.commit,
    "sources_sha256" -> a.sources)
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
