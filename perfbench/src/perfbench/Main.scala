package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixed session settings: `local[cores]`, shuffle partitions = cores,
  * UI off, every file the engine writes kept under the run's work dir. */
object Session {
  def start(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.default.parallelism", ctx.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.Graft.install(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Spans of the traced run, kept in memory and written when it ends. */
final class Tracer {
  final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)
  val layers = new Layers
  /** Summed duration of the operation's prefix jobs, for the
    * differences taken after the full operation. */
  var prefixMs = 0.0
  var lastOpMs = 0.0
  private val spans = ArrayBuffer[Span]()

  def span(op: Int, name: String, parent: String = "op")(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    spans += Span(op, name, parent, t0, t1)
    (t1 - t0) / 1e6
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, spans.map(s =>
      s"""{"op":${s.op},"name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Plans {
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

  /** Rows produced by the nested-loop joins of an executed query: the
    * (query, document) pairs its cosine leg scored. */
  def nestedLoopRows(df: DataFrame): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j.metrics("numOutputRows").value
    }.sum
  }
}

/** Timings of the operations of one window. */
final class Window {
  val wallMs = ArrayBuffer[Double]()
  val opBytes = ArrayBuffer[Long]()
  val opQueries = ArrayBuffer[Int]()
  var cpuNanos = 0L
  var taskMs = 0L
  var jitMs = 0L
  def wallSec: Double = wallMs.sum / 1000.0
  def bytes: Long = opBytes.sum
  def queries: Long = opQueries.sum.toLong

  /** Median over the window's whole rounds of `units` per wall second. */
  def medianRoundRate(roundSize: Int, units: Int => Double): Double =
    Stats.median(wallMs.indices.grouped(roundSize).map(r => r.map(units).sum / (r.map(wallMs).sum / 1000.0)).toSeq)
}

/** Cold set-up in a fresh JVM: session start plus the workload's one-time
  * work, as a user starting the program pays it. */
object Setup {
  /** Set-ups in fresh JVMs per run, besides the run's own. */
  val Fresh = 2

  /** In the fresh JVM: prints `setup_s <seconds>`. */
  def run(workload: String, ctx: Ctx): Unit = {
    val wl = Workloads(workload, ctx)
    val t0 = System.nanoTime()
    val spark = Session.start(ctx)
    wl.oneTime(spark)
    val s = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"setup_s $s")
  }

  /** Starts `Main setup ...` in a JVM with this one's options and
    * classpath, waits for it and returns its set-up time. */
  def inFreshJvm(workload: String, ctx: Ctx): Double = {
    import scala.jdk.CollectionConverters._
    val cmd = Seq(ProcessHandle.current().info().command().get()) ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "perfbench.Main", "setup", workload,
        ctx.seed.toString, ctx.work.toString, ctx.cores.toString)
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    try {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      require(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0,
        "the fresh-JVM set-up failed")
      out.linesIterator.collectFirst { case l if l.startsWith("setup_s ") => l.drop(8).toDouble }
        .getOrElse(throw new IllegalStateException("the fresh-JVM set-up printed no time"))
    } finally {
      if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    }
  }
}

/** The benchmark process. Usage:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>`;
  * the last line of standard output is the result object.
  * `Main setup <workload> <seed> <work dir> <cores>` is [[Setup.run]]. */
object Main {
  def main(args: Array[String]): Unit = args match {
    case Array("setup", workload, seedS, workS, coresS) =>
      Setup.run(workload, Ctx(seedS.toLong, Paths.get(workS), coresS.toInt))
    case _ => bench(args)
  }

  def bench(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, coresS) = args
    val ctx = Ctx(seedS.toLong, Paths.get(workS), coresS.toInt)
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val wl = Workloads(workload, ctx)
    val errors = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = null
    val taskClock = new EngineCounts

    def runOp(wl: Workload, i: Int, w: Window): Double = {
      taskClock.reset()
      val from = System.currentTimeMillis()
      val cpu0 = Jvm.cpuNanos
      val t0 = System.nanoTime()
      val r = wl.op(i)
      val ms = (System.nanoTime() - t0) / 1e6
      w.cpuNanos += Jvm.cpuNanos - cpu0
      val to = System.currentTimeMillis()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      w.taskMs += taskClock.taskMs(from, to)
      w.wallMs += ms; w.opBytes += r.inputBytes; w.opQueries += r.queries
      ms
    }
    def afterOp(wl: Workload, i: Int, timed: Boolean): Unit = {
      val errs = wl.check(i)
      wl.release()
      if (timed) { attempted += 1; if (errs.nonEmpty) failed += 1 }
      errors ++= errs
    }
    /** Whole rounds until at least `sec` seconds of operation time. */
    def window(wl: Workload, first: Int, sec: Double)(each: (Int, Window) => Unit): (Window, Int) = {
      val w = new Window
      val jit0 = Jvm.jitMs
      var i = first
      while ({ each(i, w); i += 1; w.wallSec < sec || (i - first) % wl.roundSize != 0 }) ()
      w.jitMs = Jvm.jitMs - jit0
      (w, i)
    }
    def untimed(wl: Workload)(i: Int, w: Window): Unit = { runOp(wl, i, w); afterOp(wl, i, timed = false) }

    try {
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      def elapsed = (System.currentTimeMillis() - jvmStart) / 1000.0
      wl.generate()
      println(f"inputs generated at $elapsed%.1f s")
      // set-up time is that of a fresh JVM, as a user pays it: the median of
      // `Setup.Fresh` fresh JVMs, started before this one's session so
      // that its JIT does not compete with them, and this run's own
      val fresh = (1 to Setup.Fresh).map(_ => Setup.inFreshJvm(workload, ctx))
      val t0 = System.nanoTime()
      spark = Session.start(ctx)
      val t1 = System.nanoTime()
      wl.bind(spark)
      val t2 = System.nanoTime()
      wl.oneTime(spark)
      val setups = fresh :+ ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
      spark.sparkContext.addSparkListener(taskClock)
      println(f"set-ups ${setups.map(x => f"$x%.3f").mkString(" ")} s (fresh JVMs, then this run's)")

      // warm-up: whole rounds for at least two thirds of the workload's
      // cap, then until two successive rounds agree on the median
      // operation time within 10 % and JIT time per operation has stopped
      // falling, or the cap is reached. Spark's JIT tail
      // (thousands of Catalyst methods) never reaches zero in an
      // affordable warm-up, hence "stopped falling".
      val warmStart = System.nanoTime()
      def warmSec = (System.nanoTime() - warmStart) / 1e9
      var i = 0
      var prev = (Double.NaN, Double.NaN)
      var settled = false
      while (!(settled && warmSec >= wl.maxWarmSec * 2 / 3) && warmSec < wl.maxWarmSec) {
        val (w, next) = window(wl, i, 0.0)(untimed(wl))
        i = next
        val (med, jitPerOp) = (Stats.median(w.wallMs), w.jitMs.toDouble / w.wallMs.length)
        settled = math.abs(med - prev._1) <= 0.1 * prev._1 &&
          (jitPerOp >= 0.8 * prev._2 || jitPerOp <= 0.05 * med)
        prev = (med, jitPerOp)
        println(f"  warm-up round: ops $i%d median $med%.1f ms, JIT $jitPerOp%.0f ms/op")
      }
      println(f"warm-up: $i%d operations in $warmSec%.1f s" +
        (if (settled) "" else " (capped before two rounds agreed)"))

      val (w, afterWindow) = window(wl, i, seconds) { (j, w) => runOp(wl, j, w); afterOp(wl, j, timed = true) }
      i = afterWindow
      val retainedMb = Jvm.retainedMb
      val mb = w.bytes / 1e6
      val e2e = Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("op_p50_ms", Stats.median(w.wallMs), "ms"),
        ("input_mb_per_s", w.medianRoundRate(wl.roundSize, w.opBytes(_) / 1e6), "MB/s"),
        ("queries_per_s", w.medianRoundRate(wl.roundSize, w.opQueries(_).toDouble), "1/s"),
        ("cpu_s_per_mb", w.cpuNanos / 1e9 / mb, "s/MB"),
        ("cpu_ms_per_query", w.cpuNanos / 1e6 / w.queries, "ms"),
        ("mem_retained_mb", retainedMb, "MB"))
      println(f"timed: ${w.wallMs.length}%d operations, ${w.wallSec}%.2f s, JIT ${w.jitMs}%d ms in window; ms: " +
        w.wallMs.map(x => f"$x%.0f").mkString(" "))
      e2e.foreach { case (n, v, u) => println(f"  $n%-18s $v%12.4f $u") }
      val tasksRunning = w.taskMs / w.wallMs.sum
      println(f"  tasks running on average during an operation: $tasksRunning%.4f")
      if (w.wallMs.length >= 100)
        println(f"  op_p90_ms          ${Stats.quantile(w.wallMs, 0.9)}%12.4f ms")

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Catalog.listed("end_to_end").map { case (n, _) => e2e.find(_._1 == n).get }
        else {
          val tr = new Tracer
          tr.layers.add("jvm.jit_ms_in_window", w.jitMs.toDouble)
          tr.layers.add("spark.tasks_running_mean", tasksRunning)
          val counts = new EngineCounts
          spark.sparkContext.addSparkListener(counts)
          val sc = spark.sparkContext
          Jvm.resetHeapPeak()
          val (tw, _) = window(wl, i, seconds) { (j, tw) =>
            wl.traceOp(j, tr)
            val baseline = cachedBlocks(spark)
            counts.reset()
            val gc0 = Jvm.gcMs
            val compiles0 = Jvm.codegenCompiles
            val from = System.currentTimeMillis()
            tr.lastOpMs = tr.span(j, "op", parent = "")(runOp(wl, j, tw))
            val to = System.currentTimeMillis()
            org.apache.spark.perfbench.Bus.drain(sc)
            tr.layers.add("jvm.gc_ms_per_op", (Jvm.gcMs - gc0).toDouble)
            tr.layers.add("spark.codegen_compiles_per_op", (Jvm.codegenCompiles - compiles0).toDouble)
            tr.layers.add("spark.jobs_per_op", counts.jobs.toDouble)
            tr.layers.add("spark.stages_per_op", counts.stages.toDouble)
            tr.layers.add("spark.tasks_per_op", counts.tasks.toDouble)
            tr.layers.add("spark.task_cpu_s_per_op", counts.taskCpuNanos / 1e9)
            tr.layers.add("spark.shuffle_mb_per_op", counts.shuffleBytes / 1e6)
            tr.layers.add("spark.spill_mb_per_op", counts.spillBytes / 1e6)
            tr.layers.add("spark.idle_ms_per_op", counts.idleMs(from, to).toDouble)
            wl.traceAfterOp(j, tr)
            val held = cachedBlocks(spark)
            afterOp(wl, j, timed = false)
            val retained = cachedBlocks(spark)
            tr.layers.add("spark.cached_blocks_held", (held - baseline).toDouble)
            tr.layers.add("spark.cached_blocks_retained", (retained - baseline).toDouble)
          }
          tr.layers.add("jvm.heap_after_gc_peak_mb", Jvm.heapPeakMb)
          spark.sparkContext.removeSparkListener(counts)
          wl.traceOnce(tr)
          Kernels.run(ctx.seed, tr.layers)
          tr.write(ctx.work.getParent.resolve("traces").resolve(s"$workload-seed${ctx.seed}.jsonl"))
          val overhead = Stats.median(tw.wallMs) / Stats.median(w.wallMs) - 1
          println(f"traced: ${tw.wallMs.length}%d operations, op_p50_ms ${Stats.median(tw.wallMs)}%.4f " +
            f"untraced ${Stats.median(w.wallMs)}%.4f, tracing overhead ${100 * overhead}%.1f %%")
          val listed = Catalog.listed("per_layer")
          tr.layers.names.filterNot(n => listed.exists(_._1 == n)).foreach(n =>
            println(f"  $n%-40s ${tr.layers.median(n).get}%14.4f (not in BENCHMARK.json)"))
          listed.map { case (n, u) =>
            val v = tr.layers.median(n).getOrElse(0.0)
            println(f"  $n%-40s $v%14.4f $u")
            (n, v, u)
          }
        }

      errors ++= wl.finish()
      errors.distinct.take(20).foreach(e => System.err.println(s"CHECK FAILED: $e"))
      println(f"finished at $elapsed%.1f s")
      println(Json.result(errors.isEmpty, attempted, failed, metrics))
    } finally {
      wl.close()
      if (spark != null) spark.stop()
    }
  }

  /** Cached RDD blocks the block manager still stores. */
  def cachedBlocks(spark: SparkSession): Long = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
  }
}

/** The metrics `BENCHMARK.json` lists under `section`, in its order. The
  * JSON result holds exactly these; a per-layer metric of a layer the
  * workload does not call reads 0. */
object Catalog {
  def listed(section: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))
    val it = root.get(section).elements()
    val out = Seq.newBuilder[(String, String)]
    while (it.hasNext) { val m = it.next(); out += m.get("name").asText() -> m.get("unit").asText() }
    out.result()
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
