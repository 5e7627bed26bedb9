package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Engine counts for one operation, taken from a public `SparkListener`.
  * Reset before an operation, read after the listener bus has drained. */
final class EngineCounts extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskCpuNanos = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  private val intervals = ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskCpuNanos = 0; shuffleBytes = 0; spillBytes = 0
    intervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNanos += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  /** Task milliseconds inside [from, to] (epoch ms), summed over tasks. */
  def taskMs(from: Long, to: Long): Long = synchronized {
    intervals.iterator.map { case (a, b) => math.max(0L, math.min(b, to) - math.max(a, from)) }.sum
  }

  /** Milliseconds of [from, to] (epoch ms) during which no task ran. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (to - from) - covered)
  }
}

/** Per-run accumulator of per-layer values: each name gets one sample
  * per traced operation; the report is the median. */
final class Layers {
  private val samples = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer()) += v
  def median(name: String): Option[Double] = samples.get(name).map(Stats.median)
  def names: Iterable[String] = samples.keys
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Process-level probes: CPU, GC, JIT, memory. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** `/proc/self/task/<tid>` of the JIT compiler threads. The JVM runs
    * with a fixed number of them (`-XX:-UseDynamicNumberOfCompilerThreads`),
    * so the set is read once. */
  private lazy val jitTasks: Seq[java.nio.file.Path] = {
    val tasks = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.filter { t =>
      val comm = new String(java.nio.file.Files.readAllBytes(t.resolve("comm")), "UTF-8")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }.toIndexedSeq
    finally tasks.close()
  }

  /** On-CPU nanoseconds of the JIT compiler threads (first schedstat field). */
  def jitCpuNanos: Long = jitTasks.map { t =>
    new String(java.nio.file.Files.readAllBytes(t.resolve("schedstat")), "UTF-8").trim.split(" ")(0).toLong
  }.sum

  /** Process CPU time (user + sys of every thread, GC threads and threads
    * that have ended included) less the JIT compiler threads': the JIT's
    * tail made whole-process CPU read 20-30 % apart between runs. */
  def cpuNanos: Long = {
    require(jitTasks.nonEmpty, "no JIT compiler thread found under /proc/self/task")
    os.getProcessCpuTime - jitCpuNanos
  }
  def jitMs: Long = jit.getTotalCompilationTime
  /** Generated classes Spark has compiled (its codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def gcMs: Long = { var t = 0L; gcs.forEach(g => t += math.max(0L, g.getCollectionTime)); t }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapPeak = 0L

  // every collection reports the heap in use after it; the peak of those
  // is the most the program held (live, or promoted since the last full
  // collection) at a collection
  gcs.forEach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        import com.sun.management.GarbageCollectionNotificationInfo
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo.getMemoryUsageAfterGc
          val used = after.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapPeak = math.max(heapPeak, used) }
        }
      }, null, null)
    case _ =>
  }

  /** Collects the whole heap; returns what is still in use, in bytes. */
  private def collect(): Long = {
    System.gc()
    Thread.sleep(100) // lets notifications of earlier collections land first
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Starts a new peak from what is live after a full collection. */
  def resetHeapPeak(): Unit = { val live = collect(); synchronized { heapPeak = live } }

  /** Peak heap in use after a collection since [[resetHeapPeak]], in MB. */
  def heapPeakMb: Double = heapPeak / 1e6

  /** Memory the program still holds: live heap after a full collection
    * plus the non-heap memory in use (metaspace, code cache), in MB. */
  def retainedMb: Double =
    (collect() + ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed) / 1e6
}

/** One-thread kernel table: each public kernel runs on the run's
  * generated inputs for a fixed time after a short warm-up. */
object Kernels {
  import graft.core.{ChunkStrategy, Chunkers, Tokenizers, Uuid5}
  import graft.pipeline.HashEmbedder
  import graft.sources.DocumentReader

  /** Units per second of `body` (which returns the units it did) over
    * about `ms` milliseconds, after half that long of warm-up. */
  private def rate(ms: Long)(body: => Long): Double = {
    val warmEnd = System.nanoTime() + ms * 1000000L / 2
    while (System.nanoTime() < warmEnd) body
    var units = 0L
    val t0 = System.nanoTime()
    val end = t0 + ms * 1000000L
    while (System.nanoTime() < end) units += body
    units / ((System.nanoTime() - t0) / 1e9)
  }

  /** The table on 8 files of each format, 2-64 KB, made from `seed`. */
  def run(seed: Long, layers: Layers, ms: Long = 300): Unit = {
    val rng = new Rng(seed)
    val vocab = new Vocab(rng)
    val files = for (ext <- Gen.Formats; k <- 0 until 8)
      yield Gen.file(s"kernel$k", ext, vocab, rng, 2048 << (k % 6))
    val texts = files.map(_.expectedText)
    val width = Workloads.Width
    val extract = DocumentReader.extractText()
    var totalBytes = 0.0; var totalSec = 0.0
    Gen.Formats.foreach { ext =>
      val fs = files.filter(_.name.endsWith(ext)).toIndexedSeq
      if (fs.nonEmpty) {
        var i = 0
        val bps = rate(ms) { val f = fs(i % fs.length); i += 1; extract(f.bytes, ext); f.bytes.length.toLong }
        layers.add(s"sources.extract_mb_per_s.${ext.drop(1)}", bps / 1e6)
        val bytes = fs.map(_.bytes.length.toLong).sum
        totalBytes += bytes; totalSec += bytes / bps
      }
    }
    layers.add("sources.extract_mb_per_s", totalBytes / totalSec / 1e6)
    val ts = texts.toIndexedSeq
    var j = 0
    def next(): String = { val t = ts(j % ts.length); j += 1; t }
    layers.add("core.tokenize_mb_per_s",
      rate(ms) { val t = next(); Tokenizers.default.encode(t); t.length.toLong } / 1e6)
    layers.add("core.chunk_mb_per_s",
      rate(ms) { val t = next(); Chunkers.chunk(ChunkStrategy.Exact, Seq(t), 256, 128); t.length.toLong } / 1e6)
    // chunk-sized pieces, as the embed stage sees them
    val pieces = ts.iterator.flatMap(_.grouped(1024)).take(256).toIndexedSeq
    layers.add("core.uuid5_per_s",
      rate(ms) { j += 1; Uuid5.ofParts(j.toLong, j, pieces(j % pieces.length)); 1L })
    val emb = new HashEmbedder(width)
    val batch = pieces.take(64)
    layers.add("pipeline.embed_per_s",
      rate(ms) { emb.embedBatch(batch); batch.length.toLong })
  }
}
