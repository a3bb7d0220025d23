package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.model._

/** Run parameters, read from the JSON file the runner writes. */
final class Params(o: DObj) {
  private def field(obj: DObj, k: String): DVal =
    obj.get(k).getOrElse(throw new IllegalArgumentException(s"missing parameter $k"))
  def str(k: String): String = field(o, k) match {
    case DStr(s) => s
    case other   => other.render
  }
  def num(k: String): Long = field(o, k) match {
    case DInt(v) => v
    case DDbl(v) => v.toLong
    case other   => other.render.toLong
  }
  def dbl(k: String): Double = field(o, k) match {
    case DInt(v) => v.toDouble
    case DDbl(v) => v
    case other   => other.render.toDouble
  }
  def strs(k: String): Vector[String] = field(o, k) match {
    case DArr(items) => items.collect { case DStr(s) => s }
    case _           => Vector.empty
  }
  val workload: String = str("workload")
  val work: String = str("work")
  val seconds: Double = dbl("seconds")
  val seed: Long = num("seed")
  val traced: Boolean = num("trace") == 1
  val slots: Int = num("slots").toInt
}

object Params {
  def load(path: String): Params =
    new Params(Json.parseObj(new String(Files.readAllBytes(Paths.get(path)), UTF_8)))
}

/** Wall clock in fractional epoch milliseconds: anchored once to
  * `currentTimeMillis` (the clock Spark stamps progress with) and advanced
  * by `nanoTime`, so sub-millisecond differences survive. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Stats {
  /** Linear-interpolated quantile of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Full collections between phases, heap and GC readings. */
object Jvm {
  def fullGc(): Unit = { System.gc(); System.gc() }
  private def usedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  /** Used heap after full GCs, repeated until a GC frees no more than 1%:
    * objects behind weak references (Spark's cleaner releases broadcast and
    * shuffle state that way) need a GC, a cleanup pass, then another GC. */
  def retainedHeapMb(): Double = {
    fullGc()
    var last = usedMb()
    var i = 0
    var more = true
    while (more && i < 8) {
      Thread.sleep(250)
      fullGc()
      val now = usedMb()
      more = now < last * 0.99
      last = math.min(last, now)
      i += 1
    }
    last
  }
  def gcCountAndMs(): (Long, Long) =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foldLeft((0L, 0L)) { case ((c, t), b) =>
        (c + math.max(0L, b.getCollectionCount), t + math.max(0L, b.getCollectionTime))
      }
}

/** Diagnostic host record: load, CPU steal, a CPU speed probe at both ends
  * of the timed window, GC inside the window and free space where the run
  * writes. Not a gate; it explains noisy runs. */
final class HostRecord(work: String) {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), UTF_8).trim catch { case _: Exception => "" }
  private def steal(): (Long, Long) = {
    // first line of /proc/stat: cpu user nice system idle iowait irq softirq steal ...
    val f = read("/proc/stat").linesIterator.toSeq.headOption.getOrElse("")
      .split("\\s+").drop(1).flatMap(_.toLongOption)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }
  private def snap(): DObj = {
    val (st, total) = steal()
    DObj("loadavg" -> DStr(read("/proc/loadavg")), "steal_jiffies" -> DInt(st),
      "total_jiffies" -> DInt(total),
      "free_mb" -> DInt(new java.io.File(work).getUsableSpace / (1024 * 1024)))
  }
  /** Wall time of a fixed single-threaded integer loop (~0.1 s). The host
    * can slow this VM by a quarter for minutes while steal stays under 1%;
    * the probe shows such a window. */
  private def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    probeSink = x
    (System.nanoTime() - t0) / 1e6
  }
  @volatile private var probeSink = 0L
  private val start = snap()
  cpuProbeMs() // compiles the loop, so both readings time the same code
  private var gcStart, gcEnd = (0L, 0L)
  private var probeStart, probeEnd = 0.0
  def windowStart(): Unit = { probeStart = cpuProbeMs(); gcStart = Jvm.gcCountAndMs() }
  def windowEnd(): Unit = { gcEnd = Jvm.gcCountAndMs(); probeEnd = cpuProbeMs() }
  def render(): DObj = DObj("start" -> start, "end" -> snap(),
    "cpu_probe_ms_window_start" -> DDbl(probeStart),
    "cpu_probe_ms_window_end" -> DDbl(probeEnd),
    "gc_count_in_window" -> DInt(gcEnd._1 - gcStart._1),
    "gc_ms_in_window" -> DInt(gcEnd._2 - gcStart._2))
}

/** Spans written by traced runs: one JSON line each. */
final class Spans(run: String) {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def add(name: String, startMs: Double, endMs: Double, parent: String): Unit =
    buf.add(DObj("name" -> DStr(name), "start_ms" -> DDbl(startMs), "end_ms" -> DDbl(endMs),
      "parent" -> DStr(parent), "run" -> DStr(run)).render)
  def time[T](name: String, parent: String)(body: => T): T = {
    val t0 = Clock.ms()
    try body finally add(name, t0, Clock.ms(), parent)
  }
  def write(path: Path): Unit =
    Files.write(path, buf.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
}

object DiskUsage {
  /** Total bytes of the regular files under `dir` whose name ends with `suffix`. */
  def bytes(dir: String, suffix: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
        .map(Files.size).sum
      finally s.close()
    }
  }
}
