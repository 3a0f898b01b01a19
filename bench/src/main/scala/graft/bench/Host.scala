package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Host evidence read from /proc, so a run on a contended host
  * identifies itself: load average, hypervisor steal over an interval,
  * and the number of live processes. Each reading is -1 where /proc
  * cannot be read. */
object Host {
  final case class Sample(load1: Double, stealJiffies: Long,
                          totalJiffies: Long, procs: Int)

  def sample(): Sample = {
    val load1 =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8).trim.split("\\s+")(0).toDouble
      catch { case _: Exception => -1.0 }
    val (steal, total) =
      try {
        val cols = new String(Files.readAllBytes(Paths.get("/proc/stat")),
          StandardCharsets.UTF_8).linesIterator.next().trim
          .split("\\s+").drop(1).map(_.toLong)
        (cols(7), cols.take(8).sum)
      } catch { case _: Exception => (-1L, -1L) }
    val procs =
      try {
        val fs = new java.io.File("/proc").listFiles()
        if (fs == null) -1
        else fs.count(f => f.isDirectory && f.getName.forall(_.isDigit))
      } catch { case _: Exception => -1 }
    Sample(load1, steal, total, procs)
  }

  /** Share of host CPU time stolen by the hypervisor between two samples. */
  def stealFrac(a: Sample, b: Sample): Double =
    if (a.stealJiffies < 0 || b.stealJiffies < 0 || b.totalJiffies <= a.totalJiffies) -1.0
    else (b.stealJiffies - a.stealJiffies).toDouble / (b.totalJiffies - a.totalJiffies)
}

/** A fixed single-threaded task that runs no engine code and allocates
  * nothing: integer mixing and sorts within the core's own caches,
  * streaming copies of 8 MB arrays, and a walk of a random cycle
  * through a 4 MB table. How long it takes tracks the speed the host
  * gives the JVM at the moment it runs (clock rate, share of the shared
  * cache and of memory bandwidth), whatever the engine does. */
object Probe {
  private val table = new Array[Long](1 << 13)
  private val work = new Array[Long](1 << 12)
  private val src = Array.tabulate(1 << 20)(_.toLong)
  private val dst = new Array[Long](1 << 20)
  /** A single random cycle through all its slots (Sattolo's shuffle). */
  private val ring = {
    val r = Array.tabulate(1 << 20)(identity)
    val rng = new scala.util.Random(1)
    var i = r.length - 1
    while (i > 0) {
      val j = rng.nextInt(i)
      val t = r(i); r(i) = r(j); r(j) = t
      i -= 1
    }
    r
  }
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  @volatile private var sink = 0L

  private def mix(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  /** The probe's CPU time at reference speed, about what it takes on
    * the 4-vCPU virtual machine the benchmark was built on. A time at
    * reference speed is a measured time scaled by this over the probe's
    * time measured beside it. */
  val ReferenceS = 0.020

  /** Runs the task once; returns the CPU seconds this thread spent. */
  def cpuSeconds(): Double = {
    val c0 = threads.getCurrentThreadCpuTime
    val mask = table.length - 1
    var x = sink
    var r = 0
    while (r < 8) {
      var i = 0
      while (i < (1 << 16)) {
        x = mix(x + i)
        table((x & mask).toInt) += x
        i += 1
      }
      i = 0
      while (i < work.length) { work(i) = table(i) ^ x; i += 1 }
      java.util.Arrays.sort(work)
      x ^= work(work.length / 2)
      r += 1
    }
    System.arraycopy(src, 0, dst, 0, src.length)
    System.arraycopy(dst, 0, src, 0, src.length)
    var p = (x & (ring.length - 1)).toInt
    var k = 0
    while (k < (1 << 17)) { p = ring(p); k += 1 }
    sink = x + p
    (threads.getCurrentThreadCpuTime - c0) / 1e9
  }

  /** `seconds` scaled to reference speed by the median of `probes`. */
  def atReference(seconds: Double, probes: Seq[Double]): Double =
    seconds * ReferenceS / Stats.median(probes)
}
