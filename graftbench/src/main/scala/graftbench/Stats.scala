package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.SynchronousQueue

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator

object Stats {

  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that would have at least ten samples
    * above it among `n` samples (none below 50), with the value of `xs`
    * there: (percentile, value). */
  def tail(xs: Seq[Double], n: Int): (Int, Double) = {
    val p = (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10)
      .getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host and JVM readings for the run's diagnostics. */
object Host {

  /** Cumulative /proc/stat cpu jiffies (total, iowait, steal, busy), and
    * this process's own user + system jiffies and minor page faults. */
  final case class Cpu(total: Long, iowait: Long, steal: Long, busy: Long,
                       own: Long, minflt: Long) {
    /** Shares of all CPU time between two readings; `other_busy_frac` is
      * time other processes on this kernel ran. */
    def fractions(later: Cpu): Map[String, Double] = {
      val dt = math.max(1L, later.total - total).toDouble
      Map("iowait_frac" -> (later.iowait - iowait) / dt,
        "steal_frac" -> (later.steal - steal) / dt,
        "other_busy_frac" ->
          math.max(0L, (later.busy - busy) - (later.own - own)) / dt)
    }
  }

  def cpu(): Cpu = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1)
        .map(_.toLong)).getOrElse(Array.fill(8)(0L))
    val v = f.padTo(8, 0L)
    val total = v.take(8).sum
    // minflt, utime and stime are fields 10, 14 and 15; state is field 3
    val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val st = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Cpu(total, v(4), v(7), total - v(3) - v(4) - v(7),
      st(11).toLong + st(12).toLong, st(7).toLong)
  }

  /** Host-speed probes, each a fixed amount of work timed: `alu_ms`, a
    * 5M-step integer loop; `page_touch_ms`, filling 64 MB of freshly
    * allocated off-heap memory, so mostly page faults; `mem_chase_ns`, one
    * dependent load along a pseudo-random cycle through those 64 MB, so
    * mostly memory latency; `handoff_us`, one round trip between two
    * threads, so mostly wake-up latency. The work is the same on every run,
    * so a slow host shows, and which probe moves says what kind of
    * slowness it is. Medians of three. */
  def probes(): Map[String, Double] = {
    def ms(body: => Unit) = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    val alu = Stats.median((1 to 3).map(_ => ms {
      var x = 0L
      var i = 0
      while (i < 5000000) { x += Gen.splitmix64(x + i); i += 1 }
      if (x == 42L) println(x) // keeps the loop live
    }))

    // slot k holds the next slot of a full-period LCG cycle mod 2^24
    val slots = 1 << 24
    val steps = 200000
    val alloc = new RootAllocator()
    val (touch, chase) = try {
      val b = alloc.buffer(4L * slots)
      try {
        val touch = ms {
          var k = 0
          while (k < slots) {
            b.setInt(4L * k, (k * 1103515245 + 12345) & (slots - 1)); k += 1
          }
        }
        val chase = Stats.median((1 to 3).map(_ => ms {
          var k = 0
          var n = 0
          while (n < steps) { k = b.getInt(4L * k); n += 1 }
          if (k == -1) println(k)
        } * 1e6 / steps))
        (touch, chase)
      } finally b.close()
    } finally alloc.close()

    val ping = new SynchronousQueue[Integer]()
    val pong = new SynchronousQueue[Integer]()
    val echo = new Thread(() => (1 to 3 * 200).foreach(_ => pong.put(ping.take())))
    echo.start()
    val handoff = Stats.median((1 to 3).map(_ =>
      ms((1 to 200).foreach { k => ping.put(k); pong.take() }) * 1000 / 200))
    echo.join()
    Map("alu_ms" -> alu, "page_touch_ms" -> touch, "mem_chase_ns" -> chase,
      "handoff_us" -> handoff)
  }

  def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble

  /** Peak resident set of this JVM, MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}
