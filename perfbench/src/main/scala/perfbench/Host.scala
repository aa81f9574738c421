package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host-contention gauges for one measurement window, computed from
  * /proc: the share of host CPU busy with work that is not this JVM, the
  * steal share, the 1-minute load average and the cores this JVM used.
  * A fixed calibration kernel, timed before and after the window, shows
  * whether the host's speed moved. A window is "dirty" when another tenant
  * was busy, the hypervisor stole time or the calibration moved; dirty
  * windows are flagged and reported, never dropped. */
object Host {

  /** (busy, total, steal) jiffies of the whole host. */
  private def hostStat(): (Long, Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      (f.sum - idle, f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  } catch { case _: Exception => (0L, 1L, 0L) }

  /** utime + stime jiffies of this process. */
  private def ownJiffies(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    try {
      val s = src.mkString
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    } finally src.close()
  } catch { case _: Exception => 0L }

  def loadAvg(): Double = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  } catch { case _: Exception => -1.0 }

  /** Process CPU time (ns) across all threads. */
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Total JIT compile time of this JVM so far. */
  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Live heap after a full collection, in MB. Waits (up to 5 s) until
    * cached blocks of closed engines are released — their unpersist is
    * asynchronous — so the figure is the open engine's footprint at the
    * end of the run, not a peak. */
  def liveHeapMb(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    while (spark.sparkContext.getRDDStorageInfo.count(_.memSize > 0) > 1 &&
           System.nanoTime() - t0 < 5000000000L) Thread.sleep(50)
    // two collections apart: objects released asynchronously by the first
    // (finalizers, cleaners) go with the second; the lower figure is live
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val first = used()
    Thread.sleep(200)
    math.min(first, used())
  }

  /** Milliseconds one pass of a fixed kernel takes on one thread: 4M
    * dependent reads and writes at pseudo-random places in a 16 MB array,
    * so it feels both the core's speed and the memory system's. Median of
    * nine passes after three untimed ones. The kernel does the same work
    * on every run and shares no code with the engine: when it slows, the
    * host slowed. */
  def calibrationMs(): Double = {
    val buf = new Array[Int](1 << 22)
    val mask = buf.length - 1
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      var idx = 1
      var acc = 0
      while (i < (1 << 22)) {
        idx = (idx * 1103515245 + 12345) & mask
        acc += buf(idx) ^ i
        buf(idx) = acc
        i += 1
      }
      sink = acc
      (System.nanoTime() - t0) / 1e6
    }
    (0 until 3).foreach(_ => pass())
    val ms = (0 until 9).map(_ => pass()).sorted
    ms(4)
  }
  @volatile private var sink = 0

  /** A window is dirty when its calibration moved by more than this share
    * between start and end (the largest bound of a latency metric). */
  val CalibrationDrift = 0.25

  final case class Gauges(extBusyFrac: Double, stealFrac: Double,
                          loadAvg: Double, ownCores: Double, seconds: Double,
                          calibBeforeMs: Double, calibAfterMs: Double) {
    def calibDrift: Double = calibAfterMs / calibBeforeMs - 1
    def dirty: Boolean =
      extBusyFrac > 0.10 || stealFrac > 0.05 || math.abs(calibDrift) > CalibrationDrift
  }

  /** A started gauge window; [[stop]] returns the gauges since start. The
    * calibration kernel runs just before the start and just after the stop,
    * outside the window. */
  final class Window {
    private val calib0 = calibrationMs()
    private val (b0, t0, s0) = hostStat()
    private val own0 = ownJiffies()
    private val wall0 = System.nanoTime()
    def stop(): Gauges = {
      val (b1, t1, s1) = hostStat()
      val own = ownJiffies() - own0
      val dt = math.max(1L, t1 - t0)
      val wall = (System.nanoTime() - wall0) / 1e9
      Gauges(math.max(0.0, (b1 - b0 - own).toDouble / dt),
        (s1 - s0).toDouble / dt, loadAvg(),
        own / 100.0 / math.max(wall, 1e-3), wall, calib0, calibrationMs())
    }
  }
}
