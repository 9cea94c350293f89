package perfbench

import scala.collection.mutable

/** Host CPU speed, sampled all through a run.
  *
  * This shared VM's CPU speed swings by 2x and more from one minute to the
  * next, and sometimes within seconds, so raw timings of one build spread
  * far wider than any useful bound. A daemon thread hashes 1000 SHA-256
  * blocks every 20 ms and records the rate per second of its own CPU time
  * (M hashes per CPU-second; the JVM runs C1 code only, so this is plain
  * compiled Java, not the CPU's SHA instructions). A slower host lowers
  * that rate. The engine's own load can lower it too (shared cores); the
  * run record keeps the probe's speed with the engine idle and loaded, so
  * that can be checked. The probe costs about 5% of one core.
  *
  * A timing is then scaled by the mean speed over its interval: the
  * adjusted time is the time the work would take on a host where the probe
  * reads 1 M hashes per CPU-second.
  */
object HostSpeed {

  private val samples = mutable.ArrayBuffer.empty[(Long, Double)] // (epoch ms, speed)

  def start(): Unit = {
    val t = new Thread(() => {
      val cpu = java.lang.management.ManagementFactory.getThreadMXBean
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var buf = new Array[Byte](64)
      while (true) {
        val c0 = cpu.getCurrentThreadCpuTime
        var i = 0
        while (i < 1000) { buf = md.digest(buf); i += 1 }
        val ns = cpu.getCurrentThreadCpuTime - c0
        if (ns > 0) samples.synchronized {
          samples += ((System.currentTimeMillis, 1000 * 1e3 / ns))
        }
        Thread.sleep(20)
      }
    }, "perfbench-host-speed")
    t.setDaemon(true)
    t.start()
  }

  /** Mean speed over [fromMs, toMs]; the nearest samples when none fall inside. */
  def mean(fromMs: Long, toMs: Long): Double = samples.synchronized {
    val in = samples.filter { case (t, _) => t >= fromMs && t <= toMs }
    val use = if (in.nonEmpty) in else samples.sortBy { case (t, _) =>
      math.min(math.abs(t - fromMs), math.abs(t - toMs)) }.take(3)
    use.map(_._2).sum / use.size
  }

  /** Sleep `ms` and return the mean speed over that idle window. */
  def idle(ms: Long): Double = {
    val t0 = System.currentTimeMillis
    Thread.sleep(ms)
    mean(t0, System.currentTimeMillis)
  }

  /** `ms` of work done over [fromMs, toMs], scaled by the probe's speed. */
  def adjust(ms: Double, fromMs: Long, toMs: Long): Double = ms * mean(fromMs, toMs)

  /** Host CPU grant with the repo's calibration kernel at `cores` threads
    * (M hashes per second per thread), for the run record.
    */
  def calibrate(cores: Int): Double =
    graft.tools.ScalingBench.calibrate(cores, 250L) / cores / 1e6
}
