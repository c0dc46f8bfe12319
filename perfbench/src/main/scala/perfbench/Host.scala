package perfbench

import java.nio.file.{Files, Paths}

/** Process and host readings. The host-window record (load, calibration
  * loop, seed, commit) makes a degraded measurement window visible next to
  * the metrics; it never adjusts them.
  */
object Host {

  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds consumed by this JVM so far (driver and in-process executors). */
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  private def procLines(path: String): Seq[String] =
    try scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(Paths.get(path))).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  /** Peak resident set size of this JVM (VmHWM), MiB. */
  def peakRssMb: Double =
    procLines("/proc/self/status")
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def loadAvg: String = procLines("/proc/loadavg").headOption.getOrElse("unavailable")

  /** Wall milliseconds of a fixed single-threaded integer loop: a slower
    * reading than usual marks a contended window.
    */
  def calibrationMs: Double = {
    def loop(): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
      x
    }
    loop() // warm
    val t0 = System.nanoTime()
    val r = loop()
    val ms = (System.nanoTime() - t0) / 1e6
    if (r == 42L) println("")
    ms
  }

  /** Commit of the checkout (`git rev-parse HEAD`), or "unknown" where the
    * checkout is not a git work tree.
    */
  def gitSha: String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "unknown"
    } catch { case _: java.io.IOException => "unknown" }
}
