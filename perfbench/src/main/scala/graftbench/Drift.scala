package graftbench

import java.nio.file.{Files, Path}

/** Machine-drift record: what a run needs so that a slower machine can be
  * told apart from slower code. Two fixed rulers (a single-threaded integer
  * mix and a sequential sweep over a buffer far larger than the last-level
  * cache) are timed at the start and the end of every run; divide two runs'
  * times by the ratio of the ruler that matches the work being compared.
  */
object Drift {

  /** Seconds for a fixed 50M-step integer mix (JIT-warmed first). */
  def cpuRulerSec(): Double = {
    def mix(n: Long): Long = {
      var z = 0L
      var i = 0L
      while (i < n) {
        z += (i ^ (z >>> 13)) * 0x9E3779B97F4A7C15L
        i += 1
      }
      z
    }
    mix(5000000L)
    val t0 = System.nanoTime()
    val sink = mix(50000000L)
    val s = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.println("")
    s
  }

  /** Seconds for 16 sequential sweeps over a 64 MiB long array (1 GiB of
    * memory traffic).
    */
  def memRulerSec(): Double = {
    val buf = new Array[Long](8 << 20)
    var warm = 0L
    var i = 0
    while (i < buf.length) { buf(i) = i.toLong; i += 1 }
    i = 0
    while (i < buf.length) { warm += buf(i); i += 1 }
    val t0 = System.nanoTime()
    var sink = 0L
    var p = 0
    while (p < 16) {
      var j = 0
      while (j < buf.length) { sink += buf(j); j += 1 }
      p += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if ((sink | warm) == 42L) System.err.println("")
    s
  }

  def loadAvg(): Double =
    try Files.readString(Path.of("/proc/loadavg")).trim.split(" ").head.toDouble
    catch { case _: Exception => -1.0 }

  /** One ruler reading, taken at the start or the end of a run. */
  def sample(): Map[String, Any] = Map(
    "loadavg_1m" -> loadAvg(),
    "cpu_ruler_s" -> cpuRulerSec(),
    "mem_ruler_s" -> memRulerSec())

  /** Static facts about the run's environment. */
  def environment(sourceStamp: String): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "source_sha256" -> sourceStamp,
    "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.vm.version")),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString)
}
