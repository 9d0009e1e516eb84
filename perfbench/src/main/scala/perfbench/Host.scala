package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** The host's shape and speed, stamped into every result: a later run on
  * a different or busier machine shows it next to its numbers.
  */
object Host {

  def memTotalMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).getOrElse("MemTotal: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def probe(commit: String): Map[String, Any] = {
    val shm = new java.io.File("/dev/shm")
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> memTotalMb,
      "shm_free_mb" -> (if (shm.isDirectory) shm.getUsableSpace / 1048576.0 else 0.0),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "commit" -> commit)
  }

  /** Every `SPARK_GRAFT_*` knob in the environment, as the program sees it. */
  def graftEnv: Map[String, String] =
    sys.env.filter(_._1.startsWith("SPARK_GRAFT_"))

  private def onThreads(threads: Int)(work: Int => Long): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val futs = (0 until threads).map(i => pool.submit(new Callable[java.lang.Long] {
        def call(): java.lang.Long = work(i)
      }))
      val sink = futs.map(_.get().longValue()).sum
      val dt = (System.nanoTime() - t0) / 1e9
      if (sink == 42L) System.err.println("calibration sink")
      dt
    } finally pool.shutdown()
  }

  /** ALU (xorshift loop, no memory traffic) and STREAM (sequential sum over
    * buffers larger than cache) throughput on all cores.
    */
  def calibrate(threads: Int): Map[String, Double] = {
    val iters = 20000000L
    val alu = (t: Int) => {
      var x = 0x9E3779B97F4A7C15L + t
      var n = 0L
      while (n < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
      x
    }
    val words = (16 << 20) / 8
    val bufs = Array.fill(threads)(Array.tabulate[Long](words)(_.toLong))
    val passes = 2
    val stream = (t: Int) => {
      val b = bufs(t)
      var acc = 0L
      var p = 0
      while (p < passes) {
        var i = 0
        while (i < b.length) { acc += b(i); i += 8 }
        p += 1
      }
      acc
    }
    onThreads(threads)(alu) // JIT warm-up
    onThreads(threads)(stream)
    val aluS = onThreads(threads)(alu)
    val streamS = onThreads(threads)(stream)
    Map("alu_gops" -> threads * iters / aluS / 1e9,
      "stream_gbps" -> threads.toDouble * passes * words * 8 / streamS / 1e9)
  }
}
