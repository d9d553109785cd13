package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The environment record printed beside every sample, and the JVM
  * counters of the traced run. */
object Env {
  final case class JvmCounters(gcMs: Long, cpuNs: Long)

  def jvmCounters(): JvmCounters = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    JvmCounters(gc, cpu)
  }

  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def peakHeapMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Copy bandwidth in GB/s (bytes read + written), `threads` threads each
    * copying its own 32 MiB buffer for about 0.15 s. */
  def memcpyGBps(threads: Int): Double = {
    val size = 32 << 20
    val bufs = Array.fill(threads)((new Array[Byte](size), new Array[Byte](size)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      def pass(seconds: Double): (Long, Double) = {
        val start = new java.util.concurrent.CountDownLatch(1)
        val fs = bufs.map { case (a, b) =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              start.await()
              val t0 = System.nanoTime()
              var n = 0L
              while ((System.nanoTime() - t0) / 1e9 < seconds) {
                System.arraycopy(a, 0, b, 0, size)
                System.arraycopy(b, 0, a, 0, size)
                n += 2
              }
              n
            }
          })
        }
        val t0 = System.nanoTime()
        start.countDown()
        val copies = fs.map(_.get()).sum
        (copies, (System.nanoTime() - t0) / 1e9)
      }
      pass(0.05)
      val (copies, secs) = pass(0.15)
      copies * size * 2.0 / secs / 1e9
    } finally pool.shutdown()
  }

  def record(cores: Int): Map[String, String] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors.toString,
    "cores" -> cores.toString,
    "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "memcpy_gbps_1t" -> f"${memcpyGBps(1)}%.2f",
    s"memcpy_gbps_${cores}t" -> f"${memcpyGBps(cores)}%.2f")
}
