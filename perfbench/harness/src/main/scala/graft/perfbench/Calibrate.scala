package graft.perfbench

import java.lang.management.ManagementFactory

/** A fixed unit of host work that does not depend on graft: on each of k
  * threads, a linear congruential walk of random read-modify-writes over an
  * 8 MB array of the thread's own (integer arithmetic plus cache and memory
  * traffic, no allocation). Its CPU time tracks how fast a core gets through
  * memory-bound work right now, which on a shared host moves with the
  * neighbours' cache and memory traffic; run.py scales a run's timings by
  * it towards a fixed reference speed. */
object Calibrate {
  final case class Reading(wallS: Double, cpuS: Double)

  private val Words = 1 << 20
  private val Steps = 1 << 23
  private val Reps = 3
  private val threadCpu = ManagementFactory.getThreadMXBean
  private var arrays: Array[Array[Long]] = Array.empty
  @volatile private var sink = 0L

  private def walk(a: Array[Long], seed: Long): Long = {
    val mask = a.length - 1
    var x = seed * 0x9E3779B97F4A7C15L + 1L
    var i = 0
    while (i < Steps) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val j = (x >>> 35).toInt & mask
      a(j) += x
      i += 1
    }
    a(0)
  }

  private def once(k: Int): Reading = {
    if (arrays.length != k) arrays = Array.fill(k)(new Array[Long](Words))
    val cpu = new Array[Long](k)
    val threads = (0 until k).map(t => new Thread(() => {
      val c0 = threadCpu.getCurrentThreadCpuTime
      sink += walk(arrays(t), t + 1L)
      cpu(t) = threadCpu.getCurrentThreadCpuTime - c0
    }))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    Reading((System.nanoTime() - t0) / 1e9, cpu.sum / 1e9)
  }

  /** Compile the kernel before the first measured call. */
  def warm(k: Int): Unit = (1 to 4).foreach(_ => once(k))

  /** The fastest wall and the least CPU time of a few repetitions, since a
    * stray Spark or GC thread or a stolen slice can only add to either. */
  def run(k: Int): Reading = {
    val rs = (1 to Reps).map(_ => once(k))
    Reading(rs.map(_.wallS).min, rs.map(_.cpuS).min)
  }
}
