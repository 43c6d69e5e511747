package layerbench

import java.lang.management.ManagementFactory

/** Host-state probe, taken before and after each run as context (never a
  * gate): a register-bound integer loop (thousands of iterations per ms —
  * blind to memory pressure) and a 64 MB array copy (MB/s moved, read +
  * write — the dimension the engine's array folds depend on). A run whose
  * probes dropped was measured in a noisy window. Same two dimensions as
  * the probe inside `graft.Bench`, so the numbers compare across both. */
object Host {
  def probe(): (Double, Double) = {
    var x = 1L; var iters = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 100000000L) {
      var i = 0
      while (i < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      iters += 100000
    }
    val kipsMs = iters / ((System.nanoTime() - t0) / 1e6) / 1000.0
    val n = 8 * 1024 * 1024
    val a = Array.fill(n)((x & 7L).toDouble); val b = new Array[Double](n)
    val t1 = System.nanoTime()
    var reps = 0
    while (System.nanoTime() - t1 < 200000000L) { System.arraycopy(a, 0, b, 0, n); reps += 1 }
    val mbps = reps * 2.0 * n * 8 / 1e6 / ((System.nanoTime() - t1) / 1e9)
    (kipsMs, mbps)
  }
}

/** Live heap: heap in use right after a full collection, read through
  * JMX. Spark frees cached blocks of dropped datasets (kNN's checkpoints,
  * for one) from a cleaner thread only after a collection has found them
  * unreachable, so a second collection follows a short pause; with a
  * single one the reading flipped between two levels from run to run. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
