package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}

/**
 * Host-speed reference. A fixed CPU and memory kernel (xorshift fill,
 * sort, hash-table build, byte hashing) runs on every core at once; its
 * time tracks how fast this host runs JVM code at that moment. On a
 * shared host that speed drifts by 20-30 % over minutes, so the launcher
 * scales the gated times of each phase by the kernel's median time in
 * that phase (run.py, REF_SECONDS). The kernel touches no graft code and
 * a pass allocates nothing, so neither a change to the program nor the state
 * of its heap moves it.
 */
final class Calib(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-calib"); t.setDaemon(true); t
    }
  })
  @volatile private var sink = 0L

  /** Seconds one kernel pass takes per thread: the median over all
    * threads of `reps` passes, all threads running together. */
  def measure(reps: Int = 3): Double = {
    val tasks = (0 until threads).map { k =>
      pool.submit(new Callable[Array[Long]] {
        def call(): Array[Long] = Array.tabulate(reps) { i =>
          val t0 = System.nanoTime()
          sink += Calib.kernel(k * 131L + i + 1)
          System.nanoTime() - t0
        }
      })
    }
    val ns = tasks.flatMap(_.get().toSeq).sorted
    val m = ns.length / 2
    (if (ns.length % 2 == 1) ns(m).toDouble else (ns(m - 1) + ns(m)) / 2.0) / 1e9
  }

  def close(): Unit = pool.shutdownNow()
}

object Calib {
  private val N = 1 << 18
  /** Per-thread buffers, so a pass allocates nothing and no garbage
    * collection (whose cost follows the program's heap) falls into it. */
  private val buffers = ThreadLocal.withInitial[(Array[Long], Array[Long], Array[Byte])](
    () => (new Array[Long](N), new Array[Long](N), new Array[Byte](N * 4)))

  def kernel(seed: Long): Long = {
    val (a, table, bytes) = buffers.get()
    var x = seed
    var i = 0
    while (i < N) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    // open-addressing count table over 2^16 keys
    java.util.Arrays.fill(table, 0L)
    i = 0
    while (i < N) {
      val k = a(i) & 0xffff
      var h = ((k * 0x9e3779b97f4a7c15L) >>> 46).toInt
      while (table(h) != 0L && (table(h) >>> 32) != k) h = (h + 1) & (N - 1)
      table(h) = (k << 32) | ((table(h) & 0xffffffffL) + 1)
      i += 1
    }
    i = 0
    while (i < bytes.length) { bytes(i) = (a(i & (N - 1)) >>> 8).toByte; i += 1 }
    var h = 0xcbf29ce484222325L
    i = 0
    while (i < bytes.length) { h = (h ^ bytes(i)) * 0x100000001b3L; i += 1 }
    h ^ table((seed & (N - 1)).toInt) ^ a(N / 2)
  }
}
