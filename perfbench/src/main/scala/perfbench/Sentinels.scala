package perfbench

/** Host-health sentinels, the same two probes `graft.Bench` records: a
  * fixed single-thread integer spin (CPU steal) and one sequential pass
  * over a 64 MiB array (memory-bandwidth contention, which inflates GC and
  * shuffle while leaving the spin alone). They are timed outside every
  * measured region; a run whose worst reading is far above its floor is
  * flagged unhealthy rather than averaged in. The array is allocated for
  * each reading and dropped after it, so it never counts in the driver
  * heap the workloads report. */
final class Sentinels {
  private var sink = 0L
  private val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val mem = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def cpuMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 24)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
    (System.nanoTime() - t0) / 1e6
  }

  private def memMs(): Double = {
    // filled before the clock starts, so page faults stay out of the reading
    val a = new Array[Long](8 << 20)
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    var s = 0L
    i = 0
    val t0 = System.nanoTime()
    while (i < a.length) { s += a(i); i += 1 }
    sink ^= s
    (System.nanoTime() - t0) / 1e6
  }

  /** Take one reading of each probe; at start, the minimum of three, since
    * the first spin pays JIT warm-up for the loop itself. */
  def probe(start: Boolean = false): Unit = synchronized {
    val reps = if (start) 3 else 1
    cpu += (1 to reps).map(_ => cpuMs()).min
    mem += (1 to reps).map(_ => memMs()).min
  }

  private def steady(xs: Seq[Double]): Boolean = xs.max < 3.0 * math.max(xs.min, 0.001) + 5.0

  private def series(xs: Seq[Double]): Map[String, Any] = Map("n" -> xs.size,
    "minMs" -> xs.min, "medianMs" -> Stats.median(xs), "maxMs" -> xs.max, "healthy" -> steady(xs))

  def healthy: Boolean = synchronized { steady(cpu.toSeq) && steady(mem.toSeq) }

  /** Both series; `sink` is printed so the JIT cannot drop the probes. */
  def summary: Map[String, Any] = synchronized {
    Map("cpu" -> series(cpu.toSeq), "mem" -> series(mem.toSeq), "healthy" -> healthy,
      "sink" -> (sink & 1))
  }
}
