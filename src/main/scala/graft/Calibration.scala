package graft

/** FIXED-WORK CPU CALIBRATION shared by [[Bench]] and [[QTime]]: the
  * same deterministic xorshift loop on `threads` threads at once, timed
  * in wall seconds. Run once on 1 thread (cal1) and once on all threads
  * (cal2), the two figures are box constants — if they moved between
  * runs, the box moved, not the code.
  */
private[graft] object Calibration {
  private val sink = new java.util.concurrent.atomic.AtomicLong()

  private def work(seed: Long, n: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def seconds(threads: Int): Double = {
    sink.addAndGet(work(7L, 20000000L)) // JIT warm
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(k =>
      new Thread(() => { sink.addAndGet(work(k + 42L, 1000000000L)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    if (sink.get() == 0L) println("calibration sink") // defeat dead-code elim
    secs
  }
}
