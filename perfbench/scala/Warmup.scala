package perfbench

/** A fixed number of untimed calls before the timed section, so that the
  * JIT and the page cache have settled as far as a run's budget allows
  * and every run starts timing at the same point of its warm-up.
  *
  * The JIT settles slowly: Spark plus the program is ~24k classes. On a
  * 4-CPU host an ExtractJob call compiles for 5-6 s of thread time over
  * the first ~6 calls of a JVM and still ~2 s per call after ten (each
  * call plans new queries); the first call runs ~4x as long as the
  * tenth, and the gain per call falls below ~5% after about five.
  */
object Warmup {

  /** Runs `call(0)` .. `call(calls - 1)`; returns the wall seconds spent,
    * checks between calls included.
    */
  def run(calls: Int)(call: Int => Double): Double = {
    val t0 = System.nanoTime()
    (0 until calls).foreach { n =>
      System.gc()
      Measure.log(f"warm-up call $n: ${call(n)}%.3f s")
    }
    (System.nanoTime() - t0) / 1e9
  }
}
