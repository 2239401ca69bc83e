package perfbench

import java.lang.management.ManagementFactory

/** One timed call: wall seconds and process CPU seconds (all threads,
  * GC and JIT included — the cost a cluster pays for the call).
  */
final case class Rep(wallS: Double, cpuS: Double)

object Measure {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def timed[A](f: => A): (A, Rep) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val a = f
    val t1 = System.nanoTime()
    val c1 = os.getProcessCpuTime
    (a, Rep((t1 - t0) / 1e9, (c1 - c0) / 1e9))
  }

  def wall(f: => Unit): Double = timed(f)._2.wallS

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Runs `rep` until the timed sections add up to `seconds` (and at
    * least `minReps` times). Between calls the heap is collected so the
    * blocks of the previous call's checkpoints are released before the
    * next call starts, not during it.
    */
  def loop[A](seconds: Double, minReps: Int)(rep: => (Rep, A)): Vector[(Rep, A)] = {
    val out = Vector.newBuilder[(Rep, A)]
    var spent = 0.0
    var i = 0
    while (spent < seconds || i < minReps) {
      System.gc()
      val r = rep
      Measure.log(f"timed call $i: ${r._1.wallS}%.3f s wall, ${r._1.cpuS}%.3f s cpu")
      out += r
      spent += r._1.wallS
      i += 1
    }
    out.result()
  }

  /** Set-up seconds: session start, generation (slice count times the
    * median slice), table preparation and warm-up.
    */
  def setup(sessionS: Double, sliceS: Seq[Double], prepS: Double, warmS: Double): Double = {
    log(f"set-up: session $sessionS%.3f s, slices ${sliceS.map(x => f"$x%.3f").mkString(" ")} s, " +
      f"prep $prepS%.3f s, warm-up $warmS%.3f s")
    sessionS + sliceS.size * median(sliceS) + prepS + warmS
  }

  /** A progress line on stderr (the run's log). */
  def log(s: String): Unit = System.err.println(s"perfbench: $s")

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}
