package graft.tools

/** Standalone copy of Bench's CPU calibration probe, for adjudicating
  * TimeSome head-to-heads: run this before/alongside a standalone timing
  * session to record the machine's effective speed. Per BASELINE.md's
  * normalization rule, per-key comparisons across runs are only
  * adjudicable when the runs' `calib_parallel` values are within ~20%;
  * otherwise scale by the calib ratio or re-measure both sides in one
  * session. Usage: runMain graft.tools.Calib
  */
object Calib {
  def main(args: Array[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val sink = new java.util.concurrent.atomic.AtomicLong()
    def burn(): Unit = {
      var x = 1.0; var i = 0L
      while (i < 200000000L) { x = x * 1.0000001 + 1e-9; i += 1 }
      sink.addAndGet(java.lang.Double.doubleToLongBits(x))
    }
    burn() // JIT warm-up, untimed
    val t0 = System.nanoTime(); burn()
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ts = (1 to cpus).map(_ => new Thread(() => burn()))
    ts.foreach(_.start()); ts.foreach(_.join())
    val parallel = (System.nanoTime() - t1) / 1e9
    println(f"calib_single=$single%.3f calib_parallel=$parallel%.3f cpus=$cpus")
  }
}
