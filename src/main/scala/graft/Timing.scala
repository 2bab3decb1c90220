package graft

/** Per-stage wall time as `[timing] <tag> <seconds>s` lines on stdout, printed only when the
  * `GRAFT_TIMING` environment variable is set (`BenchExtra maint` reads them back).
  */
private[graft] object Timing {
  private val enabled = sys.env.contains("GRAFT_TIMING")

  def timed[T](tag: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (enabled) println(f"[timing] $tag ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }
}
