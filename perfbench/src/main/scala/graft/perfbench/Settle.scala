package graft.perfbench

/** The steady-state protocol: warm up until consecutive passes agree, then
  * measure for a fixed time. */
object Settle {
  /** Runs `pass` (which returns its seconds) at least `min` and at most `max`
    * times, stopping once two consecutive passes differ by no more than
    * `tolerance` of the later one. Returns the seconds of every pass run. */
  def run(min: Int, max: Int, tolerance: Double)(pass: => Double): Seq[Double] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    def settled = times.size >= 2 &&
      math.abs(times.last - times(times.size - 2)) <= tolerance * times.last
    while (times.size < max && !(times.size >= min && settled)) times += pass
    times.toSeq
  }

  /** Runs `pass` until `seconds` have elapsed and at least `min` passes are
    * done. Returns the number of passes run. */
  def measure(seconds: Int, min: Int)(pass: => Double): Int = {
    val end = System.nanoTime() + seconds * 1000000000L
    var n = 0
    while (n < min || System.nanoTime() < end) { pass; n += 1 }
    n
  }
}
