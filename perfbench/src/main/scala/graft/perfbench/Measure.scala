package graft.perfbench

/**
 * The measured windows. An untraced run measures once, in phase
 * "measured". A traced run measures three times in the same JVM: untraced
 * ("measured"), traced ("traced"), untraced again ("remeasured"). The
 * tracing overhead is the traced window minus the mean of the two untraced
 * windows around it, so warm-up drift across the three cancels to first
 * order; the per-layer metrics come from the traced window.
 */
object Measure {
  def phases(rec: Recorder): Seq[String] =
    if (rec.traced) Seq("measured", "traced", "remeasured") else Seq("measured")

  /** Runs `body(i)` once per phase, with the recorder's phase and tracing
    * switched accordingly; returns each result keyed by its phase. */
  def run[T](rec: Recorder, phases: Seq[String])(body: Int => T): Map[String, T] =
    phases.zipWithIndex.map { case (p, i) =>
      rec.flush()
      rec.phase = p
      rec.tracing = p == "traced"
      try p -> body(i)
      finally {
        rec.flush()
        rec.tracing = false
      }
    }.toMap
}
