package graft

/** The one byte budget for data the driver holds: a broadcast relation it
  * builds (the Scoring hydration projection, decontamination's eval n-grams)
  * or an edge set it finishes connected components over (ops/Clustering).
  *
  * min(2 GiB, driver max heap / 10): the broadcast build is the pipeline's
  * one driver-serial term (measured ~506s at 9.6M pages on a 7.75M-row
  * projection), so a fixed 2 GiB cap was generous for small drivers, and the
  * heap share leaves room for everything else the driver keeps.
  */
object DriverBudget {
  def bytes: Long = math.min(2L * 1024 * 1024 * 1024, Runtime.getRuntime.maxMemory / 10)

  /** An explicit cap (>= 0) keeps its meaning; a negative one derives the
    * budget. */
  def orDefault(explicit: Long): Long = if (explicit >= 0) explicit else bytes
}
