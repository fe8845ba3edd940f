package graft

package object tools {

  /** Repetitions of each measured block in the scale tools, from
    * `SPARK_GRAFT_SCALE_RUNS` (default 2): the tools record per-metric
    * minimums over these runs. A value below 1 or not an integer fails
    * loudly — zero runs would leave nothing to take a minimum of. */
  private[graft] def scaleRuns: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2")
    val n = raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_SCALE_RUNS=$raw is not an integer"))
    require(n >= 1, s"SPARK_GRAFT_SCALE_RUNS=$raw, want >= 1")
    n
  }
}
