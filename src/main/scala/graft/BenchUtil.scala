package graft

/** Shared noise handling for the throughput benches — ONE implementation of
  * the CLAUDE.md "compare medians, never single runs" rule, so EtlBench and
  * CorpusBench cannot drift apart in how they summarize runs. */
object BenchUtil {
  /** Median wall seconds (mean of the middle two for an even count). */
  def medianOf(secs: Seq[Double]): Double = {
    require(secs.nonEmpty)
    val sorted = secs.sorted
    val n = sorted.length
    if (n % 2 == 1) sorted(n / 2)
    else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
  }

  /** The per-run list as a JSON array of seconds to `decimals` places. */
  def runsJson(secs: Seq[Double], decimals: Int): String =
    secs.map(s => s"%.${decimals}f".format(s)).mkString("[", ",", "]")
}
