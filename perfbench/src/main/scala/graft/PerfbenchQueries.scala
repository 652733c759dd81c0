package graft

/** The registered queries' constants are package-private; the benchmark
  * reads them from here so its kernel parameters cannot drift from theirs.
  */
object PerfbenchQueries {
  val JaccardCandidateBudget: Long = Queries.JaccardCandidateBudget
}
