package graft

/** Read access to the engine's frozen 10-query sentinel list. */
object PerfbenchSentinel {
  def queries: Seq[String] = Bench.sentinelQueries
}
