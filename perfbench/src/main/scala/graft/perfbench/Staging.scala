package graft.perfbench

/** The program's fixture-staging clock, which only code inside `graft` can
  * read: [[perfbench.Survey]] uses it to tell which queries stage fixtures.
  */
object Staging {
  def seconds: Double = graft.queries.DedupQueries.DedupStaging.stagingSeconds
}
