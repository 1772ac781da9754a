package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene: the driver's correctness gate covers exactly the
  * queries that exist — a queries() entry without an oracle would land as
  * the weaker rows-only check (round 4's only non-green row), and a
  * dangling oracle would fail the driver outright.
  */
class RegistrySpec extends AnyFunSuite {

  /** These oracles replay LEARNED artifacts (PQ codebooks, k-means
    * centroids, logistic weights) as plan-time literals, so their
    * oracleSql entries appear only after the query has run and stashed
    * the artifact — Verify runs queries first, then dumps the oracles.
    * Anything NOT in this set must have a static oracle.
    */
  private val stashBacked = SparkEntry.learnedOracleQueries

  test("every query has an oracle (stash-backed ones after a run); no dangling oracles") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o -- stashBacked).isEmpty,
      s"queries without oracle: ${(q -- o -- stashBacked).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
    assert(stashBacked.subsetOf(q), "stash-backed names must be real queries")
  }

  test("every headline plan name is a registered query") {
    val q = SparkEntry.queries.keySet
    val missing = Plans.Names.filterNot(q)
    assert(missing.isEmpty, s"Plans.Names not in queries: $missing")
  }
}
