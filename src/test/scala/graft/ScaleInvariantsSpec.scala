package graft

/** Locks the sf1 invariant harness itself: every check runs green
  * in-process against sf0.001 (the same artifacts the oracle gate
  * hash-checks at sf0.01), so a FAIL at sf1 means the DATA broke an
  * invariant, not that a check is miswired. */
class ScaleInvariantsSpec extends SparkSpecBase {

  test("every scale invariant holds at sf0.001") {
    val collect = new ScaleInvariants.Collector(spark)
    ScaleInvariants.runChecks(spark, "/root/testdata/sf0.001", collect)
    assert(collect.results.size >= 12,
      s"expected >=12 checks, got ${collect.results.map(_._1)}")
    assert(collect.fails.isEmpty, collect.fails.mkString("; "))
  }
}
