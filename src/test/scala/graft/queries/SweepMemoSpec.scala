package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The staging/sweep split at the gate level: the operator outputs a
  * sharing set reads are built once per pass and rebuilt after
  * [[GraphQueries.clearSweepMemos]]; input staging stays warm across it. */
class SweepMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("sweep memos are shared within a pass and rebuilt after clearSweepMemos") {
    val sweeps = Seq[(String, () => AnyRef)](
      "event pairs" -> (() => BehaviorQueries.sharedEventPairs(spark, sf)),
      "co-occurrence pairs" -> (() => TextQueries.sharedCooccPairs(spark, sf)),
      "basket pairs" -> (() => AnalyticsQueries.sharedBasketPairs(spark, sf)))
    for ((name, get) <- sweeps) {
      val first = get()
      assert(get() eq first, s"$name: a second call must read the memo")
      GraphQueries.clearSweepMemos()
      assert(!(get() eq first), s"$name: clearSweepMemos must drop the memo")
    }
  }

  test("staging memos survive clearSweepMemos") {
    val merges = TextQueries.sharedMerges(spark, sf)
    assert(TextQueries.sharedMerges(spark, sf) eq merges)
    GraphQueries.clearSweepMemos()
    assert(TextQueries.sharedMerges(spark, sf) eq merges)
  }
}
