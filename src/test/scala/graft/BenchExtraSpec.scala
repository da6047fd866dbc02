package graft

import org.scalatest.funsuite.AnyFunSuite

/** Argument parsing of the `BenchExtra` harness: `[reps] [query...]`. */
class BenchExtraSpec extends AnyFunSuite {
  private val known = Set("q_a", "q_b")

  test("rep count is optional, and an empty one takes the default") {
    assert(BenchExtra.parseArgs(Seq.empty, known) == Right((2, Seq.empty)))
    assert(BenchExtra.parseArgs(Seq(""), known) == Right((2, Seq.empty)))
    assert(BenchExtra.parseArgs(Seq("", "q_a"), known) == Right((2, Seq("q_a"))))
    assert(BenchExtra.parseArgs(Seq("3", "q_b", "q_a"), known) ==
      Right((3, Seq("q_b", "q_a"))))
    assert(BenchExtra.parseArgs(Seq("q_a"), known) == Right((2, Seq("q_a"))))
    assert(BenchExtra.parseArgs(Seq("0"), known).isLeft)
  }

  test("unknown query names are rejected with the valid names listed") {
    val err = BenchExtra.parseArgs(Seq("1", "q_a", "nope"), known)
    assert(err == Left("unknown queries: nope; valid: q_a, q_b"))
    val real = SparkEntry.queries.keySet
    assert(BenchExtra.parseArgs(real.toSeq.sorted.take(2), real).isRight)
    assert(BenchExtra.parseArgs(Seq("nope"), real).left.exists(_.contains(real.min)))
  }
}
