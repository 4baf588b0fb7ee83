package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-replica word suffix keeps replicas disjoint in every hash space
  * only while suffixes are distinct and stay inside the tokenizer's [a-z]. */
class ScaleFixtureSpec extends AnyFunSuite {

  test("replica suffixes are distinct, pure [a-z] and of equal length") {
    val k = 1000
    val sfx = (0 until k).map(ScaleFixture.replicaSuffix(_, k))
    assert(sfx.distinct.size == k)
    assert(sfx.forall(_.matches("[a-z]+")), sfx.filterNot(_.matches("[a-z]+")).take(3))
    assert(sfx.map(_.length).distinct == Seq(3))
  }

  test("up to 26 replicas keep the single-letter suffix") {
    assert((0 until 26).map(ScaleFixture.replicaSuffix(_, 26)) ==
      ('a' to 'z').map(_.toString))
    assert(ScaleFixture.replicaSuffix(26, 27) == "ba")
  }
}
