package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-strategy pins for the relational operators — currently the
  * q91 range join, whose suite entry runs the linear difference-array
  * sweep while the pair-producing binned join stays verified here. */
class RelationalSpec extends AnyFunSuite with LocalSpark {

  test("q91 sweep ≡ binned range join, row-for-row, at sf0.01 and sf0.001") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val sweep = graft.queries.Relational.rangeJoinSweep(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val binned = graft.queries.Relational.rangeJoinBinned(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(sweep.nonEmpty, s"$dir: empty result")
      assert(sweep == binned,
        s"$dir: sweep-only ${(sweep -- binned).take(3)}; binned-only ${(binned -- sweep).take(3)}")
    }
  }
}
