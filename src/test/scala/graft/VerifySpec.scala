package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness harness fails closed: `Verify` refuses any
  * `GRAFT_CONF` session override and names it. */
class VerifySpec extends AnyFunSuite {
  test("Verify accepts an empty override set") {
    Verify.requireNoOverrides(Seq.empty)
  }

  test("Verify refuses a GRAFT_CONF override and names it") {
    val e = intercept[IllegalStateException] {
      Verify.requireNoOverrides(Seq("spark.sql.shuffle.partitions" -> "7"))
    }
    assert(e.getMessage.contains("spark.sql.shuffle.partitions=7"), e.getMessage)
  }
}
