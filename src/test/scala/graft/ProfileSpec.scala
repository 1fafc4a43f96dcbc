package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Profile`'s job callsite label keeps a frame's `(File.scala:12)`
  * position when it has one and appends nothing when it does not. */
class ProfileSpec extends AnyFunSuite {
  test("site label cuts after the frame's closing parenthesis") {
    val details =
      "org.apache.spark.rdd.RDD.count(RDD.scala:1)\n" +
        "graft.streaming.StateCell.advance(StateCell.scala:12) trailing\n" +
        "graft.Other.run(Other.scala:3)"
    assert(Profile.siteLabel(details, "stage") ==
      "graft.streaming.StateCell.advance(StateCell.scala:12)")
  }

  test("site label of a class-name-only frame has no stray parenthesis") {
    val details = "org.apache.spark.Foo.bar\n  at graft.streaming.StateCell"
    assert(Profile.siteLabel(details, "stage") == "graft.streaming.StateCell")
  }

  test("site label falls back when no graft frame exists") {
    assert(Profile.siteLabel("org.apache.spark.Foo.bar(Foo.scala:1)", "stage") == "stage")
  }
}
