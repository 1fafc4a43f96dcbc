package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.model.InputSemantics

/** Sys-index pruning discipline on the SHARED fine store: transition
  * slabs are `(prev, cur]` and every lane's processed bound only
  * advances, so entries at or under the min-across-lanes bound can
  * never be scanned again — transitions cancel them en route, the
  * driver → distributed migration must not re-plant them (r11 review
  * finding against the packed store's rebuild-by-ingest migration), and
  * a transition reaching INTO the pruned region (a late lane's replay)
  * must fall back to the all-keys candidate scan and still be exact. */
class BiSplitPruneSpec extends AnyFunSuite {

  private val sem: BiTime.Sem = _ => InputSemantics.Raw

  private def recs = (0 until 200).map { i =>
    BiKey(":b/x", i.toLong, (i * 10).toLong) ->
      BiRec(sys = i % 10, event = i % 7, seq = i, diff = 1L, v = (i * 10).toLong)
  }

  test("packed split sheds dead sys weight and transitions exactly (r11 review)") {
    val packed0 = BiPacked.empty.ingest(recs)
    val (packedP, _) = packed0.transition(0, None, None, (4L, 10L), sem, 4L)
    val (packedU, _) = packed0.transition(0, None, None, (4L, 10L), sem, Long.MinValue)
    val pruned = packedP.split(3)
    val unpruned = packedU.split(3)
    assert(pruned.map(_.estimatedBytes).sum < unpruned.map(_.estimatedBytes).sum,
      "pruned split must shed the dead sys index weight")
    assert(pruned.map(_.datomCount).sum == 200L)
    def step(vs: Seq[BiPacked]): Set[(String, Any, Any, Long)] =
      vs.flatMap(_.transition(0, None, Some((4L, 10L)), (9L, 3L), sem, 9L)._2).toSet
    val whole = packedP.transition(0, None, Some((4L, 10L)), (9L, 3L), sem, 9L)._2.toSet
    assert(step(pruned) == whole && step(unpruned) == whole,
      "split stores must transition exactly like the unsplit store")
  }

  test("late lane replays through the pruned region via the all-keys fallback") {
    // Lane 0 processes (and prunes) through sys ≤ 9; a NEW lane 1 then
    // replays from scratch — its slabs reach into the pruned region, so
    // candidates must come from the datom runs, not the (emptied) sys
    // index. Its cumulative emitted view must equal lane 0's.
    var vis = BiPacked.empty.ingest(recs)
    var out0 = Vector.empty[(String, Any, Any, Long)]
    for (s <- 0L to 9L) {
      val prev = if (s == 0L) None else Some((s - 1L, 6L))
      val (next, rows) = vis.transition(0, None, prev, (s, 6L), sem, s)
      vis = next; out0 ++= rows
    }
    var out1 = Vector.empty[(String, Any, Any, Long)]
    for (s <- 0L to 9L) {
      val prev = if (s == 0L) None else Some((s - 1L, 6L))
      val (next, rows) = vis.transition(1, None, prev, (s, 6L), sem, Long.MinValue)
      vis = next; out1 ++= rows
    }
    def net(xs: Vector[(String, Any, Any, Long)]) =
      xs.groupBy(x => (x._1, x._2, x._3)).view
        .mapValues(_.map(_._4).sum).filter(_._2 != 0L).toMap
    assert(net(out1) == net(out0), "late-lane replay diverged")
    assert(vis.dumpEmitted(1).toSet == vis.dumpEmitted(0).toSet)
  }
}
