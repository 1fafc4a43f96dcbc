package graft.streaming

import graft.model.InputSemantics

/** Key of a maintained bitemporal visible-view entry. For Raw/Distinct
  * attributes the view is per `(e, v)` pair (`v` rides in the key); for
  * LastWriteWins the view is per entity (`v` is null in the key — the
  * winner value lives in the emitted record). `e`/`v` are NATIVE values
  * ([[graft.model.Value.native]]), hash-stable across JVMs. */
final case class BiKey(a: String, e: Any, v: Any)

/** One bitemporal datom occurrence under its key: FINE `Pair(sys,
  * event)` coordinates, the global transaction sequence (LWW
  * tie-break), the signed input diff, and — for LWW keys only — the
  * written value. */
final case class BiRec(sys: Long, event: Long, seq: Long, diff: Long, v: Any)

/** Coarsen time arithmetic shared by [[BiPacked]] and [[BiMaintained]]
  * (reference `Coarsen`, `src/timestamp/mod.rs:144-184`). */
private[streaming] object BiTime {
  /** Attribute → input-semantics resolver shipped into closures. */
  type Sem = String => InputSemantics

  /** One coordinate rounded STRICTLY up to the next window bound —
    * `(t/w + 1)·w` even at exact multiples; identity for `w ≤ 0`. */
  def coarse(x: Long, w: Long): Long = if (w <= 0L) x else (x / w + 1L) * w

  /** Largest FINE coordinate visible at coarse lattice point `tc`:
    * `coarse(x, w) ≤ tc  ⇔  x ≤ visBound(tc, w)` — the identity for
    * `w ≤ 0`, `tc − 1` on the positive lattice, `tc − w` at/below zero
    * (truncating division rounds toward zero there). */
  def visBound(tc: Long, w: Long): Long =
    if (w <= 0L) tc else if (tc > 0L) tc - 1L else tc - w

  /** Lex compare of two fine (sys, event, seq) triples under the lane's
    * COARSE order: windows first, the global sequence as tie-break —
    * the LWW winner rule a coarsened store would apply natively. */
  def lwwGreater(win: Option[(Long, Long)],
      s1: Long, e1: Long, q1: Long, s2: Long, e2: Long, q2: Long): Boolean = {
    val (ws, we) = win.getOrElse((0L, 0L))
    val cs1 = coarse(s1, ws); val cs2 = coarse(s2, ws)
    if (cs1 != cs2) return cs1 > cs2
    val ce1 = coarse(e1, we); val ce2 = coarse(e2, we)
    if (ce1 != ce2) return ce1 > ce2
    q1 > q2
  }

  /** Indices into `recs` (one key's (sys, event, seq) triples) kept by
    * trace compaction for LWW: the UNION over `wins` of the winner
    * staircases — sweep the event bound upward; at each event
    * coordinate, the window's best record there either beats the
    * running winner (→ kept, new running winner) or never wins at any
    * future bound (visible only when the running winner also is).
    * Everything outside the union is beaten at every admissible bound
    * for every registered window. */
  def lwwStaircase(recs: IndexedSeq[(Long, Long, Long)],
      wins: Seq[Option[(Long, Long)]]): Set[Int] = {
    val keep = scala.collection.mutable.Set.empty[Int]
    val byEvent = recs.indices.groupBy(i => recs(i)._2).toSeq.sortBy(_._1)
    wins.foreach { win =>
      def beats(i: Int, j: Int): Boolean =
        lwwGreater(win, recs(i)._1, recs(i)._2, recs(i)._3,
          recs(j)._1, recs(j)._2, recs(j)._3)
      var best = -1
      byEvent.foreach { case (_, idx) =>
        val cand = idx.reduceLeft((a, b) => if (beats(b, a)) b else a)
        if (best < 0 || beats(cand, best)) { best = cand; keep += cand }
      }
    }
    keep.toSet
  }
}
