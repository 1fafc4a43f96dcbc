package graft.streaming

import scala.collection.immutable.HashMap
import scala.collection.mutable

import graft.model.ValueKind

/** Key-grouped weighted-row state behind the footprint seam — the
  * compound support tables of the join / antijoin-left / aggregate /
  * pull-level nodes (`key → (row → net weight)`). Two backends:
  *
  *  - [[BoxedGroups]]: the original nested `immutable.HashMap` trie
  *    (~240 B/entry measured) — structural sharing per batch; serves
  *    the zero-width-row groups (no row columns to pack);
  *  - [[PackedGroups]]: records pack as `key ++ row ++ weight` strides
  *    into [[PackedRuns]] (~8·(kw+rw+1) B/entry), group reads are
  *    prefix scans over the key columns, and a batch appends one netted
  *    delta run (size-tiered merge — the same amortized O(delta) as
  *    structural sharing). Every column value travels as a 2-bit-tagged
  *    long code: long-backed natives inline, nulls tagged, and
  *    EVERYTHING ELSE (strings, reals, rationals, variants) through a
  *    per-instance interning dictionary — the boxed residual is one
  *    entry per DISTINCT value, not per record (the round-10 VERDICT's
  *    string-column gap). Arity-irregular records route to a boxed side
  *    map, so packing is an optimization, never a semantics change.
  *
  * Readers materialize a group's `WMap` per TOUCHED key per batch (the
  * advance functions' access pattern); reads always see the pre-batch
  * state — `merged` is applied once per batch with the full netted
  * delta, exactly the discipline the nested-map code kept implicitly.
  * Dictionary equality is universal `equals` — identical to the boxed
  * trie's key semantics, so the two backends cannot diverge.
  */
sealed trait GroupIndex extends Serializable {
  /** Net-weighted rows under `k` (empty when none). */
  def group(k: Seq[Any]): IncrementalQuery.WMap
  /** Apply one batch of netted `((key, row), ±w)` deltas. */
  def merged(deltas: Iterable[((Seq[Any], Seq[Any]), Long)]): GroupIndex
  /** Declared resident bytes (KnownSizeEstimation input). */
  def bytes: Long
}

object GroupIndex {
  /** Backend factory, resolved ONCE on the DRIVER from the key/row
    * column kinds: packed unless the rows have no columns. The returned
    * thunk bakes the decision in for StateCell zero() closures, which
    * execute inside executor tasks. */
  def maker(keyKinds: Seq[ValueKind], rowKinds: Seq[ValueKind]): () => GroupIndex = {
    val kw = keyKinds.length
    val rw = rowKinds.length
    if (rowKinds.nonEmpty)
      () => PackedGroups(PackedRuns.empty(kw + rw), kw, rw,
        scala.collection.immutable.HashMap.empty)
    else
      () => BoxedGroups(scala.collection.immutable.HashMap.empty)
  }

  /** Driver-side convenience (tests; production cells use [[maker]]). */
  def empty(keyKinds: Seq[ValueKind], rowKinds: Seq[ValueKind]): GroupIndex =
    maker(keyKinds, rowKinds)()

  private[streaming] val emptyW: IncrementalQuery.WMap =
    scala.collection.immutable.HashMap.empty

  // 2-bit value-code tags (shared scheme with the bitemporal BiPacked).
  private[streaming] final val TagDict = 0L
  private[streaming] final val TagInline = 1L
  private[streaming] final val TagNull = 2L

  /** Approximate heap cost of one interned dictionary value (payload +
    * HashMap entry + Vector slot). */
  private[streaming] def valBytes(x: Any): Long = 64L + (x match {
    case s: String => 40L + 2L * s.length
    case _         => 32L
  })
}

final case class BoxedGroups(m: IncrementalQuery.GMap) extends GroupIndex {
  def group(k: Seq[Any]): IncrementalQuery.WMap =
    m.getOrElse(k, GroupIndex.emptyW)

  def merged(deltas: Iterable[((Seq[Any], Seq[Any]), Long)]): GroupIndex = {
    var next = m
    deltas.foreach { case ((k, row), dw) =>
      if (dw != 0L) {
        val g = next.getOrElse(k, GroupIndex.emptyW)
        val nw = g.getOrElse(row, 0L) + dw
        val g2 = if (nw == 0L) g - row else g.updated(row, nw)
        next = if (g2.isEmpty) next - k else next.updated(k, g2)
      }
    }
    BoxedGroups(next)
  }

  def bytes: Long = m.size * 240L
}

final case class PackedGroups(
    runs: PackedRuns, kw: Int, rw: Int,
    side: IncrementalQuery.GMap,
    dictVals: Vector[Any] = Vector.empty,
    dictIds: HashMap[Any, Long] = HashMap.empty,
    dictBytes: Long = 0L) extends GroupIndex {

  import GroupIndex.{TagInline, TagNull, valBytes}

  private def decode(c: Long): Any = (c & 3L) match {
    case TagInline => c >> 2
    case TagNull   => null
    case _         => dictVals((c >>> 2).toInt)
  }

  /** READ-mode encode: inline longs and nulls always succeed; other
    * values resolve through the dictionary — an unknown value means no
    * packed record can match (returns false, caller serves the boxed
    * side only). Never mutates. */
  private def codesOf(xs: Seq[Any], out: Array[Long], at: Int): Boolean = {
    var i = 0
    val it = xs.iterator
    while (it.hasNext) {
      it.next() match {
        case null => out(at + i) = TagNull
        case l: Long if (l << 2 >> 2) == l => out(at + i) = (l << 2) | TagInline
        case other =>
          dictIds.get(other) match {
            case Some(id) => out(at + i) = id << 2
            case None     => return false
          }
      }
      i += 1
    }
    true
  }

  def group(k: Seq[Any]): IncrementalQuery.WMap = {
    val boxed = side.getOrElse(k, GroupIndex.emptyW)
    val keyArr = new Array[Long](kw)
    if (k.length != kw || !codesOf(k, keyArr, 0)) boxed
    else {
      var g = boxed
      runs.prefix(keyArr).foreach { case (rest, w) =>
        g = g.updated(rest.map(decode).toSeq, w)
      }
      g
    }
  }

  def merged(deltas: Iterable[((Seq[Any], Seq[Any]), Long)]): GroupIndex = {
    val buf = mutable.ArrayBuilder.make[Long]
    var sd = side
    var vals = dictVals
    var ids = dictIds
    var dBytes = dictBytes
    // WRITE-mode encode: interns unseen non-long values (grows the
    // per-instance dictionary once per distinct value).
    def code(x: Any): Long = x match {
      case null => TagNull
      case l: Long if (l << 2 >> 2) == l => (l << 2) | TagInline
      case other =>
        ids.get(other) match {
          case Some(id) => id << 2
          case None =>
            val id = vals.length.toLong
            vals = vals :+ other
            ids = ids.updated(other, id)
            dBytes += valBytes(other)
            id << 2
        }
    }
    deltas.foreach { case ((k, row), dw) =>
      if (dw != 0L) {
        if (k.length == kw && row.length == rw) {
          k.foreach(buf += code(_))
          row.foreach(buf += code(_))
          buf += dw
        } else {
          val g = sd.getOrElse(k, GroupIndex.emptyW)
          val nw = g.getOrElse(row, 0L) + dw
          val g2 = if (nw == 0L) g - row else g.updated(row, nw)
          sd = if (g2.isEmpty) sd - k else sd.updated(k, g2)
        }
      }
    }
    PackedGroups(runs.merged(buf.result()), kw, rw, sd, vals, ids, dBytes)
      .maybeCompactDict()
  }

  /** Amortized dictionary compaction. The interning dictionary is
    * append-only across merges, so a CHURNING value column (every
    * update retracts one distinct value and asserts a fresh one) would
    * otherwise accumulate dead entries without bound — unlike the boxed
    * trie, which frees values with their records. Live records can
    * reference at most stride·records distinct values; once the
    * dictionary provably exceeds twice that, re-encode the store
    * through a fresh dictionary. Post-compaction the dictionary is
    * ≤ stride·records, so the next trigger needs it to double again —
    * amortized O(1) per merged record. */
  private def maybeCompactDict(): PackedGroups = {
    val stride = kw + rw
    val n = runs.packedCount // raw (pre-net) records: a conservative bound
    if (dictVals.length <= 64 || dictVals.length.toLong <= 2L * n * stride)
      this
    else {
      var vals = Vector.empty[Any]
      var ids = HashMap.empty[Any, Long]
      var dBytes = 0L
      def recode(c: Long): Long = (c & 3L) match {
        case TagInline | TagNull => c
        case _ =>
          val x = dictVals((c >>> 2).toInt)
          ids.get(x) match {
            case Some(id) => id << 2
            case None =>
              val id = vals.length.toLong
              vals = vals :+ x
              ids = ids.updated(x, id)
              dBytes += valBytes(x)
              id << 2
          }
      }
      val buf = mutable.ArrayBuilder.make[Long]
      runs.iterator.foreach { case (rec, w) =>
        var i = 0
        while (i < stride) { buf += recode(rec(i)); i += 1 }
        buf += w
      }
      PackedGroups(PackedRuns.empty(stride).merged(buf.result()), kw, rw,
        side, vals, ids, dBytes)
    }
  }

  def bytes: Long = runs.bytes + side.size * 240L + dictBytes
}
