package graft.streaming

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.engine.Engine
import graft.model._

/** MAINTAINED bitemporal serving — standing queries over `Pair(sys,
  * event)` time (reference `src/timestamp/pair.rs`, exercised by
  * `tests/input_semantics.rs:337-508`), composing the bitemporal
  * frontier rules with [[IncrementalQuery]]:
  *
  *  - The DATOM HISTORY lives ONCE, at FINE times, in a [[BiStore]]:
  *    driver-resident only while under the broadcast byte gate, then
  *    migrated into a [[StateCell]]-backed distributed store
  *    ([[CellBiStore]]) — one [[BiPacked]] index per partition,
  *    hash-partitioned by view key. This matches the reference's split
  *    exactly: frontier bookkeeping is control-plane-sized and
  *    worker-local, the datoms live in distributed arrangements. The
  *    `graft.bi.driver.bytes` gate alone picks the sibling (a gate of 0
  *    starts distributed), and bulk frames always enter the
  *    distributed store.
  *  - Each newly completed pair time feeds only the VISIBLE-VIEW
  *    TRANSITIONS of the referenced attributes, resolved INCREMENTALLY
  *    from the store's time indexes — O(candidate keys of the toggled
  *    time slabs), never the round-9 O(history) rescan per time. The
  *    per-attribute input semantics (Raw clamp / Distinct support /
  *    LastWriteWins lex-latest winner — including winner REGRESSIONS
  *    the unitemporal forward-only LWW view could never express)
  *    resolve inside the view layer.
  *  - The QUERY is a standing [[IncrementalQuery]]; per-time dataflow
  *    work is delta-proportional, never the per-time snapshot recompute
  *    the test tree's `BiEngine` parity oracle pays.
  *  - Delivery follows BiEngine's lattice rule exactly: `diff(t) = R(t)
  *    − Σ_{s ≤ t} diff(s)` with `≤` the PRODUCT order. Because times
  *    are processed in lex order, every ledger entry `s` emitted before
  *    a query `t` already satisfies `s.sys ≤ t.sys`, so product-order
  *    dominance over the ledger reduces to `s.event ≤ t.event` — the
  *    ledger COMPACTS EXACTLY into an event-indexed map (entries at
  *    equal event coordinates merge), and an accumulation is one range
  *    scan of the entries at events ≤ t.event, not the round-9
  *    O(processed times) full-ledger sweep.
  *  - TWO delivery edges, chosen per interest (the unitemporal engine's
  *    split): [[interest]] accumulates R/ledger as driver maps and
  *    buffers drains — right for control-plane-sized results, capped
  *    loudly (`graft.bi.out.cap`); [[interestSink]] keeps R and the
  *    ledger as DISTRIBUTED checkpointed frames, runs the same lattice
  *    rule as a full-outer merge per time, and streams each time's
  *    diffs to a [[graft.sinks.DiffSink]] — nothing result-sized ever
  *    lands on the driver (`BiSinkDeliverySpec`: 1.2M-row standing with
  *    a control-plane driver, multiset parity with the collected path).
  *  - [[uninterest]] tears a standing down; a lane whose last member
  *    leaves is GC'd — emitted view freed in the store, lattice
  *    dropped, pruning/compaction bounds released (`BiTeardownSpec`).
  *    Memberless lanes (the first-transact ingest default) are GC'd at
  *    advance and never pin compaction at Long.MinValue.
  *  - Optional COARSEN granularities (the reference's `Coarsen`,
  *    `src/timestamp/mod.rs:144-184`) round each input time STRICTLY up
  *    to the next `(sys, event)` window bound (`(t/w + 1)·w`, even at
  *    exact multiples), bounding the time lattice, the ledger and the
  *    delivery chatter on dense histories. Every granularity in use is
  *    a LANE over the ONE shared store — per-lane state is only the
  *    coarse time lattice, the last processed time, and an output-sized
  *    emitted view inside the store; a lane's transition at coarse `T`
  *    evaluates the shared fine history at `T` (the visible aggregate
  *    is a pure function of the history and the query time). That is
  *    the reference's shape — `Interest.granularity` coarsens each
  *    interest's DELIVERY over one shared domain trace
  *    (`server/src/main.rs:455-462`) — and it lets a NEW granularity
  *    attach at ANY time: a late lane reconstructs its lattice from the
  *    history and replays the already-completed times.
  *
  * `BiMaintainedSpec`-pinned parity: for any signed bitemporal history
  * and any advance schedule, `drain` equals BiEngine's drain
  * multiset-exactly — on BOTH store siblings. */
class BiMaintained(val spark: SparkSession, partitions: Int = 32,
    coarsen: Option[(Long, Long)] = None,
    // Trace-compaction slack (reference trace_slack): explicit per
    // instance, falling back to the global `-Dgraft.bi.slack` dial when
    // unset. None on both = never compact (history immortal).
    slack: Option[Long] = None) {
  import BiMaintained.GroupedTuple

  type BiTimePair = (Long, Long)

  final case class BiDatom(e: Value, a: String, v: Value, t: BiTimePair, diff: Long)

  private val configs = mutable.LinkedHashMap.empty[String, AttributeConfig]
  private val firstKind = mutable.Map.empty[String, ValueKind]
  private val rules = mutable.LinkedHashMap.empty[String, Rule]
  private val interests = mutable.LinkedHashSet.empty[String]
  private var sysFrontier: Long = 0L
  /** The open system-time frontier (next writable sys) — the wire's
    * `Tick` advances to `frontier + 1` (`Request::Tick`, mirroring the
    * unitemporal `Engine`'s rule). */
  def frontier: Long = sysFrontier
  private var seqCounter: Long = 0L
  private var eventWatermark: Long = Long.MinValue

  /** Declare the EVENT-axis watermark: no future transact will write a
    * datom with `event < bound` (enforced loudly on every ingest path).
    * This is the event mirror of `advance`'s sys frontier, and it is
    * what makes delivery-ledger compaction SOUND: ledger entries are
    * distinguished only by `event ≤ t.event` range tests against future
    * query times, and future times' events come from future datoms —
    * so only a declared bound (the reference's frontier-driven
    * compaction discipline) can license collapsing entries at dominated
    * event coordinates into one. Entries at events ≤
    * `min(coarse(bound), min pending event)` then merge at the bound at
    * the next consolidation, and the ledger plateaus under monotone
    * churn instead of growing with distinct event coordinates
    * (`BiSinkDeliverySpec`). Unset (the default): the ledger keeps
    * every event coordinate forever — exact, no assumption. */
  def advanceEvent(bound: Long): Unit = {
    require(bound >= eventWatermark,
      s"cannot rewind the event watermark from $eventWatermark to $bound")
    eventWatermark = bound
  }

  /** Driver-store byte gate. Unlike the closure maintainer's driver
    * index (which is BROADCAST — shipped to every executor per job),
    * the driver bitemporal store is never shipped: only delta-sized
    * transition frames leave it. The bound therefore prices driver
    * HEAP, not broadcast traffic, and defaults to 64 MB
    * (`-Dgraft.bi.driver.bytes` overrides; a gate ≤ 0 admits nothing,
    * so the history starts distributed). */
  private def driverGateBytes: Long =
    sys.props.get("graft.bi.driver.bytes").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)

  /** THE history store — one fine-grained copy shared by every lane:
    * driver-resident under the byte gate, then migrated distributed
    * (sticky). */
  private var store: BiStore =
    if (driverGateBytes <= 0L) new CellBiStore(spark, partitions)
    else new DriverBiStore(spark)

  private def maybeMigrate(): Unit = store match {
    case d: DriverBiStore if d.estimatedBytes > driverGateBytes => migrate(d)
    case _ => ()
  }

  private def migrate(d: DriverBiStore): CellBiStore = {
    val cell = new CellBiStore(spark, partitions)
    cell.plant(d.vis.split(partitions))
    store = cell
    cell
  }

  /** One Coarsen LANE per distinct delivery granularity in use — the
    * reference lets every Interest request its own granularity
    * (`Interest.granularity`, `src/server/mod.rs:110-119`) and applies
    * `Coarsen` to that interest's own delivery over the shared trace.
    * A lane is CONTROL-PLANE state only: its coarse unprocessed time
    * lattice (processed times leave it — transact rejects writes under
    * the sys frontier, so a completed time can never recur) and the
    * last processed time; the datom history is never duplicated. */
  private final class Lane(val id: Int, val win: Option[(Long, Long)]) {
    val pendingTimes = mutable.SortedSet.empty[BiTimePair]
    var lastProcessed: Option[BiTimePair] = None
    val members = mutable.LinkedHashSet.empty[String]
    // Attributes this lane's emitted view has been maintained for (lazy
    // per-attribute views, round 17): transitions aggregate ONLY the
    // attributes some attached standing reads; a newly-demanded
    // attribute is backfilled from history at its first appearance.
    // Bounded by the LIVE demand set at uninterest (round 18): when a
    // member detaches, attributes no remaining member reads are dropped
    // past the `graft.bi.covered.slack` allowance — re-demand pays one
    // prefix-ranged backfill instead of every advance paying for the
    // unread attribute.
    val covered = mutable.Set.empty[String]

    def winSys: Long = win.map(_._1).getOrElse(0L)

    def coarseTime(t: BiTimePair): BiTimePair = win match {
      case None           => t
      case Some((ws, we)) => (BiTime.coarse(t._1, ws), BiTime.coarse(t._2, we))
    }

    /** Last processed FINE sys bound — the lane's next sys slab starts
      * strictly above it; MinValue before the first processed time. */
    def processedBound: Long =
      lastProcessed.map(lp => BiTime.visBound(lp._1, winSys))
        .getOrElse(Long.MinValue)
  }
  private val lanes = mutable.LinkedHashMap.empty[Option[(Long, Long)], Lane]
  // Monotonic lane ids: a GC'd lane's id is NEVER reused, so a stale
  // emitted view (had dropLane raced or failed) can never leak into a
  // fresh lane's replay dump.
  private var laneIdCounter: Int = 0
  private def laneOf(win: Option[(Long, Long)]): Lane =
    lanes.getOrElseUpdate(win, {
      laneIdCounter += 1
      new Lane(laneIdCounter - 1, win)
    })

  def createAttribute(name: String, config: AttributeConfig = AttributeConfig()): Unit =
    configs(name) = config

  def register(rule: Rule): Unit = rules(rule.name) = rule

  /** Probe: the plan registered under `name`, if any — the wire layer's
    * Subscribe/Derive collision guards read it before registering their
    * implicit rules, so an implicit standing can never silently join or
    * overwrite an unrelated same-named user rule. */
  def registeredPlan(name: String): Option[graft.model.Plan] =
    rules.get(name).map(_.plan)

  /** Column kinds of a standing's result, once its query has built —
    * the wire layer's per-client sinks (AssocIn / JsonDoc) re-tag
    * collected natives with them: an entity column must come back as an
    * Eid (AssocIn's path-key parsing rejects untagged numbers), exactly
    * like the unitemporal `Engine.kindsFor`. */
  def resultKinds(name: String): Option[Seq[ValueKind]] =
    standings.get(name).flatMap(st => Option(st.iq)).map(_.outputKinds)

  /** Whether `name`'s result tuples are packed pull paths (one
    * array<variant> cell per row) — the explicit serde marker the wire
    * layer consults before expanding (the uni `Engine.isPathArrayResult`
    * twin; never inferred from payload shape). */
  def isPathArrayResult(name: String): Boolean =
    standings.get(name).flatMap(st => Option(st.iq))
      .exists(_.outputIsPathArray)

  // Derived-attribute defining plans (binary head: entity var, value
  // var) — recorded by `derive`, inlined into each Standing's plan at
  // attach (`DerivedViews.inline`), exactly like the unitemporal
  // maintained path. There is no bitemporal snapshot fallback, so
  // derived usages outside plain MatchA reject loudly at attach.
  private val derivedPlans =
    mutable.Map.empty[String, (graft.model.Plan, Seq[Int])]

  /** `Request::Derive` in the bitemporal domain — the reference server
    * loop is timestamp-generic (`src/server/mod.rs:158-160`,
    * `src/derive/graphql.rs`): the GraphQL document's pull plan
    * registers as rule `ns` (the caller attaches interest like any
    * standing), and each pulled path becomes a derived attribute
    * `ns/attr` usable in later-registered rules' `MatchA` scans.
    * ORDER MATTERS: derive BEFORE attaching a standing that scans
    * `ns/attr` — a Standing inlines the derived plans known at its
    * attach; re-deriving the same document is idempotent. */
  def derive(ns: String, query: String): Unit = {
    val plan = graft.plans.GraphQl.plan(query)
    val views = graft.plans.DerivedViews.pathViews(ns, query)
    // ALL checks before ANY mutation — a failed derive must leave no
    // half-applied state (no registered ns rule, no subset of the
    // document's derived attributes live).
    registeredPlan(ns).foreach { p =>
      if (p != plan) scala.sys.error(
        s"derive namespace '$ns' collides with a registered rule of the " +
          "same name; rename the rule or the namespace")
    }
    // A standing that attached BEFORE this derive snapshot the
    // attribute as a plain (kind-unknown, forever-empty) scan —
    // silently serving nothing. Loud is the only correct answer:
    // the caller must derive first, then attach.
    val stale = views.flatMap { case (name, _, _, _) =>
      standings.collect {
        case (sn, st) if st.refAttrs.contains(name) => s"$sn (scans $name)"
      }
    }
    if (stale.nonEmpty) scala.sys.error(
      s"standing(s) ${stale.mkString(", ")} already scan derived " +
        "attributes as plain attributes; derive before attaching " +
        "interest (uninterest, derive, re-attach)")
    register(Rule(ns, plan))
    views.foreach { case (name, _, viewPlan, head) =>
      derivedPlans(name) = (viewPlan, head)
    }
  }

  // Inputs closed via `Request::CloseInput` — the reference's sources
  // and sessions are timestamp-generic, so the close applies in the bi
  // domain exactly as unitemporally: later writes to the attribute are
  // conflicts, enforced inside each ingest path's all-or-nothing
  // validation window (a batch carrying one closed attribute mutates
  // nothing).
  private val closedInputs = mutable.Set.empty[String]
  def closeInput(name: String): Unit = closedInputs += name

  /** Express interest at the instance default granularity. */
  def interest(name: String): Unit = interest(name, coarsen)

  /** Express interest with a PER-INTEREST delivery granularity
    * (`Interest.granularity`): the standing attaches to the Coarsen
    * lane of `granularity`, independent of every other interest's —
    * two rules (or two subscribers via distinct rule names) at
    * different granularities each get their own coarsened lattice. A
    * granularity NEW to the instance may attach at ANY time: its lane
    * reconstructs the coarse lattice from the shared history and
    * replays the already-completed times, draining exactly what an
    * up-front lane would have (the reference's late-interest replay
    * over its shared traces). */
  def interest(name: String, granularity: Option[(Long, Long)]): Unit =
    attach(name, granularity, None)

  /** Express interest with DataFrame delivery to `sink` — the
    * DATA-SIZED standing-result path (mirror of the unitemporal
    * `Engine.interestIncrementalSink`): the accumulated result R(t) and
    * the product-order delivery ledger live as DISTRIBUTED frames
    * (checkpointed per advance), the lattice accumulation
    * `diff(t) = R − Σ_{event ≤ t.event} ledger` runs as one distributed
    * merge per processed time, and each time's diffs reach the sink as
    * a DataFrame with columns `c0..cn, _t (sys), _event, _diff` —
    * nothing result-sized is ever collected on the driver. `drain`
    * stays empty for sink-delivered standings. Per-time cost: on a
    * MONOTONE event schedule (each delivered time's event covers the
    * ledger) diff(t) reduces to the deltas accumulated since the last
    * deliver, so the fast path delivers O(delta) directly — the
    * O(|R| + |ledger|) full-outer merge runs only at the first deliver,
    * at genuine product-order regressions (a processed time whose event
    * undercuts a delivered one), and as an amortized segment fold every
    * `graft.bi.sink.segcap` fast delivers. */
  def interestSink(name: String, sink: graft.sinks.DiffSink,
      granularity: Option[(Long, Long)]): Unit =
    attach(name, granularity, Some(sink))

  def interestSink(name: String, sink: graft.sinks.DiffSink): Unit =
    interestSink(name, sink, coarsen)

  private def attach(name: String, granularity: Option[(Long, Long)],
      sink: Option[graft.sinks.DiffSink]): Unit = {
    require(rules.contains(name), s"unknown rule $name")
    standings.get(name) match {
      case Some(st) =>
        require(st.lane.win == granularity,
          s"interest '$name' is already attached to granularity ${st.lane.win}")
        require(st.sink == sink,
          s"interest '$name' is already attached with a different sink")
      case None =>
        // A lane is FRESH for replay purposes when it is new to the
        // instance OR exists memberless (the ingest-validation default a
        // transact just created): memberless lanes never process times
        // (advance GCs them), so their lattice covers only the latest
        // unadvanced batch — the first member must rebuild it from the
        // shared history and replay the already-completed times.
        val isFreshLane = lanes.get(granularity).forall(_.members.isEmpty)
        val lane = laneOf(granularity)
        val st = new Standing(name, lane, sink)
        standings(name) = st
        lane.members += name
        if (isFreshLane && seqCounter > 0L) {
          // Late lane: rebuild its lattice from the shared history and
          // replay the times the frontier has already completed, in lex
          // order — byte-identical to an up-front lane's drains.
          lane.pendingTimes.clear()
          lane.pendingTimes ++= store.coarseTimes(granularity)
          val done = lane.pendingTimes.iterator
            .takeWhile(_._1 < sysFrontier).toSeq
          processTimes(Seq((lane, done, Seq(name))), semResolver)
        }
    }
    interests += name
  }

  /** Withdraw a standing's interest (reference teardown when the last
    * client leaves, `src/server/mod.rs:276-281` / ShutdownHandle
    * `src/lib.rs:287-337`; the unitemporal mirror is
    * `Engine.uninterest`): the standing's query state, result frames,
    * and buffered deliveries drop, and when the LAST member leaves a
    * lane the lane itself is torn down — its emitted view frees in the
    * shared store ([[BiStore.dropLane]]), its pending-time lattice
    * vanishes, and it stops pinning sys-index pruning and trace
    * compaction ([[maybeCompact]] reads only live member lanes). A
    * later `interest` at the same granularity reconstructs the lattice
    * from the shared history and replays (the late-attach path). The
    * wire layer serves the unitemporal engine only, so bi teardown is
    * this API call. */
  def uninterest(name: String): Unit =
    standings.remove(name).foreach { st =>
      interests -= name
      streamPendingOut.filterInPlace { case ((_, n), _) => n != name }
      val lane = st.lane
      lane.members -= name
      if (lane.members.isEmpty) {
        lanes.remove(lane.win)
        if (lane.lastProcessed.nonEmpty) store.dropLane(lane.id)
      } else {
        // Bound `covered` by the LIVE demand set (r17 VERDICT #5): an
        // attribute no remaining member reads would otherwise keep
        // being maintained until lane GC — at scale, churning standings
        // would quietly re-create the eager per-advance cost the lazy
        // views removed. Shrinking accepts one prefix-ranged backfill
        // on re-demand (the emitted view's stale rows are upserted
        // against history there; replay dumps filter by refAttrs, so
        // they are unreadable in between). `graft.bi.covered.slack` is
        // a HYSTERESIS threshold, not a retained count: while the stale
        // set stays at or under it nothing shrinks (flappy single
        // detach/re-attach cycles keep their maintenance); once it is
        // exceeded, the WHOLE stale set drops (default 0: always
        // shrink). Malformed values read as 0 — a teardown must never
        // throw halfway.
        val live: Set[String] =
          lane.members.iterator.flatMap(n => standings(n).refAttrs).toSet
        val stale = lane.covered.toSet -- live
        val slack = sys.props.get("graft.bi.covered.slack")
          .flatMap(_.toIntOption).getOrElse(0)
        if (stale.size > slack) lane.covered --= stale
      }
    }

  private def semanticsOf(a: String): InputSemantics =
    configs.getOrElse(a, AttributeConfig()).inputSemantics

  private def semResolver: BiTime.Sem = {
    val m: Map[String, InputSemantics] = configs.iterator
      .map { case (a, c) => a -> c.inputSemantics }.toMap
    a => m.getOrElse(a, InputSemantics.Raw)
  }

  def transact(datoms: Seq[BiDatom]): Unit = {
    // All-or-nothing: validate EVERY datom's (coarsened) system time
    // against the frontier — on EVERY lane — before touching any driver
    // state, so a rejected batch leaves no phantom pending times,
    // sequence numbers, or partially registered attribute kinds behind
    // (round-10 ADVICE). Ingest defaults to the instance lane when no
    // interest has declared one yet.
    if (lanes.isEmpty) { val _ = laneOf(coarsen) }
    val laneSeq = lanes.valuesIterator.toSeq
    for (d <- datoms) require(!closedInputs(d.a), s"input ${d.a} is closed")
    for (d <- datoms; lane <- laneSeq) {
      val ct = lane.coarseTime(d.t)
      require(ct._1 >= sysFrontier,
        s"write at closed system time ${ct._1}: frontier at $sysFrontier")
    }
    if (eventWatermark != Long.MinValue) for (d <- datoms)
      require(d.t._2 >= eventWatermark,
        s"write at event time ${d.t._2} under the declared event " +
          s"watermark $eventWatermark")
    val recs = datoms.map { d =>
      configs.getOrElseUpdate(d.a, AttributeConfig())
      if (!firstKind.contains(d.a)) firstKind(d.a) = ValueKind.of(d.v)
      seqCounter += 1L
      val lww = semanticsOf(d.a) == InputSemantics.LastWriteWins
      val key =
        if (lww) BiKey(d.a, d.e.native, null)
        else BiKey(d.a, d.e.native, d.v.native)
      (key, BiRec(d.t._1, d.t._2, seqCounter, d.diff,
        if (lww) d.v.native else null))
    }
    for (lane <- laneSeq; d <- datoms) lane.pendingTimes += lane.coarseTime(d.t)
    if (recs.nonEmpty) { store.ingest(recs); maybeMigrate() }
  }

  private def kindOf(a: String): ValueKind =
    firstKind.getOrElse(a, ValueKind.KString)

  /** Bulk DATA-SIZED bitemporal ingest of ONE attribute's versioned
    * history — the bitemporal analog of [[graft.domain.Domain]]'s
    * `registerStatic` bulk path, and the maintained mirror of the
    * reference's sources feeding attribute streams into the dataflow
    * without a client round-trip (`src/sources/mod.rs:47-64`). `df` has
    * columns `(e LONG, v <attr type>, sys LONG, event LONG, diff
    * LONG)`. See [[transactFrame]] for the execution shape. */
  def registerHistory(a: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    transactFrame(df.select(col("e"), lit(a).as("a"), col("v"),
      col("sys"), col("event"), col("diff")))
  }

  /** Attach a FILE SOURCE to this bitemporal domain — the bi-domain
    * route for `Request::RegisterSource` (the reference's sources are
    * timestamp-generic, `src/sources/mod.rs:47-64`, and RegisterSource
    * works in whatever domain the server hosts, `src/server/mod.rs:171`
    * — mirrored here so the fully distributed bulk-ingest edge is
    * client-drivable over the wire). The whole source enters as ONE
    * mixed-kind [[transactFrame]] — one scan, one all-or-nothing
    * transact even across attributes of different kinds: SYSTEM time is
    * the current frontier (the registration lands "now" — the bi
    * mirror of the unitemporal `notePending(frontier)` rule), EVENT
    * time comes from the CSV's `timestamp_offset` column when declared
    * (else 0: valid since the epoch), diff +1. Attributes NEW to the
    * domain register with Distinct semantics and the schema's declared
    * kind (KEid survives the LONG-typed frame), exactly as the
    * reference's CSV sources do (`csv_file.rs:204-212`); a REJECTED
    * source (kind conflict, malformed cells, closed times) rolls those
    * registrations back and ingests nothing. Nothing data-sized lands
    * on the driver ([[frameIngestProbe]] pins it). */
  def registerSource(source: graft.sources.FileSources.Source): Unit = {
    import graft.sources.FileSources
    val (frame, attrKinds) = source match {
      case csv: FileSources.CsvFile =>
        FileSources.sourceCsvBiFrame(spark, csv, sysFrontier)
      case js: FileSources.JsonFile =>
        FileSources.sourceJsonBiFrame(spark, js, sysFrontier)
      case pq: FileSources.ParquetFile =>
        FileSources.sourceParquetBiFrame(spark, pq, sysFrontier)
    }
    // Pre-register semantics + declared kinds (they must be visible to
    // the ingest: semantics pick the store keys, the declared kind
    // keeps KEid from degrading to KNumber) — but keep the
    // all-or-nothing rule: a rejected frame must not leave phantom
    // registrations, so additions roll back on ANY failure.
    // transactFrame itself mutates nothing until every validation pass
    // held.
    val addedConfigs = attrKinds.collect {
      case (aid, _) if !configs.contains(aid) => aid
    }
    val addedKinds = attrKinds.collect {
      case (aid, _) if !firstKind.contains(aid) => aid
    }
    try {
      for ((aid, kind) <- attrKinds) {
        configs.getOrElseUpdate(aid, AttributeConfig(InputSemantics.Distinct))
        if (!firstKind.contains(aid)) firstKind(aid) = kind
      }
      transactFrame(frame)
    } catch {
      case t: Throwable =>
        addedConfigs.foreach(configs -= _)
        addedKinds.foreach(firstKind -= _)
        throw t
    }
  }

  /** Bulk DATA-SIZED bitemporal ingest: one transact whose datom batch
    * is a DataFrame `(e LONG, a STRING, v <type>, sys LONG, event LONG,
    * diff LONG)` — a 100 TB versioned-fact backfill enters the
    * distributed store WITHOUT ever serializing through a driver `Seq`.
    * `v` is either ONE scalar column (LONG / STRING / BOOLEAN / DOUBLE)
    * or, for a heterogeneous backfill, a MIXED-KIND struct with one
    * nullable field per kind carried (`s` STRING, `n` LONG, `b`
    * BOOLEAN, `r` DOUBLE; exactly one non-null per row) — one frame
    * then transacts string and numeric attributes together.
    * Execution shape (nothing data-sized on the driver):
    *
    *  - CONTROL-PLANE passes: the distinct attribute list (bounded by
    *    the schema) and, per Coarsen lane, the distinct COARSE time
    *    lattice — computed distributed ([[BiTime.coarse]] inside the
    *    map) and collected only at lattice size. Frontier validation is
    *    the lattice's min coarse sys against `sysFrontier`, checked
    *    BEFORE any state mutates (the all-or-nothing transact rule). A
    *    windowless lane's lattice is the distinct FINE times — capped
    *    loudly (`-Dgraft.bi.lattice.cap`, default 1M): a dense history
    *    needs a Coarsen granularity, which is exactly what the
    *    reference's `Coarsen` exists for.
    *  - SEQUENCE NUMBERS ride `zipWithIndex` (per-partition numbering +
    *    the batch's base offset — distributed, deterministic). Within
    *    one frame, LWW ties at an identical fine `(sys, event)` resolve
    *    by that frame order — deterministic but unspecified; real
    *    backfills carry distinct times per key.
    *  - INGEST is one shuffle onto the store's view-key partitioning
    *    ([[CellBiStore.ingestRdd]]); a driver-resident store migrates
    *    distributed FIRST (a bulk frame declares data-sized intent —
    *    the byte gate exists to bound driver heap, which a frame-sized
    *    history would blow through anyway).
    *
    * Cost: 2 narrow scans of `df` (lattice, zip sizing) + 1 scan into
    * the ingest shuffle; per-partition ingest work is the same
    * structural-sharing [[BiPacked.ingest]] every transact runs. Drain
    * parity with the `Seq` path is `BiFrameIngestSpec`-pinned across
    * the semantics × plan zoo. */
  def transactFrame(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val need = Seq("e", "a", "v", "sys", "event", "diff")
    require(need.forall(df.columns.contains),
      s"transactFrame needs columns $need, got ${df.columns.toSeq}")
    val frame = df.select(need.map(col): _*)
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType}
    for (c <- Seq("e", "sys", "event", "diff"))
      require(frame.schema(c).dataType == LongType,
        s"transactFrame column $c must be LONG, got ${frame.schema(c).dataType}")
    require(frame.schema("a").dataType == StringType,
      s"transactFrame column a must be STRING")
    val vType = frame.schema("v").dataType
    // Scalar frames carry ONE v kind. A MIXED-KIND frame (heterogeneous
    // backfill: string + numeric attributes in one transact) declares
    // `v` as a STRUCT with one nullable field per kind it carries —
    // `s` STRING, `n` LONG, `b` BOOLEAN, `r` DOUBLE — exactly one
    // non-null per row (validated distributed, inside the all-or-
    // nothing window, by the same schema-bounded distinct pass that
    // registers attributes). Both shapes share the single snapshot,
    // lattice/frontier passes and the one ingest shuffle.
    // ONE classification of the v column: Right(kind) for a scalar
    // frame, Left(struct field names) for mixed-kind — the kind
    // vocabulary lives in kindOfLabel alone, shared by both shapes.
    val kindOfLabel = Map[String, ValueKind](
      "s" -> ValueKind.KString, "n" -> ValueKind.KNumber,
      "b" -> ValueKind.KBool, "r" -> ValueKind.KReal)
    val classified: Either[Seq[String], ValueKind] = vType match {
      case st: org.apache.spark.sql.types.StructType =>
        val fs = st.fields.toSeq.map { f =>
          kindOfLabel.get(f.name) match {
            case Some(k) =>
              require(f.dataType == k.dataType,
                s"mixed-kind v field ${f.name} must be ${k.dataType}, " +
                  s"got ${f.dataType}")
              f.name
            case None => throw new IllegalArgumentException(
              s"mixed-kind v field ${f.name} is not one of " +
                kindOfLabel.keys.toSeq.sorted.mkString("/"))
          }
        }
        require(fs.nonEmpty, "mixed-kind v struct has no fields")
        Left(fs)
      case dt =>
        kindOfLabel.values.find(_.dataType == dt) match {
          case Some(k) => Right(k)
          case None => throw new IllegalArgumentException(
            s"transactFrame v type $dt is not a bitemporal scalar kind")
        }
    }
    val mixedFields: Option[Seq[String]] = classified.left.toOption
    val scalarKind: Option[ValueKind] = classified.toOption
    if (lanes.isEmpty) { val _ = laneOf(coarsen) }
    val laneSeq = lanes.valuesIterator.toSeq

    // ONE snapshot for every pass: the validation passes and the ingest
    // must observe the SAME rows, so a non-deterministic input (sample,
    // limit, changing source files, a retried shuffle stage) cannot
    // validate one row set and ingest another — and the later passes
    // read cache instead of rescanning the source.
    frame.persist()
    try {

    // Per-lane coarse lattices (distributed; collected at lattice size)
    // — also the frontier validation input, so it runs before ANY
    // driver state mutates.
    val fineTimes = frame.select("sys", "event").rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    val laneTimes: Seq[(Lane, Array[(Long, Long)])] = laneSeq.map { lane =>
      val w = lane.win
      val lat = w match {
        case None => fineTimes
        case Some((ws, we)) =>
          fineTimes.map(t => (BiTime.coarse(t._1, ws), BiTime.coarse(t._2, we)))
      }
      lane -> BiStore.cappedLatticeCollect(lat, w, "bulk-ingest")
    }
    if (laneTimes.headOption.forall(_._2.isEmpty)) {
      // Empty frame: nothing ingests — reset the probe so a read after
      // this call reports THIS call's (zero) driver materialization,
      // not a stale predecessor's.
      frameIngestProbe = Map(
        "datoms" -> 0L, "driverLatticeRows" -> 0L, "driverAttrRows" -> 0L)
      return
    }
    for ((lane, times) <- laneTimes) {
      val minSys = times.iterator.map(_._1).min
      require(minSys >= sysFrontier,
        s"write at closed system time $minSys: frontier at $sysFrontier")
    }
    if (eventWatermark != Long.MinValue) {
      val minEv = fineTimes.map(_._2).min()
      require(minEv >= eventWatermark,
        s"write at event time $minEv under the declared event " +
          s"watermark $eventWatermark")
    }

    // Attribute registration (distinct (attr, kind) list — bounded by
    // schema × kinds). Validate EVERY attribute's kind before
    // registering ANY — the all-or-nothing rule extends to the
    // attribute catalog: a frame rejected on its second attribute must
    // not leave the first behind as a phantom registration. In mixed
    // mode the SAME pass proves each row carries exactly one non-null
    // kind field and each attribute exactly one kind.
    val attrKinds: Map[String, ValueKind] = mixedFields match {
      case None =>
        frame.select("a").distinct().rdd.map(_.getString(0)).collect()
          .iterator.map(a => a -> scalarKind.get).toMap
      case Some(fs) =>
        import org.apache.spark.sql.functions.{coalesce, lit, when}
        val nonNull = fs.map(f =>
          when(col(s"v.$f").isNotNull, 1).otherwise(0)).reduce(_ + _)
        val label = when(nonNull === 1, coalesce(fs.map(f =>
          when(col(s"v.$f").isNotNull, lit(f))): _*)).otherwise(lit("!"))
        val pairs = frame.select(col("a"), label.as("k")).distinct().rdd
          .map(r => (r.getString(0), r.getString(1))).collect()
        for ((a, k) <- pairs) require(k != "!",
          s"mixed-kind frame has rows for attribute $a without exactly " +
            "one non-null v field")
        val byAttr = pairs.groupBy(_._1)
        for ((a, ks) <- byAttr) require(ks.length == 1,
          s"attribute $a carries ${ks.length} v kinds in one frame: " +
            ks.map(_._2).sorted.mkString(", "))
        byAttr.iterator.map { case (a, ks) => a -> kindOfLabel(ks.head._2) }
          .toMap
    }
    for ((a, _) <- attrKinds)
      require(!closedInputs(a), s"input $a is closed")
    for ((a, k) <- attrKinds) firstKind.get(a).foreach(k0 =>
      require(k0.dataType == k.dataType,
        s"attribute $a already registered with kind $k0; frame carries $k"))
    for ((a, k) <- attrKinds) {
      configs.getOrElseUpdate(a, AttributeConfig())
      if (!firstKind.contains(a)) firstKind(a) = k
    }
    val attrs: Array[String] = attrKinds.keys.toArray

    // A bulk frame is data-sized by declaration: route through the
    // distributed store, migrating a driver-resident history first.
    val cellS = store match {
      case c: CellBiStore   => c
      case d: DriverBiStore => migrate(d)
    }
    val lwwAttrs: Set[String] = attrs.iterator
      .filter(a => semanticsOf(a) == InputSemantics.LastWriteWins).toSet
    val base = seqCounter
    // For LWW frames, sequence numbers order by FINE (sys, event)
    // WITHIN EACH KEY — so on a Coarsen lane (including one attached
    // LATER) the winner between same-key facts in one coarse cell is
    // the latest FINE time: what a sequential fine-grained transact
    // stream would have produced, deterministic regardless of
    // partition/file order. Per-KEY order is all LWW resolution ever
    // observes ([[BiTime.lwwGreater]] compares seq only between records
    // of ONE BiKey, and a key never splits across partitions under the
    // hash repartition), so a hash exchange + per-partition sort
    // suffices where a global `orderBy` would pay a range-partitioned
    // total sort (sampling pass + skew-sensitive range exchange — the
    // documented ~2× LWW ingest cost, retired round 15). Ties at an
    // IDENTICAL fine (sys, event) remain partition-order arbitrary
    // (real backfills carry distinct times per key). Raw and Distinct
    // semantics never observe seq order across distinct times, so
    // non-LWW frames skip the exchange entirely.
    import org.apache.spark.sql.functions.col
    val ordered =
      if (lwwAttrs.nonEmpty)
        frame.repartition(partitions, col("a"), col("e"))
          .sortWithinPartitions(col("a"), col("e"), col("sys"), col("event"))
      else frame
    val mixN = mixedFields.map(_.size).getOrElse(0)
    val recs = ordered.rdd.zipWithIndex()
      .map { case (row, i) =>
        val a = row.getString(1)
        val e = row.getLong(0)
        val v: Any =
          if (mixN == 0) row.get(2)
          else {
            // Mixed mode: the row's value is its single non-null
            // struct field (exactly-one pinned by the attrKinds pass).
            val s = row.getStruct(2)
            var j = 0; var out: Any = null
            while (j < mixN && out == null) {
              if (!s.isNullAt(j)) out = s.get(j)
              j += 1
            }
            out
          }
        val lww = lwwAttrs.contains(a)
        val key = if (lww) BiKey(a, e, null) else BiKey(a, e, v)
        (key, BiRec(row.getLong(3), row.getLong(4), base + 1L + i,
          row.getLong(5), if (lww) v else null))
      }
    val n = cellS.ingestRdd(recs)
    seqCounter += n
    for ((lane, times) <- laneTimes) lane.pendingTimes ++= times
    frameIngestProbe = Map(
      "datoms" -> n,
      "driverLatticeRows" -> laneTimes.iterator.map(_._2.length.toLong).sum,
      "driverAttrRows" -> attrs.length.toLong)

    } finally { val _ = frame.unpersist(blocking = false) }
  }

  /** Spec probe: the last [[transactFrame]]'s ingested datom count vs
    * what actually landed on the driver (per-lane coarse-lattice rows +
    * the distinct attribute list) — pins the zero-driver-
    * materialization claim for the bulk edge. */
  private[graft] var frameIngestProbe: Map[String, Long] = Map.empty

  /** STREAMING data-sized bitemporal ingest: drive a Structured
    * Streaming frame of versioned facts (columns `e, a, v, sys, event,
    * diff`) through [[transactFrame]] per micro-batch — the one
    * bitemporal stream loop. There is no control-size gate: batches
    * enter the distributed store directly and never land on the
    * driver. System time rides arrival order and must be strictly
    * increasing across micro-batches (the closed-time contract —
    * violations fail loudly inside transactFrame); each batch advances
    * the frontier past its max sys and hands every standing's drained
    * diffs to `onDiffs` (sink-delivered standings deliver through their
    * sinks instead, with `drain` empty by design).
    *
    * Coarsen lanes: the auto-advance to `maxSys + 1` may land mid
    * coarse bucket — that is SAFE here because [[BiTime.coarse]] rounds
    * strictly UP (`(t/w + 1)·w`), so any later fine sys `s` maps to a
    * coarse bound `> s ≥ maxSys + 1` and transactFrame's frontier check
    * (which compares COARSE times on windowed lanes) never rejects a
    * batch that honored the increasing-sys contract; a bucket only
    * delivers once a later batch (or an explicit [[advance]]) carries
    * the frontier past its bound — the usual windowed-stream finality
    * rule (`BiFrameIngestSpec` pins the mid-bucket boundary case).
    *
    * Delivery is AT-LEAST-ONCE: drained diffs move to a per-standing
    * pending buffer that clears only after its `onDiffs` call returns,
    * so a callback failure leaves them buffered and the retried batch
    * re-delivers them (possibly duplicated if the failure hit after the
    * callback's side effects — the standard at-least-once contract).
    *
    * RESTART contract: the ingest replay guard (`streamBatchSeen`) and
    * the pending delivery buffers are IN-MEMORY — they cover Spark's
    * within-session foreachBatch retries, not a driver restart. Across
    * a restart a fresh engine starts a fresh history and the stream's
    * own checkpoint replays its source from the beginning, rebuilding
    * state from scratch (the reference's memory-resident server,
    * `server/src/main.rs`). An
    * embedder needing exactly-once ingest across restarts must persist
    * `(queryName, batchId)` watermarks alongside its own sink. */
  def attachStream(datoms: DataFrame, queryName: String)(
      onDiffs: (String, Seq[(Seq[Any], BiTimePair, Long)]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    datoms.writeStream
      .outputMode("append")
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The engine is single-writer (the reference sequences all
        // commands through one worker; WsServer holds its own lock) —
        // serialize micro-batches against other attached streams and
        // any embedder calls that synchronize on this instance.
        BiMaintained.this.synchronized {
          // foreachBatch is at-least-once: a batch that already
          // transacted (a retry after the DOWNSTREAM callback failed)
          // must not double-ingest. The id records only AFTER
          // transact+advance succeed, so a failure INSIDE them retries
          // the ingest; a later failure retries only the delivery.
          val replay = streamBatchSeen.get(queryName).exists(_ >= batchId)
          import org.apache.spark.sql.functions.{count, lit, max}
          val sel = batch.select("e", "a", "v", "sys", "event", "diff")
          val agg = sel.agg(max("sys"), count(lit(1))).head()
          if (!replay && agg.getLong(1) > 0L) {
            transactFrame(sel)
            advance(agg.getLong(0) + 1L)
            streamBatchSeen(queryName) = batchId
          }
          // Delivery runs OUTSIDE the replay guard: drain() is
          // destructive, so drained diffs land in a pending buffer
          // first and clear only AFTER onDiffs returned — a callback
          // failure leaves them pending and the replayed batch (ingest
          // already committed, replay=true) re-enters here and flushes
          // them, instead of the drained batch vanishing because the
          // guard skipped the whole delivery loop (round-14 ADVICE).
          // Pending buffers are keyed by (stream, standing): a buffer
          // parked by THIS stream's failed callback is flushed only by
          // THIS stream's replay — another attached stream's batch must
          // not deliver it through the wrong onDiffs (and clear it out
          // from under the owner's retry).
          interestNames.foreach { name =>
            val drained = drain(name)
            if (drained.nonEmpty)
              streamPendingOut.getOrElseUpdate(
                (queryName, name), mutable.ArrayBuffer.empty) ++= drained
            streamPendingOut.get((queryName, name)).filter(_.nonEmpty)
              .foreach { buf =>
                onDiffs(name, buf.toSeq)
                buf.clear()
              }
          }
        }
      }
      .start()

  // Highest micro-batch id already transacted per attached stream —
  // the replay guard above (same-process retries; a fresh engine starts
  // a fresh history, so cross-process replay rebuilds from scratch).
  private val streamBatchSeen = mutable.Map.empty[String, Long]

  // Diffs drained for a standing by an attached stream's batch but not
  // yet ACKNOWLEDGED by that stream's onDiffs callback — keyed
  // (stream queryName, standing name) so one stream's parked delivery
  // is never flushed through another stream's callback (same-process
  // delivery retry state; see the restart contract in [[attachStream]]).
  private val streamPendingOut = mutable.Map
    .empty[(String, String), mutable.ArrayBuffer[(Seq[Any], BiTimePair, Long)]]

  // ---- per-interest standing state --------------------------------------

  private final class Standing(name: String, val lane: Lane,
      val sink: Option[graft.sinks.DiffSink]) {
    // Derived-attribute MatchA scans inline into their defining view
    // plans (the unitemporal maintained path's move, shared through
    // DerivedViews) — the standing maintains the VIEW's algebra over
    // base attributes; `refAttrs`/`kinds` below therefore see only
    // base attributes. Snapshot taken at attach: derive before interest.
    private val rulePlans0: Map[String, Plan] =
      rules.iterator.map { case (n, ru) => n -> ru.plan }.toMap
    private val biHint =
      "derived attributes are MatchA-only in the bitemporal domain"
    // Inline ONLY the rules reachable from this standing's plan (its
    // NameExpr closure): a rule that is registered but never attached
    // may use a derived attribute in an unsupported shape (Hector
    // binding, MatchEA/MatchAV), and eagerly inlining the whole rules
    // map made EVERY later attach throw on it — even for standings
    // that never reference that rule (round-16 advisory). The
    // unsupported rule still rejects loudly, but only when a standing
    // actually attaches to (or references) it.
    private val reachable: Set[String] = Plan.reachableRules(name, rulePlans0)
    // Distinct/LWW attributes resolve to weight ≤ 1 per (e, v) inside
    // the maintained path, enabling DerivedViews' distinct pushdown
    // (single-entity-column threshold instead of the full-row wrap).
    private val uniq: String => Boolean = a =>
      semanticsOf(a) == InputSemantics.Distinct ||
        semanticsOf(a) == InputSemantics.LastWriteWins
    private val plan = graft.plans.DerivedViews.inline(
      rules(name).plan, rulePlans0.values, derivedPlans, biHint, uniq)
    private val rulePlans: Map[String, Plan] =
      rulePlans0.collect { case (n, p) if reachable(n) =>
        n -> graft.plans.DerivedViews.inline(p, rulePlans0.values,
          derivedPlans, biHint, uniq)
      }
    val refAttrs: Set[String] =
      IncrementalQuery.planAttributes(plan, rulePlans)
    var iq: IncrementalQuery = null
    var kinds: Map[String, ValueKind] = Map.empty
    // ---- collected delivery state (sink = None): output-sized driver
    // maps keyed under Spark's grouping equality ([[GroupedTuple]]),
    // capped loudly (`graft.bi.out.cap`) ---------------------------------
    // Accumulated standing-query result R(t) (output-sized).
    val r = mutable.Map.empty[GroupedTuple, Long]
    // Emitted ledger, compacted by EVENT coordinate (exact under lex
    // processing — see class doc): event → summed diff map.
    var ledger: TreeMap[Long, Map[GroupedTuple, Long]] = TreeMap.empty
    val out = mutable.ArrayBuffer.empty[(Seq[Any], BiTimePair, Long)]
    // ---- distributed delivery state (sink = Some): R and the ledger as
    // checkpointed frames, never collected --------------------------------
    // (cols c0..cn, _w) — the accumulated result R as of the last
    // CONSOLIDATION point (full merge or segment-cap fold); null=empty.
    var rFrame: DataFrame = null
    // (cols c0..cn, _event, _w) — delivered diffs netted by EVENT
    // coordinate (the same exact compaction the driver TreeMap does),
    // as of the last consolidation point; null = empty.
    var ledgerFrame: DataFrame = null
    // Diffs DELIVERED since the last consolidation, one (event, frame)
    // per delivered time — each frame is already eagerly checkpointed
    // (the deliver materialized it), so holding them is file references,
    // not lineage. On the monotone fast path NEITHER rFrame nor
    // ledgerFrame is touched per time: R(now) ≡ rFrame + Σ segments +
    // pendingDelta and ledger(now) ≡ ledgerFrame + segments, both
    // reconstructed only when a full merge or consolidation needs them.
    val segments = mutable.ArrayBuffer.empty[(Long, DataFrame)]
    // (cols c0..cn, _w) — deltas accumulated since the last deliver,
    // netted lazily; the monotone fast path delivers exactly this.
    var pendingDelta: DataFrame = null
    // Empty-delivery short-circuit state (driver scalars): `dirty` —
    // a delta frame was accumulated since the last deliver;
    // `ledgerMaxEvent` — the highest event coordinate with ledger
    // entries; `fullyDelivered` — R == Σ_all ledger held after the
    // last deliver (its accumulation covered every entry). When
    // !dirty && fullyDelivered && t.event ≥ ledgerMaxEvent, then
    // acc(t) = Σ_all = R, so diff(t) = 0 — skip both distributed jobs.
    private var dirty = false
    private var ledgerMaxEvent = Long.MinValue
    private var fullyDelivered = false

    /** Build — or REBUILD when a referenced attribute's first datom
      * reveals a kind after the first build (the standing query's
      * schema is fixed at build). Called on the open ledger BEFORE the
      * current time's transitions are applied, so the replayed dump is
      * exactly the lane's view through the previously processed time. A
      * FIRST build after times were already processed (late interest on
      * an existing lane) stages the replay diffs for `r` — they are this
      * standing's R; a kind rebuild discards them — they are already in
      * `r` — and leaves only its commits pending on the ledger. */
    def ensureBuilt(batch: Staged): Unit = {
      val current: Map[String, ValueKind] =
        refAttrs.iterator.map(a => a -> kindOf(a)).toMap
      if (iq == null || kinds != current) {
        val first = iq == null
        kinds = current
        // The instance's state-partition dial flows through to the
        // standing's stateful nodes — previously only the store was
        // sized to it and the IncrementalQuery silently fell back to
        // the session's shuffle partitions.
        iq = new IncrementalQuery(spark, plan, kinds, rulePlans,
          partitions = partitions)
        val replay = store.dump(lane.id).view.filterKeys(refAttrs).toMap
        if (replay.nonEmpty) {
          if (first) batch.steps += advanceQuery(replay, batch)
          else {
            val _ = iq.advanceDeltas(replay, consolidate = false)
          }
        }
      }
    }

    /** Advance the standing query by one batch of per-attribute frames
      * on the open ledger and return the fold of its diffs into R, to
      * run after the ledger's action. Collected path: the unconsolidated
      * diff rows are a branch of that action, and the fold sums them per
      * tuple on the driver (the delivery edge — capped). Sink path: the
      * consolidated frame, netted by one distributed union into the
      * lazily cut `pendingDelta`; nothing lands on the driver. */
    def advanceQuery(fs: BiStore.Frames, batch: Staged): () => Unit = {
      val diffs = iq.advanceDeltas(fs, consolidate = sink.isDefined)
      sink match {
        case Some(_) => () => accumulateFrame(iq.frameOf(diffs))
        case None =>
          val rows = batch.collect(diffs)
          () => rows().foreach { x =>
            val (cells, dw) = x.asInstanceOf[(Seq[Any], Long)]
            val tuple = new GroupedTuple(cells)
            val w = r.getOrElse(tuple, 0L) + dw
            if (w == 0L) r.remove(tuple) else r(tuple) = w
          }
      }
    }

    private def accumulateFrame(diffs: DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, sum}
      import graft.kernel.Ckpt._
      val cols = diffs.columns.dropRight(1).toSeq // c0..cn (last is _w)
      val staged = pendingDelta match {
        case null => diffs
        case prev => prev.unionByName(diffs)
      }
      // LAZY cut: the frame materializes inside the next consumer's job
      // (the deliver) instead of paying its own eager job per advance —
      // at 10+ lattice times per bitemporal batch the per-time job
      // count is the dominant cost on small deltas. Only the DELTA is
      // staged: R itself is untouched until a full merge or
      // consolidation needs it (the O(delta) fast-path contract).
      pendingDelta = staged.groupBy(cols.map(col): _*)
        .agg(sum(col("_w")).as("_w")).where(col("_w") =!= 0L)
        .graftCheckpoint(false)
      dirty = true
    }

    /** Deliver time `t`: `diff(t) = R − Σ_{event ≤ t.event} ledger` —
      * the product-order accumulation, reduced to one event-range scan
      * (every prior entry's sys ≤ t.sys under lex processing). Sink
      * path: the same lattice rule as ONE distributed full-outer merge
      * on the tuple columns; the diff frame goes to the sink and nets
      * into the distributed ledger at `t.event`. */
    def deliver(t: BiTimePair): Unit = sink match {
      case Some(s) => deliverFrame(t, s)
      case None =>
        val acc = mutable.Map.empty[GroupedTuple, Long]
        ledger.rangeTo(t._2).valuesIterator.foreach(_.foreach { case (k, w) =>
          val nw = acc.getOrElse(k, 0L) + w
          if (nw == 0L) acc.remove(k) else acc(k) = nw
        })
        val diff = (r.keySet ++ acc.keySet).iterator.map { tuple =>
          tuple -> (r.getOrElse(tuple, 0L) - acc.getOrElse(tuple, 0L))
        }.filter(_._2 != 0L).toMap
        if (diff.nonEmpty) {
          val merged = diff.foldLeft(ledger.getOrElse(t._2, Map.empty)) {
            case (m, (k, w)) =>
              val nw = m.getOrElse(k, 0L) + w
              if (nw == 0L) m.removed(k) else m.updated(k, nw)
          }
          ledger =
            if (merged.isEmpty) ledger.removed(t._2)
            else ledger.updated(t._2, merged)
          diff.foreach { case (tuple, w) => out += ((tuple.native, t, w)) }
          // Spill guard on the drain buffer: `out` holds deliveries
          // until `drain`, so an undrained data-sized standing would
          // otherwise grow the driver unboundedly — fail loudly with
          // the fix (drain more often, or attach a DiffSink).
          val cap = sys.props.get("graft.bi.out.cap").map(_.toLong)
            .getOrElse(4000000L)
          if (out.size > cap) throw GraftError.incorrect(
            s"standing '$name' holds ${out.size} undrained diffs " +
              s"(cap $cap, -Dgraft.bi.out.cap): drain() more often or " +
              "register the interest with interestSink for data-sized " +
              "results")
        }
        compactLedgerDriver()
    }

    /** The collected-path twin of the distributed event-dominance
      * collapse: TreeMap entries at events ≤ the collapse bound merge
      * into one map at the bound (their range-scan behavior is
      * identical for every possible future query under the declared
      * watermark). */
    private def compactLedgerDriver(): Unit = collapseBound.foreach { b =>
      val below = ledger.iterator.takeWhile(_._1 <= b).toSeq
      if (below.size > 1 || below.exists(_._1 < b)) {
        val merged = below.iterator.map(_._2)
          .foldLeft(Map.empty[GroupedTuple, Long]) { (acc0, mm) =>
            mm.foldLeft(acc0) { case (m, (k, w)) =>
              val nw = m.getOrElse(k, 0L) + w
              if (nw == 0L) m.removed(k) else m.updated(k, nw)
            }
          }
        val above = TreeMap.from(ledger.iterator.filter(_._1 > b))
        ledger = if (merged.isEmpty) above else above.updated(b, merged)
      }
    }

    /** Net a union of already-checkpointed frames on `by` (null inputs
      * skipped; null when all are). `forceNet` nets even a single frame
      * (needed when an event-floor rewrite introduced merge candidates). */
    private def netUnion(frames: Seq[DataFrame], by: Seq[String],
        forceNet: Boolean = false): DataFrame = {
      import org.apache.spark.sql.functions.{col, sum}
      frames.filter(_ ne null) match {
        case Seq()                  => null
        case Seq(f) if !forceNet    => f
        case fs => fs.reduce(_ unionByName _).groupBy(by.map(col): _*)
          .agg(sum(col("_w")).as("_w")).where(col("_w") =!= 0L)
      }
    }

    /** Event coordinate at or below which ledger entries are
      * indistinguishable by every POSSIBLE future accumulation query —
      * None without a declared watermark (then nothing may collapse:
      * a future late write could query between any two coordinates).
      * Future query events come from (a) future datoms, whose fine
      * events the watermark bounds (coarse is monotone, so this lane's
      * coarse events are ≥ coarse(watermark)), and (b) the
      * already-pending lattice times. Entries at events ≤ the bound
      * merge AT the bound: any future query's range test includes
      * either all of them or none. */
    private def collapseBound: Option[Long] =
      if (eventWatermark == Long.MinValue) None
      else {
        val cw = lane.win match {
          case Some((_, we)) => BiTime.coarse(eventWatermark, we)
          case None          => eventWatermark
        }
        val pendMin = lane.pendingTimes.iterator.map(_._2)
          .minOption.getOrElse(Long.MaxValue)
        Some(math.min(cw, pendMin))
      }

    private[BiMaintained] def ledgerRowCount: Long =
      if (ledgerFrame eq null) 0L else ledgerFrame.count()

    /** Rewrite a ledger-shaped frame's dominated event coordinates to
      * the collapse bound (net afterwards to realize the merge). */
    private def floorEvents(f: DataFrame, bound: Long): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, when}
      val tupleCols = f.columns.filterNot(c => c == "_event" || c == "_w").toSeq
      f.select(tupleCols.map(col) :+
        when(col("_event") <= bound, lit(bound)).otherwise(col("_event"))
          .as("_event") :+ col("_w"): _*)
    }

    private def segFrames(withEvent: Boolean): Seq[DataFrame] = {
      import org.apache.spark.sql.functions.{col, lit}
      segments.toSeq.map { case (ev, f) =>
        val cols = f.columns.dropRight(1).toSeq
        if (withEvent)
          f.select(cols.map(col) :+ lit(ev).as("_event") :+
            col("_diff").as("_w"): _*)
        else f.withColumnRenamed("_diff", "_w")
      }
    }

    /** Fold the delivered segments into the consolidated R/ledger
      * frames once their count crosses the cap — bounds the union
      * fan-in (plan size) of the eventual full merge while keeping the
      * per-time fast path O(delta). Amortized: one O(|R| + |ledger|)
      * fold per `graft.bi.sink.segcap` (default 32) fast delivers.
      * EAGER cuts — a lazily stacked consolidation would re-grow the
      * lineage the segment discipline exists to bound. */
    private[BiMaintained] def maybeConsolidate(force: Boolean = false): Unit = {
      import graft.kernel.Ckpt._
      val cap = sys.props.get("graft.bi.sink.segcap").map(_.toInt).getOrElse(32)
      if (segments.size >= cap || (force && segments.nonEmpty)) {
        val cols = segments.head._2.columns.dropRight(1).toSeq
        rFrame = netUnion(rFrame +: segFrames(withEvent = false), cols) match {
          case null => null
          // Eager Dataset checkpoint already materializes internally —
          // a trailing count() was a second, redundant job per fold.
          case f => f.graftCheckpoint(true)
        }
        val fl = collapseBound
        val ledgerIn = (ledgerFrame +: segFrames(withEvent = true)).map {
          case null => null
          case f    => fl.fold(f)(floorEvents(f, _))
        }
        ledgerFrame =
          netUnion(ledgerIn, cols :+ "_event", forceNet = fl.nonEmpty) match {
            case null => null
            case f => f.graftCheckpoint(true)
          }
        segments.clear()
        sinkDeliveryStats("consolidate") += 1L
      }
    }

    private def deliverFrame(t: BiTimePair, s: graft.sinks.DiffSink): Unit = {
      import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
      import graft.kernel.Ckpt._
      // Nothing was ever accumulated: nothing can differ from the
      // (empty) delivered state yet.
      if (rFrame == null && segments.isEmpty && pendingDelta == null) return
      // Provably-empty delivery: with no delta since the last deliver
      // and the ledger fully covered at this event bound,
      // acc(t) = Σ_all ledger = R and diff(t) = 0 — no jobs to run.
      // (A standing whose referenced attributes saw no transition this
      // time, on a monotone event schedule, pays nothing.)
      if (!dirty && fullyDelivered && t._2 >= ledgerMaxEvent) {
        sinkDeliveryStats("skip") += 1L
        return
      }
      val cols = (pendingDelta match {
        case null => if (rFrame ne null) rFrame else segments.head._2
        case p    => p
      }).columns.dropRight(1).toSeq
      if (fullyDelivered && t._2 >= ledgerMaxEvent) {
        // MONOTONE FAST PATH (the round-13 scale note): the last
        // deliver's accumulation covered the whole ledger (Σ_all = R
        // held then) and this time's event bound covers every entry, so
        // acc(t) = Σ_all = R(before the pending deltas) and
        // diff(t) = pendingDelta exactly — deliver it directly,
        // O(delta) scanned bytes, no O(|R| + |ledger|) merge. The full
        // merge below remains for genuine product-order regressions
        // (a processed time whose event undercuts a delivered one).
        // LAZY checkpoint + count: the count job materializes the cut
        // (RDD.doCheckpoint runs at job end), so the gate and the
        // truncation share ONE job instead of eager-then-count's two.
        val diff = pendingDelta.withColumnRenamed("_w", "_diff")
          .graftCheckpoint(false)
        if (diff.count() > 0L) {
          segments += ((t._2, diff))
          ledgerMaxEvent = math.max(ledgerMaxEvent, t._2)
          s.deliver(name, t._1, diff.select(
            cols.map(col) :+ lit(t._1).as("_t") :+ lit(t._2).as("_event") :+
              col("_diff"): _*))
        }
        pendingDelta = null
        dirty = false
        fullyDelivered = true // t._2 ≥ (possibly raised) ledgerMaxEvent
        sinkDeliveryStats("fast") += 1L
        maybeConsolidate()
        return
      }
      // FULL MERGE (first deliver, or a product-order regression):
      // reconstruct R(now) and the event-filtered accumulation from the
      // consolidated frames + delivered segments + pending deltas, and
      // make this a consolidation point (the merge already swept them).
      val base = netUnion(
        rFrame +: (segFrames(withEvent = false) :+ pendingDelta), cols)
        .graftCheckpoint(false)
      val flB = collapseBound
      val ledgerAll = netUnion(
        (ledgerFrame +: segFrames(withEvent = true)).map {
          case null => null
          case f    => flB.fold(f)(floorEvents(f, _))
        }, cols :+ "_event", forceNet = flB.nonEmpty)
      val diff0 = ledgerAll match {
        case null => base.withColumnRenamed("_w", "_diff")
        case l =>
          val acc = l.where(col("_event") <= t._2)
            .groupBy(cols.map(col): _*).agg(sum(col("_w")).as("_acc"))
          // Null-safe full-outer merge: tuples present on either side,
          // weight = R − accumulated-delivered. Explicit aliases — the
          // ledger's lineage passes through R, so unqualified columns
          // would be ambiguous self-join attributes.
          val cond = cols.map(c => col(s"r.$c") <=> col(s"a.$c"))
            .reduce(_ && _)
          base.as("r").join(acc.as("a"), cond, "full_outer").select(
            cols.map(c => coalesce(col(s"r.$c"), col(s"a.$c")).as(c)) :+
              (coalesce(col("r._w"), lit(0L)) -
                coalesce(col("a._acc"), lit(0L))).as("_diff"): _*)
      }
      // Lazy cut + count — one materializing job (see the fast path).
      val diff = diff0.where(col("_diff") =!= 0L).graftCheckpoint(false)
      rFrame = base
      if (diff.count() > 0L) {
        val entry = diff.select(cols.map(col) :+ lit(t._2).as("_event") :+
          col("_diff").as("_w"): _*)
        ledgerFrame = (ledgerAll match {
          case null => entry
          case l => l.unionByName(entry)
            .groupBy((cols :+ "_event").map(col): _*)
            .agg(sum(col("_w")).as("_w")).where(col("_w") =!= 0L)
        }).graftCheckpoint(false) // lazy — materializes at the next merge
        ledgerMaxEvent = math.max(ledgerMaxEvent, t._2)
        s.deliver(name, t._1, diff.select(
          cols.map(col) :+ lit(t._1).as("_t") :+ lit(t._2).as("_event") :+
            col("_diff"): _*))
      } else ledgerFrame =
        if (ledgerAll eq null) null else ledgerAll.graftCheckpoint(false)
      segments.clear()
      pendingDelta = null
      // After a deliver whose accumulation covered the WHOLE ledger,
      // Σ_all ledger == R (diff closed the gap); entries above t.event
      // (impossible here since the merge bound max at t._2 when it was
      // covering) would break the invariant — tracked via the bound.
      dirty = false
      fullyDelivered = t._2 >= ledgerMaxEvent
      sinkDeliveryStats("full") += 1L
    }
  }

  private val standings = mutable.Map.empty[String, Standing]

  /** Spec probe: the sink-path ledger's resident row count after a
    * forced segment fold — pins the event-dominance plateau under a
    * declared watermark. */
  private[graft] def ledgerRowsProbe(name: String): Long = {
    val st = standings(name)
    st.maybeConsolidate(force = true)
    st.ledgerRowCount
  }

  /** Spec probe: which delivery path each sink deliver took — `fast`
    * (monotone O(delta) direct delivery), `full` (the O(|R|+|ledger|)
    * product-order merge), `skip` (provably empty), `consolidate`
    * (segment fold). Pins the fast-path contract in
    * `BiSinkDeliverySpec`. */
  private[graft] val sinkDeliveryStats =
    mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** One ledger's deferred driver work: the collected standings' row
    * branches of its one action, and the fold → deliver steps that run
    * after it, in (lane, time, standing) order. */
  private final class Staged {
    val collected = mutable.ArrayBuffer.empty[RDD[_]]
    val steps = mutable.ArrayBuffer.empty[() => Unit]
    private var rows: Array[Array[Any]] = Array.empty

    /** Add `rdd` as a collected branch; its rows, once the action ran. */
    def collect(rdd: RDD[_]): () => Array[Any] = {
      val i = collected.length
      collected += rdd
      () => rows(i)
    }

    def landed(rs: Array[Array[Any]]): Unit = rows = rs
  }

  /** Process completed coarse times — per lane, its lex-ordered times and
    * the standings that receive them — in ONE [[CommitLedger.run]]: every
    * time's standing commits build lazily (time t+1's state reads time
    * t's pending generation through lineage), every collected standing's
    * diff rows join the same action, and only after it do the folds into
    * R and the deliveries run, in the original order — before the lanes'
    * `pendingTimes` shrink, which [[Standing]]'s ledger collapse bound
    * reads. Without a sink standing no frame outlives the action, so the
    * commits' output cuts are released with it.
    *
    * Failure: staging that throws runs no action and delivers nothing,
    * while the store and the states it advanced have moved on (see
    * [[CommitLedger.run]]) — the standings are unusable after it, as a
    * failure part-way through the per-time loop left them. */
  private def processTimes(
      work: Seq[(Lane, Seq[BiTimePair], Iterable[String])],
      sem: BiTime.Sem): Unit = {
    val batch = new Staged
    val (_, rows) = CommitLedger.named(spark.sparkContext,
        "graft.streaming.BiMaintained.advance") {
      CommitLedger.run(spark.sparkContext,
          outputsDead = !standings.valuesIterator.exists(_.sink.isDefined)) {
        for ((lane, times, names) <- work; t <- times)
          stageTime(lane, t, sem, names, batch)
        (Nil, batch.collected.toSeq)
      }
    }
    batch.landed(rows)
    batch.steps.foreach(_())
    for ((lane, times, _) <- work) lane.pendingTimes --= times
  }

  /** Stage ONE completed coarse time of `lane` on the open ledger: one
    * shared visible-view transition against the fine store feeds every
    * attached standing query. Sys-index entries dead for EVERY lane (at
    * or under the min processed bound) are pruned en route. */
  private def stageTime(lane: Lane, t: BiTimePair, sem: BiTime.Sem,
      laneInterests: Iterable[String], batch: Staged): Unit = {
    // Lazy per-attribute views (round 17): the transition below only
    // aggregates attributes some attached standing READS — a registered
    // attribute no standing scans costs ~0 per advance (the pqsource
    // ONEATTR finding: each maintained attribute cost a constant
    // ~0.8-1.7 s/advance regardless of demand). Attributes entering the
    // demand set late (a new standing, a rule rebuilt with wider
    // refAttrs) are BACKFILLED from the shared history at the lane's
    // last processed time BEFORE the standings' replay dump reads the
    // emitted view — exact, because the emitted view is a pure function
    // of (history, lane time).
    val demand: Set[String] =
      laneInterests.iterator.flatMap(n => standings(n).refAttrs).toSet
    val missing = demand -- lane.covered
    if (missing.nonEmpty && lane.lastProcessed.nonEmpty)
      store.backfill(lane.id, lane.win, lane.lastProcessed.get, sem, missing)
    lane.covered ++= demand
    // Standing queries (re)build against the PRE-transition view.
    for (name <- laneInterests) standings(name).ensureBuilt(batch)
    val newBound = BiTime.visBound(t._1, lane.winSys)
    val pruneUpTo = lanes.valuesIterator.map { l =>
      if (l eq lane) newBound else l.processedBound
    }.min
    // Single-attribute domains skip the distributed store's per-time
    // distinct-attribute job: with exactly one registered attribute,
    // every emitted row is provably it.
    val attrHint =
      if (firstKind.size == 1) Some(firstKind.keysIterator.next()) else None
    val deltas = store.transition(
      lane.id, lane.win, lane.lastProcessed, t, sem, pruneUpTo,
      attrHint, Some(lane.covered.toSet))
    lane.lastProcessed = Some(t)
    for (name <- laneInterests) {
      val st = standings(name)
      val sub = deltas.view.filterKeys(st.refAttrs).toMap
      val fold = if (sub.isEmpty) None else Some(st.advanceQuery(sub, batch))
      batch.steps += { () => fold.foreach(_()); st.deliver(t) }
    }
  }

  /** Advance the system frontier: every input time with `sys < sysNext`
    * completes; each lane's completed coarse times are processed
    * lex-ordered — ONE shared visible-view transition per (lane, time)
    * feeds every standing query attached there.
    *
    * Cost shape: one Spark action for the whole advance, over every
    * completed time of every lane ([[processTimes]]): the standings'
    * state commits of all those times and the collected standings' diff
    * rows materialize together, and the driver then folds and delivers
    * them in lex order. What still runs its own jobs: a distributed
    * store's counted transitions (their counts shape the frames), its
    * replay dumps, and sink deliveries (the O(delta) fast path's cut, or
    * a full merge). Data-side work stays delta-proportional. The time
    * lattice is the driver-sequenced dimension — the reference's
    * per-timestamp progress rounds — and `Coarsen` is the dial that
    * keeps it control-plane on dense histories (the lattice caps
    * enforce this loudly on the bulk paths). */
  def advance(sysNext: Long): Unit = {
    require(sysNext > sysFrontier, s"cannot rewind from $sysFrontier to $sysNext")
    val sem = semResolver
    // GC memberless lanes FIRST (the first-transact ingest-validation
    // default, or a granularity whose last interest left between
    // advances): no consumers → no transitions to run, no emitted view
    // to maintain, and a memberless lane must not pin sys-index pruning
    // or compaction at Long.MinValue (the round-12 idle-lane finding).
    // A later interest at the granularity reconstructs its lattice from
    // the shared history and replays (late-attach).
    for (lane <- lanes.valuesIterator.toSeq if lane.members.isEmpty) {
      lanes.remove(lane.win)
      if (lane.lastProcessed.nonEmpty) store.dropLane(lane.id)
    }
    processTimes(lanes.valuesIterator.toSeq.map { lane =>
      (lane, lane.pendingTimes.iterator.takeWhile(_._1 < sysNext).toSeq,
        interests.filter(lane.members.contains))
    }, sem)
    sysFrontier = sysNext
    maybeCompact(sem)
  }

  // ---- trace compaction (reference `advance_traces` under trace_slack,
  // `src/domain/mod.rs:291-341`, `src/lib.rs:396`) ----------------------
  private var lastCompactBound: Long = Long.MinValue
  private var lastCompactCount: Long = 0L

  /** Under `-Dgraft.bi.slack=<n>`: once EVERY lane's processed fine-sys
    * bound passed `bound = min − slack`, consolidate the history behind
    * it ([[BiPacked.compact]] — per-event nets for Raw/Distinct, winner
    * staircases over the registered windows for LWW). Amortized: runs
    * when the resident record count grew ≥ 25% past the last
    * post-compaction count, so the O(resident) rewrite costs ≤ 4
    * record-rewrites per ingested datom and resident bytes PLATEAU in a
    * tight sawtooth under continuous ingest with bounded live
    * (key, event) structure. Dial unset (default): never — history is
    * immortal, exactly the pre-compaction behavior. */
  private def maybeCompact(sem: BiTime.Sem): Unit =
    slack.orElse(sys.props.get("graft.bi.slack").map(_.toLong)).foreach { sl =>
      val minB =
        if (lanes.isEmpty) Long.MinValue
        else lanes.valuesIterator.map(_.processedBound).min
      if (minB != Long.MinValue && minB - sl > lastCompactBound &&
          store.datomCount * 4L >= 5L * lastCompactCount) {
        val bound = minB - sl
        store.compact(bound, lanes.keysIterator.toSeq, sem)
        lastCompactBound = bound
        lastCompactCount = store.datomCount
      }
    }

  /** Smoke/test hook: the store's (declared, measured) resident bytes —
    * declared feeds the byte gate and StateCell's KnownSizeEstimation,
    * measured is a real SizeEstimator walk verifying it. On the
    * distributed path this (plus the output-sized `r`/ledger/out
    * buffers and the lanes' lattices) is ALL the driver keeps; the
    * datom history and visible views live in the [[StateCell]]
    * partitions (scale-smoke evidence). The history is resident ONCE
    * regardless of how many Coarsen lanes are active. */
  private[graft] def storeBytes: (Long, Long) =
    (store.estimatedBytes, store.measuredResidentBytes)

  /** Test hook: resident datom records (shrinks under compaction). */
  private[graft] def datomCountProbe: Long = store.datomCount

  /** Test hook: rows of every lane's emitted view (the visible view
    * the store keeps per lane). */
  private[graft] def emittedRowsProbe: Long =
    lanes.valuesIterator.map { lane =>
      store.dump(lane.id).valuesIterator.map(_.count()).sum
    }.sum

  /** Spec probe: the distributed store's live StateCell generation —
    * None on the driver sibling. Recoverability drills wipe its cached
    * blocks and assert the history recomputes from reliable files. */
  private[graft] def storeGenerationProbe: Option[RDD[_]] =
    store match {
      case c: CellBiStore => Some(c.liveGenerationProbe)
      case _              => None
    }

  /** Spec probe: the live state generations of `name`'s standing query
    * (empty before it first builds). */
  private[graft] def liveGenerationsProbe(name: String): Seq[RDD[_]] =
    standings.get(name).flatMap(st => Option(st.iq)).toSeq
      .flatMap(_.liveGenerationsProbe)

  def controlPlaneStats: Map[String, Long] = Map(
    "lanes" -> lanes.size.toLong,
    "pendingTimes" -> lanes.valuesIterator.map(_.pendingTimes.size.toLong).sum,
    "ledgerEntries" -> standings.valuesIterator.map(_.ledger.size.toLong).sum,
    "resultRows" -> standings.valuesIterator.map(_.r.size.toLong).sum,
    "outRows" -> standings.valuesIterator.map(_.out.size.toLong).sum)

  /** Names with a live standing interest (wire-serving fan-out). */
  def interestNames: Seq[String] = interests.toSeq

  def drain(name: String): Seq[(Seq[Any], BiTimePair, Long)] = {
    val buf = standings(name).out
    val res = buf.toSeq
    buf.clear()
    res
  }
}

object BiMaintained {
  /** A collected result tuple under Spark's grouping equality
    * ([[Engine.groupKey]]: every NaN equal, -0.0 = 0.0, also inside
    * nested values): the key of the collected delivery's driver maps,
    * which sum unconsolidated diff rows as `groupBy` would. Boxed `Seq`
    * equality keeps a NaN tuple apart from itself, so a retraction never
    * nets its assertion. `native` is the drained form, normalized as
    * `groupBy` outputs it. */
  private final class GroupedTuple(cells: Seq[Any]) {
    val native: Seq[Any] =
      cells.map(c => Engine.normalizeReals(Engine.deepNative(c)))
    private val key = native.map(Engine.groupKey)
    override def equals(o: Any): Boolean = o match {
      case g: GroupedTuple => key == g.key
      case _               => false
    }
    override def hashCode: Int = key.##
  }
}
