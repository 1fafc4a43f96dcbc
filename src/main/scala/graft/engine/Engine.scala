package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.compile.{Compiler, Rel}
import graft.domain.Domain
import graft.model._
import graft.sinks.DiffSink
import graft.streaming.CommitLedger
import graft.streaming.IncrementalQuery.Delta

/** The embedded-engine API, mirroring the reference `Server`
  * (`src/server/mod.rs:225-530`) test path (SURVEY.md §3.2):
  * `createAttribute` → `register` → `interest` → `transact` → `advance`,
  * with results delivered as exact `(tuple, time, diff)` multisets per
  * completed time — including retractions — just like the reference's
  * end-to-end suites assert.
  *
  * Batch IVM strategy: on each `advance`, recompute every interested rule at
  * each newly completed input time and diff against the previous snapshot
  * (semantically identical to differential's incremental output; SURVEY.md
  * §4.2). Distributed evaluation, driver-side diffing — snapshots collected
  * here are query *results*, which are small relative to inputs.
  */
class Engine(val spark: SparkSession, setSemantics: Boolean = false,
    // State-partition dial for maintained standings (0 = the session's
    // spark.sql.shuffle.partitions) — the IncrementalQuery `partitions`
    // discipline: size to the MAINTAINED STATE, not the bulk data.
    statePartitions: Int = 0) {

  val domain = new Domain(spark)

  private val interests = mutable.LinkedHashSet.empty[String]
  private val initialized = mutable.Set.empty[String]
  private val granularities = mutable.Map.empty[String, Long]
  // Last collected snapshot per rule: grouping key -> (tuple, weight).
  private val prevSnapshots = mutable.Map.empty[String,
    Map[Seq[Any], (Seq[Any], Long)]].withDefaultValue(Map.empty)
  private val outputs =
    mutable.Map.empty[String, mutable.ArrayBuffer[(Seq[Any], Long, Long)]]
  // Diffs coarsened to a future interval bound are held here until the
  // frontier passes the bound (the reference delays delivery until the
  // coarsened time completes — src/timestamp/mod.rs:144-184).
  private val pendingCoarse =
    mutable.Map.empty[String, mutable.ArrayBuffer[(Seq[Any], Long, Long)]]
  // Sink-delivered interests: diffs are computed as DataFrames (distributed
  // snapshot-vs-previous diff) and handed to the sink — never collected.
  private val sinks = mutable.Map.empty[String, DiffSink]
  // Incrementally MAINTAINED interests (interestIncremental): per-advance
  // work is delta-proportional instead of a full recompute — the engine's
  // analog of the reference's standing dataflows.
  private val incrementalMarked = mutable.Set.empty[String]
  private val incrementalQs =
    mutable.Map.empty[String, graft.streaming.IncrementalQuery]
  // Static bulk attributes not yet fed into a maintained query's state
  // (fed once, with the first processed batch).
  private val staticsPending = mutable.Map.empty[String, Set[String]]
  private val prevFrames = mutable.Map.empty[String, DataFrame]
  private val pendingCoarseFrames =
    mutable.Map.empty[String, mutable.ArrayBuffer[(Long, DataFrame)]]
  private var frontier: Long = 0L
  // Column kinds of each rule's result (recorded at first snapshot) — lets
  // transports re-tag collected native values as wire `Value`s.
  private val resultKinds = mutable.Map.empty[String, Seq[ValueKind]]
  // Rules whose single output column packs heterogeneous pull paths
  // (batch `Rel.isPathArray` / maintained `outputIsPathArray`) — the
  // explicit serde marker the wire layer consults instead of sniffing
  // payload shape (round-10 ADVICE).
  private val pathArrayResults = mutable.Set.empty[String]

  /** Rules currently under interest (transport fan-out reads this). */
  def interestNames: Seq[String] = interests.toSeq

  /** The current epoch: every input time below it is complete (read by
    * frontier-gated schedulers). */
  def currentFrontier: Long = frontier

  /** Column kinds of a rule's result, once it has produced a snapshot. */
  def kindsFor(name: String): Option[Seq[ValueKind]] = resultKinds.get(name)

  /** Whether `name`'s result tuples are packed pull paths (one
    * array<variant> cell per row) that the wire layer should expand. */
  def isPathArrayResult(name: String): Boolean = pathArrayResults.contains(name)

  def createAttribute(name: String, config: AttributeConfig = AttributeConfig()): Unit =
    domain.createAttribute(name, config)

  /** Store a rule in the catalog (nothing is built yet — registration is
    * lazy, as in `src/server/mod.rs:324-338`). */
  def register(rule: Rule): Unit = domain.registerRule(rule)

  /** Express interest in a rule's results; diffs accumulate per `advance`
    * and are fetched with `drain`. An optional delivery granularity
    * coarsens emitted times up to interval bounds (`Interest.granularity`,
    * `src/server/mod.rs:110-119` + `Coarsen`, `src/timestamp/mod.rs:144-184`).
    */
  def interest(name: String, granularity: Option[Long] = None): Unit = {
    if (!domain.rules.contains(name))
      throw GraftError.notFound(s"unknown rule $name")
    interests += name
    granularity.foreach(g => granularities(name) = g)
    outputs.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
  }

  /** Express interest with DataFrame delivery to `sink` — the data-sized
    * result path: each advance's diffs are computed as a distributed
    * snapshot-vs-previous diff (a full-outer join on the tuple columns)
    * and handed to the sink; the engine never materializes them on the
    * driver. `drain` stays empty for sink-delivered rules. */
  def interestSink(
      name: String,
      sink: DiffSink,
      granularity: Option[Long] = None): Unit = {
    if (!domain.rules.contains(name))
      throw GraftError.notFound(s"unknown rule $name")
    interests += name
    // Attaching a sink to a LIVE (already initialized) plain interest:
    // the sink has no prevFrames baseline, so force re-initialization —
    // the next advance replays the accumulated state into the sink as
    // initial diffs (late-subscriber semantics, like the reference
    // replaying the compacted trace into a newly built dataflow) instead
    // of the first per-time diff re-delivering the entire snapshot as if
    // it were change.
    if (initialized(name) && !prevFrames.contains(name)) initialized -= name
    sinks(name) = sink
    granularity.foreach(g => granularities(name) = g)
  }

  /** Express interest with INCREMENTAL maintenance: the rule's plan is
    * compiled into a standing [[graft.streaming.IncrementalQuery]] at
    * first advance, and each completed time feeds only that time's datom
    * deltas through it — per-advance work (and shuffled bytes) are
    * delta-proportional, never a recompute of accumulated state. This is
    * the engine's analog of the reference's maintained dataflows
    * (`src/server/mod.rs:225-530` + differential arrangements), vs the
    * default snapshot-diff path.
    *
    * Requirements (fail loudly at first advance): the plan must lie in
    * the incrementally maintainable fragment (see IncrementalQuery) —
    * all three input semantics (Raw, Distinct, LastWriteWins) are
    * maintained, each through its per-attribute stateful view; BOTH
    * result semantics are served (set-semantics engines get their
    * delivery distinctify and distinct-input aggregation as maintained
    * support thresholds); derived-attribute `MatchA` scans inline into
    * their defining view plans (other derived usages stay on the
    * snapshot path, loudly); every referenced base attribute must be
    * registered before the first advance.
    * Attributes whose value kind is not yet known
    * (no datom or static registration) keep the rule on the snapshot
    * path — delivery is identical — until the kinds appear, when the
    * standing query takes over by replaying history into its state. */
  def interestIncremental(name: String, granularity: Option[Long] = None): Unit = {
    if (!domain.rules.contains(name))
      throw GraftError.notFound(s"unknown rule $name")
    interests += name
    incrementalMarked += name
    granularity.foreach(g => granularities(name) = g)
    outputs.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
  }

  /** Wire-serving interest (the transport's entry point): PREFER the
    * maintained path — a live client's standing query costs O(delta) per
    * advance, the reference's `Interest` serving model
    * (`src/server/mod.rs:299-321` → `implement`, `src/lib.rs:933-1023`) —
    * and demote this rule to the snapshot path if its plan turns out to
    * lie outside the maintainable fragment (delivery is identical either
    * way; only the per-advance cost differs). The kind-pending fallback of
    * [[interestIncremental]] applies unchanged: until every referenced
    * attribute's kind is known the snapshot path serves, then the
    * standing query takes over by replaying history. */
  def interestMaintained(name: String, granularity: Option[Long] = None): Unit = {
    interestIncremental(name, granularity)
    bestEffortIncremental += name
  }

  // Rules whose incremental marking is best-effort (wire-served): a plan
  // outside the maintainable fragment demotes to the snapshot path
  // instead of failing the advance.
  private val bestEffortIncremental = mutable.Set.empty[String]

  /** True while `name` is served by a standing maintained query (false =
    * snapshot path: not yet convertible, demoted, or plain interest). */
  def servedIncrementally(name: String): Boolean = incrementalQs.contains(name)

  /** How many full snapshot recomputes this rule has paid (0 for a rule
    * that went maintained before any data was processed) — the observable
    * the serving specs assert on. */
  def snapshotRecomputeCount(name: String): Long = snapshotRecomputes(name)

  private val snapshotRecomputes =
    mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Spec probe: the live state generations of `name`'s standing query
    * (empty while the snapshot path serves it). */
  private[graft] def liveGenerationsProbe(name: String): Seq[org.apache.spark.rdd.RDD[_]] =
    incrementalQs.get(name).toSeq.flatMap(_.liveGenerationsProbe)

  /** Incremental maintenance + sink delivery: the maintained diffs go to
    * `sink` as DataFrames (data-sized results, never collected), computed
    * from each advance's delta alone — the snapshot-sink path's full-outer
    * diff join is replaced by the standing query's O(delta) work. Attach
    * before the first advance: once the standing query has streamed
    * diffs, a late sink would miss its baseline. */
  def interestIncrementalSink(
      name: String, sink: DiffSink, granularity: Option[Long] = None): Unit = {
    if (initialized(name)) throw GraftError.incorrect(
      s"attach the sink before the first advance of $name — the " +
        "maintained state has already streamed its baseline")
    interestIncremental(name, granularity)
    sinks(name) = sink
  }

  /** Withdraw interest: stop tracking the rule and drop its buffered diffs
    * and snapshot state (the reference tears the dataflow down when the
    * last interested client leaves — `src/server/mod.rs:276-281`). */
  def uninterest(name: String): Unit = {
    interests -= name
    initialized -= name
    granularities -= name
    prevSnapshots -= name
    outputs -= name
    pendingCoarse -= name
    sinks -= name
    prevFrames -= name
    pendingCoarseFrames -= name
    incrementalMarked -= name
    incrementalQs -= name
    staticsPending -= name
    bestEffortIncremental -= name
    snapshotRecomputes -= name
  }

  /** Dispatch a wire-format request (`Request`, `src/server/mod.rs:153-191`)
    * — the transport-free server entry point. */
  def handle(req: graft.server.Request): Unit = {
    import graft.server.{Request => R}
    req match {
      case R.Transact(datoms)        => transact(datoms)
      case R.Subscribe(attr) =>
        // Interest in the whole attribute: a MatchA rule named after it.
        register(Rule(attr, Plan.MatchA(0, attr, 1)))
        interest(attr)
      case R.Derive(ns, query) =>
        // GraphQL document -> pull-path rule registered + subscribed under
        // the namespace, AND each pulled path re-published as a derived
        // attribute `ns/attr` other rules can MatchA against — the
        // reference's derive materialization (`src/derive/graphql.rs:501-534`,
        // `aid.with_namespace`, `src/lib.rs:72-74`). The per-path view
        // plans are timestamp-generic (shared with the bitemporal domain's
        // Derive) — `DerivedViews.pathViews`.
        register(Rule(ns, graft.plans.GraphQl.plan(query)))
        interest(ns)
        graft.plans.DerivedViews.pathViews(ns, query).foreach {
          case (name, sourceAttr, plan, head) =>
            registerDerivedView(name, sourceAttr, plan, head)
        }
      // Wire-level sink routing is the transport's concern (WsServer);
      // the embedded path registers plain interest.
      case R.Interest(name, g, _, _) => interest(name, g)
      case R.Uninterest(name)        => uninterest(name)
      case R.Register(rules, _)      => rules.foreach(register)
      case R.CreateAttribute(n, cfg) => createAttribute(n, cfg)
      case R.AdvanceDomain(_, t)     => advance(t)
      case R.RegisterSource(src) =>
        src match {
          // Reference semantics (`server/src/main.rs:396-420`): the source's
          // attribute streams join the domain; here the file materializes
          // into Distinct-semantics attribute collections.
          case csv: graft.sources.FileSources.CsvFile =>
            graft.sources.FileSources.registerCsv(domain, csv)
          case json: graft.sources.FileSources.JsonFile =>
            graft.sources.FileSources.registerJson(domain, json)
          case pq: graft.sources.FileSources.ParquetFile =>
            graft.sources.FileSources.registerParquet(domain, pq)
        }
        // The registration lands "now": the next advance must snapshot at
        // this time to emit the new data as diffs.
        domain.notePending(frontier)
      case R.Tick                    => advance(frontier + 1)
      case R.CloseInput(name)        => domain.closeInput(name)
      case R.Disconnect | R.Setup | R.Status | R.Shutdown => ()
    }
  }

  /** Register a derived attribute whose (e, v, _w) view compiles `plan`
    * (expected binary: entity, value) at each as-of time. Weight-1 by
    * distinctify, so downstream MatchA treats it like a Distinct input.
    * `head` DECLARES which plan variable is the entity and which the
    * value — recorded alongside the plan so the maintained path's inline
    * renames by variable identity instead of inferring the order from
    * `boundVariables` (which could silently swap a (value, entity)
    * shaped plan). */
  private def registerDerivedView(name: String, sourceAttr: String,
      plan: Plan, head: Seq[Int]): Unit = {
    require(head.length == 2, s"derived view $name head must be binary: $head")
    derivedPlans(name) = (plan, head)
    domain.registerDerived(name,
      kind = () => domain.asOf(Long.MaxValue).kind(sourceAttr),
      build = { t =>
        val compiler = new Compiler(domain.asOf(t), domain.rules,
          aggregateSetSemantics = setSemantics)
        compiler.compile(plan, Map.empty) match {
          case None =>
            import org.apache.spark.sql.types.{LongType, StructField, StructType}
            val k = domain.asOf(Long.MaxValue).kind(sourceAttr)
            domain.spark.createDataFrame(
              domain.spark.sparkContext.emptyRDD[Row],
              StructType(Seq(StructField("e", LongType, false),
                StructField("v", k.dataType, true),
                StructField("_w", LongType, false))))
          case Some(rel) =>
            import org.apache.spark.sql.functions.col
            compiler.distinctify(rel.df)
              .select(col(Rel.c(0)).as("e"), col(Rel.c(1)).as("v"), col(Rel.W).as("_w"))
        }
      })
  }

  // Derived-attribute defining plans (binary: entity, value), recorded so
  // the maintained path can INLINE derived scans — the snapshot path
  // computes the view per as-of; a standing query replaces the scan with
  // the view's plan instead.
  private val derivedPlans =
    scala.collection.mutable.Map.empty[String, (Plan, Seq[Int])]

  /** Inline derived-attribute `MatchA` scans into their defining plans
    * (`DerivedViews.inline` — shared with the bitemporal domain's
    * standings). Derived usages outside plain MatchA stay on the
    * snapshot path, loudly. The uniqueness predicate enables the
    * distinct pushdown: Distinct/LWW attributes resolve to weight ≤ 1
    * per (e, v) inside the maintained path (per-attribute support
    * threshold / latest-event view), so the view's full-row distinctify
    * narrows to a single-entity-column threshold; Raw and static-frame
    * attributes keep the full wrap. */
  private def inlineDerived(plan: Plan, allPlans: Iterable[Plan]): Plan =
    graft.plans.DerivedViews.inline(plan, allPlans, derivedPlans,
      uniqueAttr = a => domain.staticFrame(a).isEmpty &&
        (domain.semanticsOf(a) == InputSemantics.Distinct ||
         domain.semanticsOf(a) == InputSemantics.LastWriteWins))

  /** Datoms without an explicit time are stamped with the current epoch.
    * Explicit times below the advanced frontier are rejected loudly — the
    * reference refuses writes at completed times (`Domain::advance_epoch`,
    * `src/domain/mod.rs:268-274`); silently accepting them would defer or
    * drop their output diffs. */
  def transact(datoms: Seq[Datom]): Unit = {
    datoms.foreach(d => d.t.foreach(t =>
      if (t < frontier) throw GraftError.conflict(
        s"write at closed time $t: frontier has advanced to $frontier")))
    domain.transact(datoms, frontier)
  }

  /** Advance the logical clock to `next`: every input time in
    * [frontier, next) is now complete; emit output diffs at each.
    * Advancing to the current epoch is a no-op; rewinding is an error
    * (`Domain::advance_epoch`, `tests/domain_test.rs:9-22`). */
  def advance(next: Long): Unit = {
    if (next < frontier)
      throw GraftError.conflict(s"cannot rewind domain from $frontier to $next")
    if (next == frontier) return

    // Late subscribers (interest registered after earlier times were
    // already processed) receive the accumulated current state as initial
    // diffs — the reference replays the compacted trace into newly built
    // dataflows (`tests/registration_test.rs`).
    // Incremental interests whose referenced attributes all have known
    // kinds build (or convert to) their standing query now; the rest are
    // served by the snapshot path until first datoms reveal the kinds.
    for (name <- interests if incrementalMarked(name) &&
        !incrementalQs.contains(name)) {
      val deliver = !initialized(name) // conversion: already delivered via snapshots
      val built =
        try tryInitIncremental(name, deliverReplay = deliver)
        catch {
          // Plan-shape rejections surface ONLY as the typed
          // UnmaintainablePlan: the maintained compiler's shape
          // preconditions (e.g. "numeric aggregation needs long-typed
          // values") throw it via UnmaintainablePlan.require, so a
          // demotion to the (semantically identical) snapshot path is
          // never confused with a genuine Spark/session failure —
          // IllegalArgumentException and everything else propagates,
          // preserving the O(delta) serving guarantee (round-10 ADVICE).
          // Nothing was delivered: rejection precedes the replay's output.
          case e: graft.streaming.UnmaintainablePlan
              if bestEffortIncremental(name) =>
            Engine.log.info(
              s"interest '$name' demoted to snapshot serving: ${e.getMessage}")
            incrementalMarked -= name
            incrementalQs -= name
            staticsPending -= name
            false
        }
      if (built) initialized += name
    }

    for (name <- interests if !initialized(name)) {
      if (processedThrough > 0L) sinks.get(name) match {
        case Some(sink) =>
          val cur = frameSnapshot(name, processedThrough - 1)
          sink.deliver(name, frontier, frameDiff(cur, None, frontier))
          prevFrames(name) = cur
        case None =>
          val cur = snapshot(name, processedThrough - 1)
          buffer(name, frontier, None, cur.valuesIterator)
          prevSnapshots(name) = cur
      }
      initialized += name
    }

    val times = domain.pendingTimes(0L, next).filter(_ >= earliestUnprocessed)
    for (t <- times) {
      // Delivery granularity: coarsen emitted times STRICTLY up to the next
      // interval bound — (t/g + 1)·g even at exact multiples (the reference
      // Coarsen, src/timestamp/mod.rs:151-154) — and hold them until the
      // frontier passes that bound.
      def coarse(name: String): Option[Long] =
        granularities.get(name).map(g => (t / g + 1L) * g)
      // Each attribute's delta feed at a time is built once, on first use,
      // and shared by every maintained rule that reads it.
      val feeds = mutable.Map.empty[String, Option[Delta]]
      // Every maintained interest advances as ONE Spark job per completed
      // time, 3DF's one dataflow step per epoch: the diffs build lazily,
      // and one action materializes every state commit with the collected
      // rows. Sink frames read the committed outputs, so they go out
      // after it; without one, the outputs are dead once it ran.
      val maintained = interests.toSeq.filter(incrementalQs.contains)
      val collected = mutable.ArrayBuffer.empty[String]
      val frames = mutable.ArrayBuffer.empty[(String, DataFrame)]
      val (_, rows) = CommitLedger.named(spark.sparkContext, "graft.engine.Engine.advance") {
        CommitLedger.run(spark.sparkContext,
            outputsDead = !maintained.exists(sinks.contains)) {
          val rdds = maintained.flatMap { name =>
            val iq = incrementalQs(name)
            val deltas = incrementalDeltas(name,
              a => feeds.getOrElseUpdate(a, bufferFeed(a, t, t + 1L)))
            if (deltas.isEmpty) None
            else {
              val diff = iq.advanceDeltas(deltas, consolidate = sinks.contains(name))
              // Data-sized delivery: the maintained diffs go to the sink
              // as a DataFrame — never collected, and (unlike the
              // snapshot-sink path) computed from the delta alone.
              if (sinks.contains(name)) {
                frames += ((name, sinkFrame(iq.frameOf(diff), coarse(name).getOrElse(t))))
                None
              } else {
                collected += name
                Some(diff)
              }
            }
          }
          (Nil, rdds)
        }
      }
      collected.zip(rows).foreach { case (name, rs) =>
        buffer(name, t, coarse(name),
          drainRows(rs, incrementalQs(name).outputIsPathArray))
      }
      frames.foreach { case (name, frame) => deliver(name, t, coarse(name), frame) }
      for (name <- interests if !incrementalQs.contains(name)) sinks.get(name) match {
        case Some(_) =>
          val cur = frameSnapshot(name, t)
          deliver(name, t, coarse(name),
            frameDiff(cur, prevFrames.get(name), coarse(name).getOrElse(t)))
          prevFrames(name) = cur
        case None =>
          val cur = snapshot(name, t)
          val prev = prevSnapshots(name)
          buffer(name, t, coarse(name), (cur.keySet ++ prev.keySet).iterator.flatMap { k =>
            val (tuple, w) = cur.getOrElse(k, (prev(k)._1, 0L))
            val d = w - prev.get(k).fold(0L)(_._2)
            if (d != 0L) Some((tuple, d)) else None
          })
          prevSnapshots(name) = cur
      }
    }
    processedThrough = times.lastOption.map(_ + 1).getOrElse(processedThrough)
    domain.prunePending(processedThrough)
    frontier = next
    // Release coarsened diffs whose interval bound has now completed.
    for ((name, buf) <- pendingCoarse if interests(name)) {
      val (ready, held) = buf.partition(_._2 < frontier)
      outputs(name) ++= ready
      buf.clear()
      buf ++= held
    }
    for ((name, buf) <- pendingCoarseFrames if interests(name)) {
      val (ready, held) = buf.partition(_._1 < frontier)
      ready.foreach { case (tOut, df) => sinks(name).deliver(name, tOut, df) }
      buf.clear()
      buf ++= held
    }
  }

  private var processedThrough: Long = 0L
  private def earliestUnprocessed: Long = processedThrough

  /** Append a rule's diffs at time `t` to its drain buffer, or hold them
    * until the frontier passes their coarsened time. */
  private def buffer(name: String, t: Long, coarse: Option[Long],
      diffs: Iterator[(Seq[Any], Long)]): Unit = {
    val (tOut, buf) = coarse match {
      case Some(c) =>
        (c, pendingCoarse.getOrElseUpdate(name, mutable.ArrayBuffer.empty))
      case None => (t, outputs(name))
    }
    diffs.foreach { case (tuple, w) => buf += ((tuple, tOut, w)) }
  }

  /** Hand a rule's diff frame at time `t` to its sink, or hold it until
    * the frontier passes its coarsened time. */
  private def deliver(name: String, t: Long, coarse: Option[Long],
      frame: DataFrame): Unit = coarse match {
    case Some(tOut) =>
      pendingCoarseFrames.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        ((tOut, frame))
    case None => sinks(name).deliver(name, t, frame)
  }

  /** Fetch and clear accumulated output diffs for a rule (empty after
    * `uninterest`). */
  def drain(name: String): Seq[(Seq[Any], Long, Long)] =
    outputs.get(name) match {
      case None => Seq.empty
      case Some(buf) =>
        val out = buf.toSeq
        buf.clear()
        out
    }

  /** Current consolidated result of a rule as a DataFrame (columns c0..cn
    * plus weight `_w`) — the non-diff query path. */
  def resultFrame(name: String): DataFrame = {
    val compiler = new Compiler(domain.asOf(Long.MaxValue), domain.rules,
      aggregateSetSemantics = setSemantics)
    val rel = compiler.compileRule(name)
    canonicalize(compiler, rel).df
  }

  private def canonicalize(compiler: Compiler, rel: Rel): Rel =
    if (setSemantics) rel.copy(df = compiler.distinctify(rel.df))
    else rel.copy(df = compiler.consolidate(rel.df))

  /** Distributed snapshot of a rule at time `t`: the canonicalized result
    * frame (columns c0..cn + _w). Stable against later transacts — asOf
    * collections copy the datom buffer at build time. */
  private def frameSnapshot(name: String, t: Long): DataFrame = {
    snapshotRecomputes(name) += 1L
    val compiler = new Compiler(domain.asOf(t), domain.rules,
      aggregateSetSemantics = setSemantics)
    val rel = canonicalize(compiler, compiler.compileRule(name))
    resultKinds(name) =
      if (rel.isPathArray) Seq(ValueKind.KVariant) else rel.kinds
    if (rel.isPathArray) pathArrayResults += name else pathArrayResults -= name
    rel.df
  }

  /** Diffs between two snapshot frames as (c0..cn, _t, _diff), computed
    * distributed: a null-safe full-outer join on the tuple columns — the
    * one shuffle a multiset diff fundamentally needs. With no previous
    * snapshot, the current weights ARE the diffs. */
  private def frameDiff(
      cur: DataFrame, prev: Option[DataFrame], tOut: Long): DataFrame = {
    val cols = cur.columns.dropRight(1) // tuple columns without _w
    prev match {
      case None =>
        cur.select(cols.map(col) :+ lit(tOut).as("_t") :+
          col(Rel.W).as("_diff"): _*)
      case Some(p) =>
        val l = cur.withColumnRenamed(Rel.W, "_wl")
        val r = cols.foldLeft(p.withColumnRenamed(Rel.W, "_wr")) {
          (df, c) => df.withColumnRenamed(c, c + "_r")
        }
        val cond = cols.map(c => col(c) <=> col(c + "_r")).reduce(_ && _)
        l.join(r, cond, "full_outer")
          .select(cols.map(c => coalesce(col(c), col(c + "_r")).as(c)) :+
            lit(tOut).as("_t") :+
            (coalesce(col("_wl"), lit(0L)) -
              coalesce(col("_wr"), lit(0L))).as("_diff"): _*)
          .where(col("_diff") =!= 0L)
    }
  }

  /** Build the standing maintained query for an incremental interest,
    * replaying accumulated history into its state — as initial diffs at
    * the current frontier when `deliverReplay` (a late subscriber, the
    * analog of the reference replaying the compacted trace into a newly
    * built dataflow), silently when converting a rule the snapshot path
    * already delivered. Returns false — serve via snapshots for now —
    * while a referenced attribute's kind is still unknown (no datom or
    * static registration yet). */
  private def tryInitIncremental(name: String, deliverReplay: Boolean): Boolean = {
    // Derived-attribute scans inline into their defining plans, so the
    // standing query maintains the VIEW's algebra over base attributes.
    val rulePlans0: Map[String, Plan] =
      domain.rules.map { case (n, r) => n -> r.plan }
    val plan = inlineDerived(domain.rules(name).plan, rulePlans0.values)
    // Inline ONLY the rules reachable from this interest's plan (its
    // NameExpr closure): a registered-but-never-referenced rule using a
    // derived attribute in an unsupported shape (Hector binding,
    // MatchEA/MatchAV) rejects with GraftError — which the
    // UnmaintainablePlan demotion below does NOT catch — so eagerly
    // inlining the whole rules map broke every other standing's
    // incremental init (round-16 advisory, bi twin in
    // BiMaintained.Standing). The bad rule still rejects loudly when a
    // standing actually references it.
    val reachable: Set[String] = Plan.reachableRules(name, rulePlans0)
    val rulePlans: Map[String, Plan] =
      rulePlans0.collect { case (n, p) if reachable(n) =>
        n -> inlineDerived(p, rulePlans0.values)
      }
    val attrs = graft.streaming.IncrementalQuery.planAttributes(plan, rulePlans)
    // Distinct attributes pass a maintained per-attribute support
    // threshold inside IncrementalQuery — the standing analog of the
    // snapshot path's "net support > 0 -> weight 1" collection.
    // LastWriteWins attributes pass a maintained per-entity latest-event
    // view, fed raw ordered events (e, v, t, diff, seq) instead of
    // consolidated weights.
    val distinctAttrs = attrs.filter(a => domain.staticFrame(a).isEmpty &&
      domain.semanticsOf(a) == InputSemantics.Distinct)
    val lwwAttrs = attrs.filter(a => domain.staticFrame(a).isEmpty &&
      domain.semanticsOf(a) == InputSemantics.LastWriteWins)
    val known = domain.knownKinds
    if (!attrs.forall(known.contains)) return false
    val iq = new graft.streaming.IncrementalQuery(spark, plan, known,
      rulePlans, distinctAttrs, lwwAttrs, setSemantics = setSemantics,
      partitions = statePartitions)
    incrementalQs(name) = iq
    resultKinds(name) = iq.outputKinds
    if (iq.outputIsPathArray) pathArrayResults += name else pathArrayResults -= name
    staticsPending(name) =
      iq.referencedAttributes.filter(a => domain.staticFrame(a).isDefined)
    if (processedThrough > 0L) {
      val deltas = incrementalDeltas(name, bufferFeed(_, 0L, processedThrough))
      if (deltas.nonEmpty) {
        // Only a replay the Engine collects skips the distributed
        // consolidation (a conversion delivers nothing, so it needs none).
        // One action materializes the replay's commits with its rows.
        val collect = deliverReplay && !sinks.contains(name)
        var diffs: Delta = null
        val (_, rows) = CommitLedger.run(spark.sparkContext,
            outputsDead = !(deliverReplay && sinks.contains(name))) {
          diffs = iq.advanceDeltas(deltas,
            consolidate = deliverReplay && sinks.contains(name))
          (Nil, if (collect) Seq(diffs) else Nil)
        }
        if (collect)
          buffer(name, frontier, None, drainRows(rows(0), iq.outputIsPathArray))
        else if (deliverReplay)
          sinks(name).deliver(name, frontier, sinkFrame(iq.frameOf(diffs), frontier))
        // else: state advanced; these times were already delivered as
        // snapshot diffs — do not re-deliver.
      }
    }
    prevSnapshots -= name
    prevFrames -= name
    true
  }

  /** Shape a maintained diff frame for sink delivery: `(c0..cn, _t,
    * _diff)`, the [[DiffSink]] contract. */
  private def sinkFrame(diff: DataFrame, tOut: Long): DataFrame = {
    val cols = diff.columns.dropRight(1)
    diff.select(cols.map(col) :+ lit(tOut).as("_t") :+
      col(Rel.W).as("_diff"): _*)
  }

  /** Partition count for a driver-buffered datom feed: one partition per
    * ~64k rows, capped at the cluster's default parallelism, so a
    * data-sized transact through the wire fans out before its first
    * shuffle instead of serializing on a single partition. */
  private def feedPartitions(nRows: Int): Int = {
    val byRows = nRows / 65536 + 1
    math.max(1, math.min(spark.sparkContext.defaultParallelism, byRows))
  }

  /** The driver-buffered delta feed of attribute `a` over datom times in
    * [from, until): `((e, v), diff)` rows, or raw `((e, v, t, seq),
    * diff)` events for a LastWriteWins attribute — consolidating by
    * (e, v) would erase the (t, seq) transaction order the latest-wins
    * view is defined over. */
  private def bufferFeed(a: String, from: Long, until: Long): Option[Delta] = {
    val isLww = domain.staticFrame(a).isEmpty &&
      domain.semanticsOf(a) == InputSemantics.LastWriteWins
    import scala.collection.immutable.ArraySeq
    val rows: Seq[(Seq[Any], Long)] =
      if (isLww) domain.bufferedEvents(a, from, until).map {
        case (e, v, t, d, q) => (ArraySeq[Any](e, v, t, q), d) }
      else domain.bufferedDeltas(a, from, until).map {
        case (e, v, d) => (ArraySeq[Any](e, v), d) }
    if (rows.isEmpty) None
    else Some(spark.sparkContext.parallelize(rows, feedPartitions(rows.size)))
  }

  /** Per-attribute delta feeds for a maintained rule; pending static bulk
    * attributes ride along with the first batch that feeds them
    * (weight-1 initial load). */
  private def incrementalDeltas(
      name: String, feeds: String => Option[Delta]): Map[String, Delta] = {
    val iq = incrementalQs(name)
    val statics = staticsPending.getOrElse(name, Set.empty)
    staticsPending(name) = Set.empty
    val staticFeeds = statics.iterator.map { a =>
      a -> iq.feedOf(a, domain.staticFrame(a).get
        .select(col("e"), col("v"), lit(1L).as("diff")))
    }
    (staticFeeds ++ iq.referencedAttributes.iterator.flatMap(a => feeds(a).map(a -> _)))
      .toSeq.groupBy(_._1).map { case (a, ds) =>
        a -> ds.map(_._2).reduce(_ union _) }
  }

  /** A maintained query's collected UNCONSOLIDATED diff rows as drain
    * tuples, consolidated on the driver: what the distributed `groupBy`
    * would return, without its shuffle. */
  private def drainRows(rows: Array[Any], pathArray: Boolean): Iterator[(Seq[Any], Long)] =
    keyed(rows.iterator.map(_.asInstanceOf[(Seq[Any], Long)]), pathArray)
      .valuesIterator.filter(_._2 != 0L)

  /** Collected result rows summed per tuple under Spark's grouping
    * equality ([[Engine.groupKey]]): grouping key -> (drain tuple,
    * weight). Drain tuples take one canonical form on both serving
    * paths: [[Engine.deepNative]], with NaN and -0.0 normalized as
    * `groupBy` normalizes them. `pathArray`: a Pull result's single
    * array<variant> cell IS the path, and drained tuples must have the
    * reference's flat `Vec<Value>` path shape on BOTH serving paths
    * (`tests/pull_test.rs` expectations; caught by the plan fuzz — the
    * maintained route used to drain the packed cell wrapped). */
  private def keyed(rows: Iterator[(Seq[Any], Long)], pathArray: Boolean)
      : mutable.LinkedHashMap[Seq[Any], (Seq[Any], Long)] = {
    val acc = mutable.LinkedHashMap.empty[Seq[Any], (Seq[Any], Long)]
    rows.foreach { case (cells, w) =>
      val key = cells.map(Engine.groupKey)
      acc.get(key) match {
        case Some((tuple, w0)) => acc(key) = (tuple, w0 + w)
        case None =>
          val native = cells.map(c => Engine.normalizeReals(Engine.deepNative(c)))
          val tuple =
            if (pathArray) native.head.asInstanceOf[Seq[Any]] else native
          acc(key) = (tuple, w)
      }
    }
    acc
  }

  private def snapshot(name: String, t: Long): Map[Seq[Any], (Seq[Any], Long)] = {
    snapshotRecomputes(name) += 1L
    val compiler = new Compiler(domain.asOf(t), domain.rules,
      aggregateSetSemantics = setSemantics)
    val rel = canonicalize(compiler, compiler.compileRule(name))
    resultKinds(name) =
      if (rel.isPathArray) Seq(ValueKind.KVariant) else rel.kinds
    if (rel.isPathArray) pathArrayResults += name else pathArrayResults -= name
    // Pull results with heterogeneous arity arrive as one array<variant>
    // column — unpacked so tuples compare against plain expectations.
    keyed(rel.df.collect().iterator.map { r =>
      val n = r.length - 1
      ((0 until n).map(r.get), r.getLong(n))
    }, rel.isPathArray).toMap
  }
}

object Engine {

  private[engine] val log = org.slf4j.LoggerFactory.getLogger(classOf[Engine])

  /** Canonical driver-side form of a collected cell: variant structs decode
    * to their payload, rational structs to Seq(num, den), nested rows and
    * arrays to Seq — so results compare cleanly against
    * `Value(...).native` expectations. */
  def deepNative(v: Any): Any = v match {
    case r: Row if isVariant(r) => variantPayload(r)
    case r: Row                 => r.toSeq.map(deepNative)
    case s: scala.collection.Seq[_] => s.map(deepNative).toSeq
    case a: Array[_]            => a.map(deepNative).toSeq
    case other                  => other
  }

  private def isVariant(r: Row): Boolean =
    r.length == 7 && r.schema != null &&
      r.schema.fieldNames.sameElements(Variant.schema.fieldNames)

  private def variantPayload(r: Row): Any = r.getInt(0) match {
    case 0 | 1 | 7 => r.get(1) // aid / string / uuid
    case 2         => r.get(3) // bool
    case 3 | 5 | 6 => r.get(2) // number / eid / instant
    case 4         => Seq(r.get(5), r.get(6)) // rational
    case 8         => r.get(4) // real
    case other     => sys.error(s"unknown variant tag $other")
  }

  /** Grouping key of a collected cell under Spark's grouping equality:
    * floating values compare as their normalized bits (every NaN equal,
    * -0.0 = 0.0 — Catalyst's `NormalizeFloatingNumbers`), also inside
    * structs (variants) and arrays (pull paths), and binary by content.
    * Boxed `==` would keep a NaN tuple apart from itself. */
  private[graft] def groupKey(v: Any): Any = v match {
    case d: Double => RealBits(java.lang.Double.doubleToLongBits(d + 0.0))
    case f: Float  => RealBits(java.lang.Float.floatToIntBits(f + 0.0f).toLong)
    case r: Row    => r.toSeq.map(groupKey)
    case b: Array[Byte] => b.toSeq
    case a: Array[_] => a.toSeq.map(groupKey)
    case s: scala.collection.Seq[_] => s.map(groupKey).toSeq
    case other => other
  }

  private final case class RealBits(bits: Long)

  /** The value Spark's `groupBy` outputs for a cell: NaN canonical,
    * -0.0 as 0.0, inside structs and sequences alike. */
  private[graft] def normalizeReals(v: Any): Any = v match {
    case d: Double => if (d.isNaN) Double.NaN else d + 0.0
    case f: Float  => if (f.isNaN) Float.NaN else f + 0.0f
    case r: GenericRowWithSchema =>
      new GenericRowWithSchema(r.toSeq.map(normalizeReals).toArray, r.schema)
    case r: Row => Row.fromSeq(r.toSeq.map(normalizeReals))
    case s: scala.collection.Seq[_] => s.map(normalizeReals).toSeq
    case other => other
  }

  /** Expected-side canonical form of a `Value`, matching `deepNative`. */
  def expectedNative(v: Value): Any = v match {
    case Value.VRational(n, d) => Seq(n, d)
    case other                 => other.native
  }
}
