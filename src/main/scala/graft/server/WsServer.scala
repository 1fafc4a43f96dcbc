package graft.server

import java.io.{BufferedReader, DataInputStream, DataOutputStream, InputStreamReader}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import scala.collection.mutable
import scala.util.control.NonFatal

import graft.engine.Engine
import graft.model.{Value, ValueKind}

/** WebSocket transport over [[graft.engine.Engine]] — the Spark analog of
  * the reference server loop (`server/src/main.rs:330-660` +
  * `networking.rs:1-320`): accept reference-format JSON requests (RFC 6455
  * text frames), dispatch them through `Engine.handle`, and push one
  * `Output::QueryDiff(name, batch)` message per advance to every client
  * interested in that query.
  *
  * Transport-layer scope mirrors the reference: text messages in
  * (client-masked, as RFC 6455 requires; fragmented messages reassembled),
  * text frames out, ping answered with pong, close answered with close.
  * The engine itself is single-threaded behind a lock — the reference
  * sequences all client commands through one worker the same way
  * (`server/src/main.rs:360-380`).
  */
final class WsServer(engine: Engine, port: Int = 0,
    // Optional wall-clock domain drive: advance one epoch every period and
    // push resulting diffs — the reference server's realtime loop
    // (`server/src/main.rs:640-660`) via the scheduler module.
    tickPeriodMillis: Option[Long] = None,
    // BITEMPORAL domain mode ([[WsServer.bi]]): the server wraps a
    // [[graft.streaming.BiMaintained]] instead of the unitemporal engine
    // and reads the SAME reference Request grammar with `Time::Bi`
    // coordinates — one domain type per server process, exactly as the
    // reference runs. Interest granularity maps to a Coarsen lane, a
    // CsvFile sink to the data-sized `interestSink` delivery edge, and
    // Uninterest / disconnect to lane teardown.
    biDomain: Option[graft.streaming.BiMaintained] = None) {

  require(biDomain.isEmpty || engine == null,
    "a server process wraps ONE domain: engine or biDomain, not both")
  require(biDomain.nonEmpty || engine != null,
    "a server needs a domain: pass an engine or use WsServer.bi")
  require(biDomain.isEmpty || tickPeriodMillis.isEmpty,
    "the realtime ticker drives the unitemporal engine only")

  private val serverSocket = new ServerSocket(port)
  @volatile private var running = true
  // client id -> (socket out, names this client declared interest in)
  private val clients =
    mutable.LinkedHashMap.empty[Long, (DataOutputStream, mutable.Set[String])]
  private var nextClient = 0L
  private var nextTx = 0L

  def boundPort: Int = serverSocket.getLocalPort

  private val acceptThread = new Thread(() => {
    while (running) {
      try {
        val sock = serverSocket.accept()
        val id = synchronized { nextClient += 1; nextClient }
        val t = new Thread(() => serve(id, sock), s"graft-ws-client-$id")
        t.setDaemon(true)
        t.start()
      } catch { case NonFatal(_) => () /* socket closed on stop() */ }
    }
  }, "graft-ws-accept")
  acceptThread.setDaemon(true)

  private val tickThread: Option[Thread] = tickPeriodMillis.map { period =>
    val sched = new graft.scheduling.RealtimeScheduler()
    sched.tickEvery(period)
    val t = new Thread(() => {
      while (running) {
        val ran = synchronized {
          val n = sched.step(engine)
          if (n > 0) flushDiffs()
          n
        }
        if (ran == 0) Thread.sleep(math.min(period, sched.untilNext.getOrElse(period)))
      }
    }, "graft-ws-ticker")
    t.setDaemon(true)
    t
  }

  // Rules served by a live Structured Streaming query rather than the
  // batch engine: Interest in these names only registers delivery.
  private val streamNames = mutable.Set.empty[String]

  def start(): WsServer = {
    acceptThread.start()
    tickThread.foreach(_.start())
    this
  }

  /** Serve a STREAMING rule: `iq` maintains it over a live datom stream
    * (columns `a, e, v, t, diff`, the [[graft.streaming.IncrementalQuery.attach]]
    * frame), and each completed time's diffs go out as one
    * `Output::QueryDiff(name, batch)` to every client interested in
    * `name` — the reference's live-dataflow delivery
    * (`server/src/main.rs:455-520`) driven by the stream itself instead of
    * explicit AdvanceDomain requests. Wire types come from the query:
    * its output kinds, and its explicit path-array marker for pull paths
    * (never inferred from payload shape, as in [[flushDiffs]]). */
  def serveStream(name: String, iq: graft.streaming.IncrementalQuery,
      datoms: org.apache.spark.sql.DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    synchronized { streamNames += name }
    val kinds = iq.outputKinds
    val pathArray = iq.outputIsPathArray
    iq.attach(datoms, s"graft-ws-stream-$name") { (t, diffs) =>
      // No interested client ⇒ skip the collect + render entirely (the
      // query keeps maintaining so a later Interest picks up from there).
      if (synchronized(clients.values.exists(_._2.contains(name)))) {
        val batch = diffs.collect().toSeq.map { r =>
          val w = r.length - 1
          val tuple =
            if (pathArray) r.getSeq[org.apache.spark.sql.Row](0)
              .map(graft.model.Variant.valueOf)
            else (0 until w).map(i => asValue(r.get(i), kinds.lift(i)))
          (tuple, t, r.getLong(w))
        }
        val msg = Wire.renderOutput(Output.QueryDiff(name, batch))
        synchronized {
          for ((out, names) <- clients.values if names.contains(name))
            send(out, msg)
        }
      }
    }
  }

  def stop(): Unit = {
    running = false
    serverSocket.close()
    synchronized {
      clients.values.foreach { case (out, _) => out.close() }
      voidWriters.values.foreach(w =>
        try w.close() catch { case NonFatal(_) => () })
      voidWriters.clear()
      csvWriters.values.foreach(w =>
        try w.close() catch { case NonFatal(_) => () })
      csvWriters.clear()
    }
  }

  // ----------------------------------------------------------- connection

  private def serve(id: Long, sock: Socket): Unit = {
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      handshake(in, out)
      synchronized { clients(id) = (out, mutable.Set.empty[String]) }
      var open = true
      // Fragmented text messages (FIN=0 + continuation frames): clients —
      // including the JDK's — split large payloads, so reassemble before
      // dispatching (RFC 6455 §5.4).
      val assembling = new java.io.ByteArrayOutputStream()
      var assemblingText = false
      while (open && running) {
        readFrame(in) match {
          case Frame(OpText, payload, fin) =>
            if (fin) handleMessage(id, new String(payload, UTF_8))
            else { assembling.reset(); assembling.write(payload); assemblingText = true }
          case Frame(OpCont, payload, fin) if assemblingText =>
            assembling.write(payload)
            if (fin) {
              assemblingText = false
              handleMessage(id, assembling.toString(UTF_8))
            }
          case Frame(OpPing, payload, _) =>
            synchronized(writeFrame(out, OpPong, payload))
          case Frame(OpClose, _, _) =>
            synchronized(writeFrame(out, OpClose, Array.emptyByteArray))
            open = false
          case _ => () // pong / binary: ignored
        }
      }
    } catch {
      case NonFatal(_) => () // client went away
    } finally {
      // The reference routes a disconnect through Request::Disconnect and
      // tears down dataflows the leaving client was the last to watch
      // (`server/src/main.rs:349-355`, `mod.rs:276-281`).
      synchronized {
        clients.remove(id).foreach { case (_, names) =>
          // Drop this client's sink routing with its interests — a stale
          // sink state would silently swallow a reconnecting client's
          // plain delivery under a reused id — and its granularity state.
          sinkStates.filterInPlace { case ((cid, _), _) => cid != id }
          biSinkStates.filterInPlace { case ((cid, _), _) => cid != id }
          clientGrain.filterInPlace { case ((cid, _), _) => cid != id }
          heldCoarse.filterInPlace { case ((cid, _), _) => cid != id }
          names.foreach { name =>
            if (!clients.values.exists(_._2.contains(name)))
              try domainUninterest(name) catch { case NonFatal(_) => () }
          }
        }
      }
      try sock.close() catch { case NonFatal(_) => () }
    }
  }

  /** One client message = a JSON request (or array of requests), sequenced
    * through the engine under the lock; any buffered diffs produced by the
    * batch are fanned out afterwards. Errors go back to the offending
    * client as `Output::Error`, like the reference's command loop
    * (`server/src/main.rs:616-624`). */
  private def handleMessage(id: Long, text: String): Unit = synchronized {
    nextTx += 1
    try biDomain match {
      case Some(bm) => handleBi(bm, id, text)
      case None     => handleUni(id, text)
    } catch {
      case NonFatal(e) =>
        val (category, message) = e match {
          case graft.model.GraftError(c, m) => (c, m)
          case _ => ("df.error.category/incorrect", String.valueOf(e.getMessage))
        }
        clients.get(id).foreach { case (out, _) =>
          send(out, Wire.renderOutput(Output.Error(id, category, message, nextTx)))
        }
    }
  }

  // Bi mode: the (granularity, sink spec) each standing was attached
  // with — the engine holds one per rule, so the wire layer owns
  // idempotency and fan-out membership.
  private val biAttached =
    mutable.Map.empty[String, (Option[(Long, Long)], Option[Request.SinkSpec])]

  // Per-(client, name) BITEMPORAL wire sink states (AssocIn / JsonDoc):
  // folded from the drained diffs like the unitemporal sinkStates —
  // they ride the shared plain standing, so one client's wire sink
  // never diverts another's QueryDiff delivery. Engine-side DiffSinks
  // (CsvDir / ParquetDir / TheVoid) stay per-rule in biAttached.
  private val biSinkStates = mutable.Map.empty[(Long, String), SinkState]

  /** Tear a standing down on whichever domain this server wraps. The
    * per-rule parquet record goes with it — a disconnect-then-reconnect
    * client re-sending the same ParquetDir Interest must RE-attach the
    * engine sink (the engine's standing was torn down), not hit a stale
    * idempotence record that silently leaves delivery on the wire. */
  private def domainUninterest(name: String): Unit = biDomain match {
    case Some(bm) => bm.uninterest(name); biAttached -= name
    case None     => engine.uninterest(name); uniParquetAttached -= name
  }

  /** Bitemporal command dispatch — the same sequencing discipline as the
    * unitemporal path (one request batch at a time under the lock), with
    * `Time::Bi` coordinates: Transact carries (sys, event) pair times,
    * Interest granularity selects the Coarsen lane (with an optional
    * CsvFile sink routing to the data-sized `interestSink` edge),
    * AdvanceDomain moves the system frontier and pushes each standing's
    * drained diffs as `QueryDiff` rows with `Bi` times. */
  private def handleBi(bm: graft.streaming.BiMaintained, id: Long,
      text: String): Unit = {
    import Wire.BiWireReq
    Wire.parseBiRequests(text).foreach {
      case BiWireReq.BiTransact(ds) =>
        bm.transact(ds.map { case (e, a, v, t, d) =>
          bm.BiDatom(Value.VEid(e), a, v, t, d)
        })
      case BiWireReq.BiInterest(name, g, sinkSpec0) =>
        // AssocIn / JsonDoc are PER-CLIENT wire sinks folded from the
        // drained diffs (the unitemporal model — the reference's sink
        // enum is timestamp-generic like the rest of the loop): they
        // ride the shared PLAIN standing, so the per-rule engine-sink
        // pin below sees None and a second subscriber (with or without
        // its own wire sink) joins the fan-out instead of erroring.
        val wireSink: Option[SinkState] = sinkSpec0 match {
          case Some(Request.SinkSpec.AssocIn(stateful)) =>
            Some(AssocState(stateful,
              if (stateful.isDefined) Some(graft.sinks.AssocIn.Obj()) else None))
          case Some(Request.SinkSpec.JsonDoc(required)) =>
            Some(JsonState(new graft.sinks.JsonDocSink(required)))
          case _ => None
        }
        val sinkSpec = if (wireSink.isDefined) None else sinkSpec0
        // The bi engine pins ONE (granularity, sink) per standing — so
        // attach only on the FIRST Interest for a name and make every
        // identical re-send (reconnects, second subscribers joining the
        // fan-out) idempotent; a MISMATCHED config is a clear error
        // rather than an attach-time reference-equality failure.
        // Compare on the fields the attach actually USES (CsvFile's
        // header/flexible flags never reach the CsvDirSink), so a
        // semantically identical re-send stays idempotent.
        def sinkKey(sp: Option[Request.SinkSpec]): Any = sp match {
          case None => "none"
          case Some(Request.SinkSpec.CsvFile(path, _, delim, _)) =>
            ("csv", path, delim)
          case Some(Request.SinkSpec.ParquetDir(path)) => ("pqdir", path)
          case Some(Request.SinkSpec.TheVoid(_))       => "void"
          case Some(other)                             => other
        }
        biAttached.get(name) match {
          case Some((g0, s0)) =>
            if (g0 != g || sinkKey(s0) != sinkKey(sinkSpec)) scala.sys.error(
              s"interest '$name' is already served at granularity $g0 " +
                s"with sink $s0; bitemporal standings hold one " +
                "(granularity, sink) per rule — uninterest first")
          case None =>
            sinkSpec match {
              case None => bm.interest(name, g)
              case Some(Request.SinkSpec.CsvFile(path, _, delim, _)) =>
                bm.interestSink(name,
                  new graft.sinks.CsvDirSink(path, delim), g)
              case Some(Request.SinkSpec.ParquetDir(path)) =>
                bm.interestSink(name,
                  new graft.sinks.ParquetDirSink(path), g)
              case Some(Request.SinkSpec.TheVoid(_)) =>
                bm.interestSink(name, new graft.sinks.ForeachFrameSink(
                  (_, _, df) => { val _ = df.count(); () }), g)
              case Some(other) =>
                scala.sys.error(s"unsupported bitemporal sink: $other")
            }
            biAttached(name) = (g, sinkSpec)
        }
        wireSink match {
          case Some(st) => biSinkStates((id, name)) = st
          case None     => biSinkStates -= ((id, name))
        }
        clients(id)._2 += name
      case BiWireReq.BiAdvance(sysT) =>
        bm.advance(sysT)
      case BiWireReq.Passthrough(Request.CreateAttribute(name, config)) =>
        bm.createAttribute(name, config)
      case BiWireReq.Passthrough(Request.Register(rules, _)) =>
        rules.foreach(bm.register)
      case BiWireReq.Passthrough(Request.Uninterest(name)) =>
        clients(id)._2 -= name
        biSinkStates -= ((id, name))
        if (!clients.values.exists(_._2.contains(name)))
          domainUninterest(name)
      case BiWireReq.Passthrough(Request.RegisterSource(src)) =>
        // Data-sized bitemporal ingest is wire-drivable: the source's
        // per-attribute rows enter through the distributed
        // registerHistory edge (sys = frontier, event = the CSV's
        // timestamp_offset column or 0) — never a driver Seq. The
        // registration lands "now": the next AdvanceDomain past the
        // frontier delivers it (the reference's source-join semantics,
        // `server/src/main.rs:396-420`, timestamp-generic sources
        // `src/sources/mod.rs:47-64`).
        bm.registerSource(src)
      case BiWireReq.Passthrough(Request.Subscribe(attr)) =>
        // Whole-attribute interest — the reference's Subscribe is
        // timestamp-generic like the rest of the server loop
        // (`src/server/mod.rs:363-374`): a MatchA rule named after the
        // attribute, served through the shared bi standing machinery on
        // a windowless lane. Idempotent across clients (the rule is
        // per-name; later subscribers join the fan-out). A user rule
        // that happens to share the attribute's name is a loud error —
        // silently joining its standing (or overwriting it via
        // register) would serve the subscriber someone else's query.
        val subPlan = graft.model.Plan.MatchA(0, attr, 1)
        bm.registeredPlan(attr).foreach { p =>
          if (p != subPlan) scala.sys.error(
            s"Subscribe '$attr' collides with a registered rule of the " +
              "same name; rename the rule or Interest it directly")
        }
        if (!biAttached.contains(attr)) {
          bm.register(graft.model.Rule(attr, subPlan))
          bm.interest(attr, None)
          biAttached(attr) = (None, None)
        }
        clients(id)._2 += attr
      case BiWireReq.Passthrough(Request.Derive(ns, query)) =>
        // Timestamp-generic Derive (`Request::Derive`,
        // `src/server/mod.rs:158-160`): the GraphQL pull rule registers
        // and serves under the namespace on a windowless lane (like
        // Subscribe), and each pulled path becomes a derived attribute
        // `ns/attr` that later-registered bi rules can MatchA against —
        // their standings inline the view plans at attach
        // (BiMaintained.derive). Idempotent across clients; a namespace
        // colliding with an unrelated user rule errors inside derive.
        bm.derive(ns, query)
        if (!biAttached.contains(ns)) {
          bm.interest(ns, None)
          biAttached(ns) = (None, None)
        }
        clients(id)._2 += ns
      case BiWireReq.Passthrough(Request.Tick) =>
        // Wall-clock progress: advance the system frontier by one epoch
        // (`Request::Tick` — the bi mirror of the unitemporal
        // `advance(frontier + 1)`).
        bm.advance(bm.frontier + 1L)
      case BiWireReq.Passthrough(Request.Status) =>
        clients.get(id).foreach { case (out, _) =>
          send(out, Wire.renderOutput(Output.Message(id,
            """{"category":"df/status","message":"running"}""")))
        }
      case BiWireReq.Passthrough(Request.CloseInput(name)) =>
        // Timestamp-generic like the rest of the surface: later writes
        // to the attribute (Seq transacts, bulk frames, sources) are
        // conflicts, rejected inside the all-or-nothing window.
        bm.closeInput(name)
      case BiWireReq.Passthrough(Request.Setup)      => ()
      case BiWireReq.Passthrough(Request.Shutdown)   => ()
      case BiWireReq.Passthrough(Request.Disconnect) => ()
      case BiWireReq.Passthrough(other) =>
        scala.sys.error(s"unsupported in a bitemporal domain: $other")
    }
    flushBiDiffs(bm)
  }

  /** Push each bitemporal standing's drained diffs to its interested
    * clients — as `QueryDiff` rows carrying `Time::Bi`, or folded
    * through the client's per-(client, name) wire sink (AssocIn /
    * JsonDoc) when one is attached (engine-sink-delivered standings
    * drain empty by design — their diffs went to the DiffSink). */
  private def flushBiDiffs(bm: graft.streaming.BiMaintained): Unit =
    for (name <- bm.interestNames) {
      val diffs = bm.drain(name)
      if (diffs.nonEmpty) {
        // QueryDiff keeps the established bare-value wire shape; the
        // per-client sinks get KIND-TAGGED tuples (an entity must come
        // back as an Eid — AssocIn's path-key parsing rejects untagged
        // numbers), with pull path-array cells EXPANDED positionally
        // like the uni flushDiffs (root eid, attribute aids, leaf
        // value) — the bi Derive + AssocIn pairing is the reference's
        // gql request shape. Both conversions are pay-per-use.
        lazy val pathArray = bm.isPathArrayResult(name)
        // Path-array rules render EXPANDED on the QueryDiff route too
        // (the uni wire shape — a raw path cell would mis-tag a 2-long
        // path as a Rational or stringify longer ones); scalar rules
        // keep the established bare-value QueryDiff shape.
        lazy val msg = Wire.renderBiQueryDiff(name,
          if (pathArray) tagged
          else diffs.map { case (tuple, t, d) =>
            (tuple.map(asValue(_, None)), t, d)
          })
        lazy val tagged = {
          val kinds = bm.resultKinds(name)
          diffs.map { case (tuple, t, d) =>
            tuple match {
              // `cell.nonEmpty`: an empty path cell is malformed, but
              // `vs.init`/`vs.last` throwing here would abort the whole
              // flush loop AFTER drain() cleared the buffer — silent
              // diff loss for every later client/rule (round-16
              // advisory). Degrade to the generic tagging instead
              // (asValue renders a Seq safely).
              case Seq(cell: scala.collection.Seq[_])
                  if pathArray && cell.nonEmpty =>
                val vs = cell.toSeq
                val keys = vs.init.map {
                  case n: Long   => Value.VEid(n)
                  case a: String => Value.VAid(a)
                  case other     => asValue(other, None)
                }
                ((keys :+ asValue(vs.last, None)).toSeq, t, d)
              case _ =>
                (tuple.zipWithIndex.map { case (v, i) =>
                  asValue(v, kinds.flatMap(_.lift(i)))
                }, t, d)
            }
          }
        }
        clients.foreach { case (cid, (out, names)) =>
          if (names.contains(name)) biSinkStates.get((cid, name)) match {
            // A sink fold failing for ONE client (a malformed path
            // shape, a closed socket) must not abort the flush loop —
            // the drain already cleared the buffer, so an abort would
            // silently lose this advance's diffs for every LATER
            // client in the iteration. Contain per client, loudly.
            case Some(a: AssocState) =>
              guardedSinkFold(cid, out) { biSinkAssoc(cid, name, a, tagged) }
            case Some(j: JsonState) =>
              guardedSinkFold(cid, out) { biSinkJson(cid, name, j, tagged) }
            // The plain QueryDiff route forces the lazy `tagged`
            // expansion too (path-array rules) — same per-client
            // containment so one malformed row can't starve the rest
            // of the iteration (round-16 advisory).
            case _ => guardedSinkFold(cid, out) { send(out, msg) }
          }
        }
      }
    }

  private val biTimeOrd: Ordering[(Long, Long)] =
    Ordering.Tuple2[Long, Long]

  /** Contain one client's sink-fold failure: report it to THAT client
    * as a wire Error and let the flush loop continue — the drained
    * buffer is already cleared, so aborting would lose the advance's
    * diffs for every remaining subscriber. */
  private def guardedSinkFold(cid: Long, out: DataOutputStream)(
      body: => Unit): Unit =
    try body catch {
      case NonFatal(e) =>
        val (category, message) = e match {
          case graft.model.GraftError(c, m) => (c, m)
          case _ =>
            ("df.error.category/incorrect", String.valueOf(e.getMessage))
        }
        try send(out, Wire.renderOutput(
          Output.Error(cid, category, message, 0L)))
        catch { case NonFatal(_) => () }
    }

  /** Bi twin of [[sinkAssoc]]: groups by the `(sys, event)` coordinate
    * (lex order — the processing order the standing delivered in) and
    * folds each group through the shared AssocIn core; within a group
    * every row carries one time, so only diff order reaches the merge. */
  private def biSinkAssoc(cid: Long, name: String, a: AssocState,
      batch: Seq[(Seq[Value], (Long, Long), Long)]): Unit =
    for ((t, rows) <- batch.groupBy(_._2).toSeq.sortBy(_._1)(biTimeOrd)) {
      val paths = rows.map { case (tuple, _, d) => (tuple, 0L, d) }
      for ((_, json) <- assocOutputs(a, paths);
           (out, _) <- clients.get(cid)) {
        send(out, Wire.renderBiJson(name, json, t, 1L))
      }
    }

  /** Bi twin of [[sinkJson]]. */
  private def biSinkJson(cid: Long, name: String, j: JsonState,
      batch: Seq[(Seq[Value], (Long, Long), Long)]): Unit =
    for ((t, rows) <- batch.groupBy(_._2).toSeq.sortBy(_._1)(biTimeOrd)) {
      val outs = jsonDocOutputs(name, j,
        rows.map { case (tuple, _, d) => (tuple, d) })
      for ((root, json) <- outs; (out, _) <- clients.get(cid)) {
        send(out, Wire.renderBiJson(name,
          s"""{${Wire.qs(root)}:$json}""", t, 1L))
      }
    }

  private def handleUni(id: Long, text: String): Unit = {
    // Errors are reported to the offending client here (the original
    // unitemporal path's contract); the bi path reports via the
    // handleMessage-level catch.
    try {
      val requests = Wire.parseRequests(text)
      requests.foreach {
        case Request.Interest(name, g, sink, _) =>
          // The divert guard's OTHER direction: while a per-rule
          // ParquetDir sink stands, drain() is empty for the rule, so
          // ANY wire-delivered Interest (plain or via a per-client sink
          // state) would silently receive nothing. Reject it loudly
          // BEFORE any registration mutates; only a ParquetDir re-send
          // proceeds (idempotent on a matching path, a clear error on a
          // mismatch — both handled below).
          uniParquetAttached.get(name).foreach { case (p0, _) =>
            val isParquetResend = sink match {
              case Some(Request.SinkSpec.ParquetDir(_)) => true
              case _                                    => false
            }
            if (!isParquetResend) scala.sys.error(
              s"interest '$name' lands parquet at $p0 (per-rule sink); " +
                "wire delivery for this rule is diverted — Uninterest " +
                "first or re-send the matching ParquetDir sink")
          }
          // Stream-served rules need no engine registration — the live
          // query delivers; Interest only wires up this client. Engine-
          // served rules go through the MAINTAINED path (the reference's
          // Interest IS the standing dataflow, `src/server/mod.rs:299-321`):
          // a live client's standing query costs O(delta) per advance,
          // with the engine demoting to the snapshot path only for plans
          // outside the maintainable fragment. Granularity is PER
          // (client, interest) — applied at this delivery layer, never
          // on the shared engine dataflow, so two clients at different
          // granularities over one rule each get their own Coarsen.
          if (!streamNames.contains(name)) engine.interestMaintained(name)
          // A granularity SWITCH (including removal) closes the old
          // coarse lattice: any held-but-undelivered buckets flush to
          // the client at their recorded bounds through the OLD route —
          // pending diffs are never silently dropped, and a later bound
          // on the new lattice can only ADD diffs, never lose them.
          // Re-sending the same granularity is idempotent (buckets keep
          // accumulating).
          if (clientGrain.get((id, name)) != g) {
            heldCoarse.remove((id, name)).foreach { held =>
              if (held.nonEmpty) clients.get(id).foreach { case (out, _) =>
                route(id, name, out, held.toSeq)
              }
            }
          }
          g match {
            case Some(gr) => clientGrain((id, name)) = gr
            case None     => clientGrain -= ((id, name))
          }
          // Interest registration must not outlive a FAILED sink attach:
          // if the ParquetDir branch below rejects (path mismatch,
          // attach-after-advance), a client that was not previously
          // interested would otherwise stay registered and receive the
          // plain result-sized QueryDiff delivery it explicitly asked to
          // divert — roll the registration back before the error goes
          // out.
          val wasInterested = clients(id)._2.contains(name)
          clients(id)._2 += name
          // Sink routing (reference: `Interest.sink`, server/src/main.rs:
          // 494-520): diffs divert into the sink; AssocIn forwards its
          // Output::Json stream to the owning client, TheVoid swallows.
          // State is PER (client, name): one client's sink must never
          // divert another client's plain QueryDiff delivery, and this
          // client's later plain Interest restores direct delivery —
          // EXCEPT ParquetDir, which is a per-RULE engine sink: while it
          // stands, every non-ParquetDir Interest on the rule is
          // rejected up front (the guard at the top of this case).
          sink match {
            case None =>
              sinkStates -= ((id, name))
            case Some(Request.SinkSpec.TheVoid(path)) =>
              sinkStates((id, name)) = VoidState(path)
            case Some(Request.SinkSpec.AssocIn(stateful)) =>
              sinkStates((id, name)) = AssocState(stateful,
                if (stateful.isDefined) Some(graft.sinks.AssocIn.Obj()) else None)
            case Some(Request.SinkSpec.CsvFile(path, headers, delim, _)) =>
              sinkStates((id, name)) = CsvState(path, headers, delim)
            case Some(Request.SinkSpec.JsonDoc(required)) =>
              sinkStates((id, name)) =
                JsonState(new graft.sinks.JsonDocSink(required))
            case Some(Request.SinkSpec.ParquetDir(path)) =>
              // DATA-SIZED delivery over the wire: the rule's maintained
              // diffs are computed AND written distributed
              // (ParquetDirSink: one dir per rule, partitioned by
              // emitted time) — nothing result-sized reaches the server.
              // The engine pins ONE sink per rule, so this standing is
              // per-RULE (like the bi mode's data-sized sinks):
              // identical re-sends are idempotent, a mismatched path is
              // a clear error, and the engine's attach-before-first-
              // advance contract surfaces as a wire Error rather than a
              // torn baseline.
              try uniParquetAttached.get(name) match {
                case Some((p0, g0)) =>
                  if (p0 != path || g0 != g) scala.sys.error(
                    s"interest '$name' already lands parquet at $p0 " +
                      s"(granularity $g0); data-sized standings hold one " +
                      "sink per rule — uninterest first")
                case None =>
                  // A per-RULE engine sink empties drain() for the rule,
                  // so it must never DIVERT another client's standing
                  // plain QueryDiff delivery (the per-(client, name)
                  // sink contract above). Reject the attach while any
                  // OTHER client holds a plain interest in the rule —
                  // the rollback below then undoes this client's
                  // registration.
                  val plainWatchers = clients.count { case (cid, (_, names)) =>
                    cid != id && names.contains(name)
                  }
                  if (plainWatchers > 0) scala.sys.error(
                    s"interest '$name' already delivers plain QueryDiffs " +
                      s"to $plainWatchers other client(s); a ParquetDir " +
                      "sink is per-rule and would divert them — those " +
                      "clients must Uninterest first")
                  // The request's granularity rides to the engine edge —
                  // coarsening happens inside the standing (clientGrain
                  // is dead state for sink-delivered rules: drain stays
                  // empty, so the wire-layer Coarsen never runs).
                  engine.interestIncrementalSink(name,
                    new graft.sinks.ParquetDirSink(path), g)
                  uniParquetAttached(name) = (path, g)
              } catch {
                case NonFatal(e) =>
                  if (!wasInterested) {
                    clients(id)._2 -= name
                    clientGrain -= ((id, name))
                    heldCoarse -= ((id, name))
                    if (!clients.values.exists(_._2.contains(name)))
                      domainUninterest(name)
                  }
                  throw e
              }
              sinkStates -= ((id, name))
          }
        case Request.Subscribe(attr) =>
          engine.handle(Request.Subscribe(attr))
          // A subscription is a standing query too (a MatchA rule):
          // upgrade the plain interest to the maintained path.
          engine.interestMaintained(attr)
          clients(id)._2 += attr
        case Request.Derive(ns, q) =>
          engine.handle(Request.Derive(ns, q))
          // The registered pull plan is in the maintained fragment
          // (pull family); a non-maintainable shape demotes gracefully.
          engine.interestMaintained(ns)
          clients(id)._2 += ns
        case Request.Uninterest(name) =>
          clients(id)._2 -= name
          sinkStates -= ((id, name))
          clientGrain -= ((id, name))
          heldCoarse -= ((id, name))
          // Tear the dataflow down only when the LAST interested client
          // leaves (server/src/main.rs:276-281).
          if (!clients.values.exists(_._2.contains(name)))
            domainUninterest(name)
        case Request.Status =>
          // server/src/main.rs:605-614.
          clients.get(id).foreach { case (out, _) =>
            send(out, Wire.renderOutput(Output.Message(id,
              """{"category":"df/status","message":"running"}""")))
          }
        case other => engine.handle(other)
      }
      flushDiffs()
    } catch {
      case NonFatal(e) =>
        val (category, message) = e match {
          case graft.model.GraftError(c, m) => (c, m)
          case _ => ("df.error.category/incorrect", String.valueOf(e.getMessage))
        }
        clients.get(id).foreach { case (out, _) =>
          send(out, Wire.renderOutput(Output.Error(id, category, message, nextTx)))
        }
    }
  }

  // Per-(client, interest) sink routing state (reference `Interest.sink`
  // lives on each Interest request, i.e. per subscriber — a rule name is
  // not a routing key on its own).
  private sealed trait SinkState
  private final case class VoidState(logPath: Option[String]) extends SinkState
  private final case class AssocState(stateful: Option[Int],
      acc: Option[graft.sinks.AssocIn.Obj]) extends SinkState
  private final case class CsvState(path: String, hasHeaders: Boolean,
      delimiter: Char) extends SinkState
  private final case class JsonState(sink: graft.sinks.JsonDocSink)
      extends SinkState
  private val sinkStates = mutable.Map.empty[(Long, String), SinkState]
  // Per-RULE parquet delivery standings, (path, granularity) — the
  // engine pins one DiffSink per rule, unlike the per-(client, name)
  // wire sinks above, which divert already-collected QueryDiff batches.
  private val uniParquetAttached =
    mutable.Map.empty[String, (String, Option[Long])]
  // PER-INTEREST delivery granularity (`Interest.granularity`,
  // `src/server/mod.rs:110-119` — each subscriber requests its OWN
  // Coarsen): the engine serves every rule at fine times; this layer
  // coarsens each (client, rule)'s delivery independently — times round
  // STRICTLY up to the next bound ((t/g + 1)·g, the reference Coarsen,
  // `src/timestamp/mod.rs:151-154`) and are held until the frontier
  // passes the bound. Two clients at different granularities over one
  // rule each get their own coarsened lattice.
  private val clientGrain = mutable.Map.empty[(Long, String), Long]
  private val heldCoarse =
    mutable.Map.empty[(Long, String), mutable.ArrayBuffer[(Seq[Value], Long, Long)]]
  /** Per-advance latency log of void-sinked interests, mirroring
    * `Sink::TheVoid`'s ms-per-frontier log: (name, time, rows). In-memory
    * copy is capped (long-lived servers log to the configured file). */
  val voidLog = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val voidLogCap = 10000

  /** Drain every interested rule once and deliver its batch to each
    * interested client through THAT client's route: its sink if it
    * registered one, a plain QueryDiff otherwise. */
  private def flushDiffs(): Unit = {
    for (name <- engine.interestNames) {
      val diffs = engine.drain(name)
      if (diffs.nonEmpty) {
        val kinds = engine.kindsFor(name)
        // Explicit serde marker from the engine: the rule's result column
        // packs heterogeneous pull paths (batch `Rel.isPathArray` /
        // maintained `outputIsPathArray`) — never inferred from payload
        // shape, so a genuine variant payload that happens to collect as
        // a Seq is never misrendered (round-10 ADVICE).
        val pathArray = engine.isPathArrayResult(name)
        val batch = diffs.map { case (tuple, t, d) =>
          // Pull path-array tuples arrive EXPANDED from the drain on both
          // serving paths (snapshot and maintained unpack the packed
          // array<variant> cell at collection — Engine.snapshot /
          // collectDiffs): the tuple IS the path, re-tag its keys by
          // position (root-eid, attribute aids, leaf value; the engine's
          // native collection drops the variant tags, so positional
          // tagging restores what AssocIn/clients need — the streaming
          // route keeps exact tags via variant structs). A malformed
          // empty path tuple degrades to the generic tagging rather than
          // aborting the flush after the drain cleared the buffer — same
          // containment rationale as the bi route.
          if (pathArray && tuple.nonEmpty) {
            val keys = tuple.init.map {
              case n: Long   => Value.VEid(n)
              case a: String => Value.VAid(a)
              case other     => asValue(other, None)
            }
            ((keys :+ asValue(tuple.last, None)).toSeq, t, d)
          } else
            (tuple.zipWithIndex.map { case (v, i) =>
              asValue(v, kinds.flatMap(_.lift(i)))
            }, t, d)
        }
        lazy val plainMsg = Wire.renderOutput(Output.QueryDiff(name, batch))
        // Per-client containment on the UNI route too (round-17 review —
        // the round-16 advisory's fix had only reached the bi route): a
        // sink fold throwing for ONE client must not abort the loop
        // after drain() already cleared the buffer, silently losing the
        // advance's diffs for every later client and rule.
        for ((cid, (out, names)) <- clients if names.contains(name)) {
          val cBatch = coarsened(cid, name, batch)
          if (cBatch.nonEmpty) sinkStates.get((cid, name)) match {
            case None if cBatch eq batch => send(out, plainMsg)
            case _ =>
              guardedSinkFold(cid, out) { route(cid, name, out, cBatch) }
          }
        }
      } else {
        // No fresh diffs, but a frontier advance may have completed a
        // held coarse bound for some subscriber — release independently.
        for ((cid, (out, names)) <- clients if names.contains(name)
            if clientGrain.contains((cid, name))) {
          val cBatch = coarsened(cid, name, Seq.empty)
          if (cBatch.nonEmpty)
            guardedSinkFold(cid, out) { route(cid, name, out, cBatch) }
        }
      }
    }
  }

  /** Deliver one (client, rule) batch through that client's route: its
    * registered sink, or a plain QueryDiff. */
  private def route(cid: Long, name: String, out: DataOutputStream,
      cBatch: Seq[(Seq[Value], Long, Long)]): Unit =
    sinkStates.get((cid, name)) match {
      case Some(v: VoidState)  => sinkVoid(name, v, cBatch)
      case Some(a: AssocState) => sinkAssoc(cid, name, a, cBatch)
      case Some(c: CsvState)   => sinkCsv(c, cBatch)
      case Some(j: JsonState)  => sinkJson(cid, name, j, cBatch)
      case None => send(out, Wire.renderOutput(Output.QueryDiff(name, cBatch)))
    }

  /** Apply (client, rule)'s delivery granularity: bucket fresh diffs to
    * their coarse bounds, hold, and release exactly the buckets the
    * frontier has passed. Identity (same Seq) when the client asked for
    * fine delivery. */
  private def coarsened(cid: Long, name: String,
      batch: Seq[(Seq[Value], Long, Long)]): Seq[(Seq[Value], Long, Long)] =
    clientGrain.get((cid, name)) match {
      case None => batch
      case Some(g) =>
        val held = heldCoarse.getOrElseUpdate((cid, name),
          mutable.ArrayBuffer.empty)
        batch.foreach { case (tuple, t, d) =>
          held += ((tuple, (t / g + 1L) * g, d))
        }
        val frontier = engine.currentFrontier
        val (ready, keep) = held.partition(_._2 < frontier)
        held.clear(); held ++= keep
        ready.toSeq
    }

  // One open writer per void-log path (reused across flushes); appends
  // are best-effort like the reference's latency log — a bad path must
  // not surface as a wire Error to whichever client triggered the flush.
  private val voidWriters = mutable.Map.empty[String, java.io.Writer]

  /** `Sink::TheVoid` (`src/sinks/mod.rs:83-128`): swallow the batch, log
    * per-epoch volume (appended to the configured file when given). */
  private def sinkVoid(name: String, v: VoidState,
      batch: Seq[(Seq[Value], Long, Long)]): Unit = {
    for ((t, rows) <- batch.groupBy(_._2).toSeq.sortBy(_._1)) {
      if (voidLog.length < voidLogCap) voidLog += ((name, t, rows.length.toLong))
      v.logPath.foreach { p =>
        try {
          val w = voidWriters.getOrElseUpdate(p, new java.io.FileWriter(p, true))
          w.write(s"$name\t$t\t${rows.length}\n")
          w.flush()
        } catch {
          case NonFatal(_) => voidWriters.remove(p).foreach(w =>
            try w.close() catch { case NonFatal(_) => () })
        }
      }
    }
  }

  // One open writer per csv path, reused across flushes; true = the
  // header (if requested) is still pending for that file.
  private val csvWriters = mutable.Map.empty[String, java.io.Writer]
  private val csvHeaderPending = mutable.Map.empty[String, Boolean]

  /** `Sink::CsvFile` (`src/sinks/csv_file.rs:26-100`): append result
    * tuples as delimited records, time-ordered per flush (the reference
    * sorts its received batch before writing at each frontier close, and
    * likewise writes the tuple only — diffs don't appear in the file).
    * Best-effort like the void log: a bad path must not surface as a wire
    * Error. */
  private def sinkCsv(c: CsvState,
      batch: Seq[(Seq[Value], Long, Long)]): Unit = {
    def field(v: Value): String = {
      val s = v match {
        case Value.VRational(n, d) => s"$n/$d"
        case other                 => String.valueOf(other.native)
      }
      if (s.exists(ch => ch == c.delimiter || ch == '"' || ch == '\n'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    try {
      val w = csvWriters.getOrElseUpdate(c.path, {
        csvHeaderPending(c.path) =
          c.hasHeaders && !new java.io.File(c.path).exists()
        new java.io.FileWriter(c.path, true)
      })
      for ((tuple, _, _) <- batch.sortBy(_._2)) {
        if (csvHeaderPending.getOrElse(c.path, false)) {
          w.write(tuple.indices.map(i => s"c$i").mkString(c.delimiter.toString))
          w.write("\n")
          csvHeaderPending(c.path) = false
        }
        w.write(tuple.map(field).mkString(c.delimiter.toString))
        w.write("\n")
      }
      w.flush()
    } catch {
      case NonFatal(_) => csvWriters.remove(c.path).foreach(w =>
        try w.close() catch { case NonFatal(_) => () })
    }
  }

  /** `Sink::AssocIn` (`src/sinks/assoc_in.rs:55-140`): fold result paths
    * into nested documents per completed time; stateless mode emits one
    * `Output::Json` per top-level key, stateful mode reports the changed
    * sub-structures at the configured granularity depth. */
  /** One time-group's AssocIn fold — shared by the unitemporal and
    * bitemporal routes (the sink itself is timestamp-agnostic: within a
    * group every row carries the same time, so only the diff order
    * matters to `mergePaths`). */
  private def assocOutputs(a: AssocState,
      paths: Seq[(Seq[Value], Long, Long)]): Seq[(String, String)] = {
    import graft.sinks.AssocIn
    a.acc match {
      case None =>
        val doc = AssocIn.Obj()
        AssocIn.mergePaths(doc, paths)
        doc.fields.toSeq.map { case (k, node) => (k, AssocIn.render(node)) }
      case Some(acc) =>
        val granularity = a.stateful.getOrElse(1)
        val changes = AssocIn.mergePaths(acc, paths, granularity)
        changes.distinct.flatMap { keyPath =>
          // Walk to the changed sub-structure; a deleted path emits
          // nothing (mirroring the reference's map indexing behavior).
          val node = keyPath.foldLeft(Option(acc: AssocIn.Node)) {
            case (Some(AssocIn.Obj(fs)), k) => fs.get(k)
            case _                          => None
          }
          node.map(n => (keyPath.mkString("/"), AssocIn.render(n)))
        }
    }
  }

  private def sinkAssoc(cid: Long, name: String, a: AssocState,
      batch: Seq[(Seq[Value], Long, Long)]): Unit =
    for ((t, rows) <- batch.groupBy(_._2).toSeq.sortBy(_._1)) {
      // The folded Json stream goes to the OWNING client only — its
      // AssocState (and stateful accumulator) belongs to its Interest.
      for ((_, json) <- assocOutputs(a, rows);
           (out, _) <- clients.get(cid)) {
        send(out, Wire.renderOutput(Output.Json(name, json, t, 1L)))
      }
    }

  /** GraphQL-v2-style document sink (`src/plan/graphql_v2.rs:395-498` via
    * [[graft.sinks.JsonDocSink]]): pull-shaped tuples `[root, …, aid, v]`
    * flatten to `[root, aid]`, each time's changed roots emit a FULL
    * document snapshot as `Output::Json` to the owning client. Tuples that
    * aren't pull-shaped (no leaf aid) key under the rule name, so plain
    * `[e v]` relations still document-ize sensibly. */
  /** One time-group's JsonDoc advance — shared by the unitemporal and
    * bitemporal routes. Within a timestamp retractions apply first (the
    * AssocIn convention, `assoc_in.rs:169-172`) so a same-batch
    * re-assertion wins deterministically — the reference's graphql_v2
    * ignores diff in arrival order, which is nondeterministic across
    * workers. */
  private def jsonDocOutputs(name: String, j: JsonState,
      rows: Seq[(Seq[Value], Long)]): Seq[(String, String)] = {
    val paths = rows.sortBy(_._2).map { case (tuple, _) =>
      val aid = tuple.takeRight(2).head match {
        case Value.VAid(a) if tuple.length >= 3 => a
        case _                                  => name
      }
      (Seq(aid), Seq(tuple.head, tuple.last))
    }
    j.sink.advance(paths)
  }

  private def sinkJson(cid: Long, name: String, j: JsonState,
      batch: Seq[(Seq[Value], Long, Long)]): Unit = {
    for ((t, rows) <- batch.groupBy(_._2).toSeq.sortBy(_._1)) {
      val outs = jsonDocOutputs(name, j,
        rows.map { case (tuple, _, d) => (tuple, d) })
      for ((root, json) <- outs; (out, _) <- clients.get(cid)) {
        send(out, Wire.renderOutput(
          Output.Json(name, s"""{${Wire.qs(root)}:$json}""", t, 1L)))
      }
    }
  }

  /** Re-tag a collected native value as a wire `Value` using the result
    * column's kind where known (eids/instants keep their tags); path-array
    * elements fall back to runtime-type tagging. */
  private def asValue(v: Any, kind: Option[ValueKind]): Value = (v, kind) match {
    case (n: Long, Some(ValueKind.KEid))     => Value.VEid(n)
    case (n: Long, Some(ValueKind.KInstant)) => Value.VInstant(n)
    case (s: String, Some(ValueKind.KAid))   => Value.VAid(s)
    case (s: String, Some(ValueKind.KUuid))  => Value.VUuid(s)
    case (n: Long, _)                        => Value.VNumber(n)
    case (s: String, _)                      => Value.VString(s)
    case (b: Boolean, _)                     => Value.VBool(b)
    case (d: Double, _)                      => Value.VReal(d)
    case (s: Seq[_], _) => s match {
      case Seq(p: Long, q: Long) => Value.VRational(p, q)
      case other                 => Value.VString(other.mkString("[", " ", "]"))
    }
    // Variant-encoded values (pull paths on the streaming delivery path)
    // decode back to their tagged wire Value; rational structs keep their
    // exact (num, den) identity.
    case (r: org.apache.spark.sql.Row, _) if r.length == 7 =>
      graft.model.Variant.valueOf(r)
    case (r: org.apache.spark.sql.Row, _) if r.length == 2 =>
      Value.VRational(r.getLong(0), r.getLong(1))
    case (other, _) => Value.VString(String.valueOf(other))
  }

  private def send(out: DataOutputStream, text: String): Unit =
    try writeFrame(out, OpText, text.getBytes(UTF_8))
    catch { case NonFatal(_) => () }

  // ------------------------------------------------------------ handshake

  /** RFC 6455 opening handshake: HTTP/1.1 Upgrade with the SHA-1/base64
    * `Sec-WebSocket-Accept` transform. */
  private def handshake(in: DataInputStream, out: DataOutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    var key: String = null
    var line = reader.readLine()
    require(line != null && line.startsWith("GET "), s"not a websocket upgrade: $line")
    line = reader.readLine()
    while (line != null && line.nonEmpty) {
      val idx = line.indexOf(':')
      if (idx > 0) {
        val (h, v) = (line.substring(0, idx).trim.toLowerCase, line.substring(idx + 1).trim)
        if (h == "sec-websocket-key") key = v
      }
      line = reader.readLine()
    }
    require(key != null, "missing Sec-WebSocket-Key")
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    out.write(
      ("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\n" +
        "Connection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
    out.flush()
  }

  // --------------------------------------------------------------- frames

  private val OpCont = 0x0
  private val OpText = 0x1
  private val OpClose = 0x8
  private val OpPing = 0x9
  private val OpPong = 0xa

  private final case class Frame(op: Int, payload: Array[Byte], fin: Boolean)

  private def readFrame(in: DataInputStream): Frame = {
    val b0 = in.readUnsignedByte()
    val op = b0 & 0x0f
    val fin = (b0 & 0x80) != 0
    val b1 = in.readUnsignedByte()
    val masked = (b1 & 0x80) != 0
    val len: Long = (b1 & 0x7f) match {
      case 126 => in.readUnsignedShort().toLong
      case 127 => in.readLong()
      case n   => n.toLong
    }
    require(len <= Int.MaxValue, s"frame too large: $len")
    val mask = if (masked) { val m = new Array[Byte](4); in.readFully(m); m } else null
    val payload = new Array[Byte](len.toInt)
    in.readFully(payload)
    if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
    Frame(op, payload, fin)
  }

  private def writeFrame(out: DataOutputStream, op: Int, payload: Array[Byte]): Unit = {
    out.writeByte(0x80 | op) // FIN + opcode; server frames are unmasked
    if (payload.length < 126) out.writeByte(payload.length)
    else if (payload.length < 65536) { out.writeByte(126); out.writeShort(payload.length) }
    else { out.writeByte(127); out.writeLong(payload.length.toLong) }
    out.write(payload)
    out.flush()
  }
}

object WsServer {
  /** Serve a BITEMPORAL domain: the reference Request grammar with
    * `Time::Bi` coordinates over one [[graft.streaming.BiMaintained]]
    * (one domain type per server process, as the reference runs). */
  def bi(domain: graft.streaming.BiMaintained, port: Int = 0): WsServer =
    new WsServer(null, port, None, Some(domain))
}
