package graft

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model.Value
import graft.server.{Output, Wire, WsServer}

/** End-to-end WebSocket transport test: a real RFC 6455 client (the JDK's
  * `java.net.http.WebSocket`) drives [[WsServer]] with reference-format
  * JSON payloads — including the reference's own
  * `cli/examples/schema.json` + `changes.json` — and receives
  * `Output::QueryDiff` batches, mirroring `server/src/main.rs:330-660`. */
class WsServerSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** Blocking text-message client over the JDK WebSocket API. */
  private final class Client(port: Int) {
    private val received = new LinkedBlockingQueue[String]()
    private val buf = new StringBuilder
    private val listener = new WebSocket.Listener {
      override def onText(ws: WebSocket, data: CharSequence,
          last: Boolean): CompletionStage[_] = {
        buf.append(data)
        if (last) { received.put(buf.toString); buf.clear() }
        ws.request(1)
        null
      }
    }
    private val ws = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(URI.create(s"ws://127.0.0.1:$port/"), listener)
      .get(10, TimeUnit.SECONDS)

    def send(text: String): Unit =
      ws.sendText(text, true).get(10, TimeUnit.SECONDS)
    def next(): String = {
      val msg = received.poll(15, TimeUnit.SECONDS)
      assert(msg != null, "timed out waiting for a server message")
      msg
    }
    def close(): Unit =
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").get(10, TimeUnit.SECONDS)
  }

  private def withServer(f: (WsServer, Client) => Unit): Unit = {
    val server = new WsServer(new Engine(spark)).start()
    val client = new Client(server.boundPort)
    try f(server, client)
    finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  private def example(name: String): String =
    Files.readString(Paths.get(s"/root/reference/cli/examples/$name"))

  test("reference cli example payloads produce the expected diff batches") {
    withServer { (_, client) =>
      // schema.json: four CreateAttribute requests (Distinct semantics,
      // trailing commas and trace_slack configs included).
      client.send(example("schema.json"))
      // A join rule over two of those attributes, plus interest in it.
      client.send("""{"Register":{"rules":[{"name":"hero_age","plan":
        {"Join":{"variables":[0],
                 "left_plan":{"MatchA":[0,"name",1]},
                 "right_plan":{"MatchA":[0,"age",2]}}}}],"publish":["hero_age"]}}""")
      client.send("""{"Interest":{"name":"hero_age","granularity":null}}""")
      // changes.json: older CLI TxData shape (diff, e, a, v, t).
      client.send(s"""{"Transact":${example("changes.json")}}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")

      val out = Wire.parseOutput(client.next())
      out match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "hero_age")
          assert(batch == Seq(
            (Seq(Value.eid(100), Value.str("Peter"), Value.num(43)), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }

      // changes2.json: retraction + correction — Peter's age 43 retracts
      // and 45 asserts in one advance — plus a new named entity joins.
      client.send(s"""{"Transact":${example("changes2.json")}}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "hero_age")
          assert(batch.toSet == Set(
            (Seq(Value.eid(100), Value.str("Peter"), Value.num(43)), 1L, -1L),
            (Seq(Value.eid(100), Value.str("Peter"), Value.num(45)), 1L, 1L),
            (Seq(Value.eid(200), Value.str("Alice"), Value.num(33)), 1L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }

      // changes3.json retracts the already-absent 43 (no transition under
      // Distinct semantics) and asserts age 100.
      client.send(s"""{"Transact":${example("changes3.json")}}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":3}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "hero_age")
          assert(batch == Seq(
            (Seq(Value.eid(100), Value.str("Peter"), Value.num(100)), 2L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
    }
  }

  test("subscribe to a whole attribute and receive retractions") {
    withServer { (_, client) =>
      client.send(
        """{"CreateAttribute":{"name":":tag","config":{"input_semantics":"Raw"}}}""")
      client.send("""{"Subscribe":":tag"}""")
      client.send("""{"Transact":[[1,":tag","a",null,1],[2,":tag","b",null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == ":tag")
          assert(batch.toSet == Set(
            (Seq(Value.eid(1), Value.str("a")), 0L, 1L),
            (Seq(Value.eid(2), Value.str("b")), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
      // A retraction at the next epoch arrives as a -1 diff.
      client.send("""{"Transact":[[1,":tag","a",null,-1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == ":tag")
          assert(batch == Seq((Seq(Value.eid(1), Value.str("a")), 1L, -1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
    }
  }

  test("diffs fan out only to clients interested in the query") {
    val server = new WsServer(new Engine(spark)).start()
    val interested = new Client(server.boundPort)
    val other = new Client(server.boundPort)
    try {
      interested.send(
        """{"CreateAttribute":{"name":":x","config":{"input_semantics":"Distinct"}}}""")
      interested.send("""{"Subscribe":":x"}""")
      // `other` never subscribes; it asks for Status instead.
      other.send("\"Status\"")
      Wire.parseOutput(other.next()) match {
        case Output.Message(_, json) => assert(json.contains("df/status"))
        case o => fail(s"expected a Message, got $o")
      }
      interested.send("""{"Transact":[[1,":x","v",null,1]]}""")
      interested.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(interested.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == ":x" && batch.nonEmpty)
        case o => fail(s"expected a QueryDiff, got $o")
      }
      // The uninterested client got nothing beyond its Status reply.
      other.send("\"Status\"")
      Wire.parseOutput(other.next()) match {
        case Output.Message(_, _) => () // next message is the 2nd status,
        // not a stray QueryDiff
        case o => fail(s"expected only Status replies, got $o")
      }
    } finally {
      try { interested.close(); other.close() } catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("a ticking server pushes diffs without explicit AdvanceDomain") {
    // The realtime drive loop (server/src/main.rs:640-660): epochs advance
    // on wall-clock ticks, so a transact alone eventually yields diffs.
    val server = new WsServer(new Engine(spark), tickPeriodMillis = Some(100L)).start()
    val client = new Client(server.boundPort)
    try {
      client.send(
        """{"CreateAttribute":{"name":":w","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Subscribe":":w"}""")
      client.send("""{"Transact":[[1,":w","hello",null,1]]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == ":w")
          assert(batch.map(b => (b._1, b._3)) ==
            Seq((Seq(Value.eid(1), Value.str("hello")), 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
    } finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("cli ping round-trips a Status message") {
    val server = new WsServer(new Engine(spark)).start()
    try {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.server.Cli.run(
        Array("--port", server.boundPort.toString, "ping"), out.add(_))
      assert(out.asScala.exists(_.contains("df/status")), s"got $out")
    } finally server.stop()
  }

  test("cli end-to-end: reference example payloads through req/tx/gql") {
    // The full reference CLI flow (cli/src/main.rs): schema via
    // `req @file`, a GraphQl consumer via `gql` (Register + AssocIn
    // Interest, exactly the reference's request pair), data via
    // `tx @changes.json`, epoch via `req AdvanceDomain` — the consumer
    // must receive the pretty-printed `diff@t` document.
    val server = new WsServer(new Engine(spark)).start()
    try {
      val port = server.boundPort.toString
      val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.server.Cli.run(Array("--port", port, "req",
        "@/root/reference/cli/examples/schema.json"), out.add(_))
      val docs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val consumer = new Thread(() =>
        try graft.server.Cli.run(
          Array("--port", port, "gql", "{ hero { name age } }"), docs.add(_),
          maxMessages = 1)
        catch { case e: Throwable => docs.add(s"CLI-EXCEPTION: $e") })
      consumer.start()
      Thread.sleep(1500) // let Register + Interest land
      graft.server.Cli.run(Array("--port", port, "tx",
        "@/root/reference/cli/examples/changes.json"), out.add(_))
      graft.server.Cli.run(Array("--port", port, "req",
        """[{"AdvanceDomain":[null,{"TxId":1}]}]"""), out.add(_))
      consumer.join(30000)
      assert(!consumer.isAlive, s"gql consumer got no document; one-shots=$out")
      val doc = docs.asScala.mkString("\n")
      assert(doc.contains("Peter") && doc.contains("43"), s"got $doc")
      assert(doc.startsWith("1@"), s"expected diff@t pretty format, got $doc")
    } finally server.stop()
  }

  test("large fragmented transact payloads reassemble correctly") {
    withServer { (_, client) =>
      client.send(
        """{"CreateAttribute":{"name":":big","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Subscribe":":big"}""")
      // ~1 MB of datoms — the JDK client fragments messages well below
      // this, so the server must reassemble continuation frames.
      val n = 20000
      val datoms = (1 to n)
        .map(i => s"""[$i,":big","payload-padding-padding-padding-$i",null,1]""")
        .mkString("[", ",", "]")
      client.send(s"""{"Transact":$datoms}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == ":big")
          assert(batch.length == n)
        case other => fail(s"expected a QueryDiff, got $other")
      }
    }
  }

  test("disconnecting the last interested client tears the interest down") {
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val client = new Client(server.boundPort)
    try {
      client.send(
        """{"CreateAttribute":{"name":":d","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Subscribe":":d"}""")
      client.send("""{"Transact":[[1,":d","v",null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) // the subscription works
      client.close()
      // Wait for the server's connection thread to clean up.
      val deadline = System.currentTimeMillis() + 10000
      while (engine.interestNames.contains(":d") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!engine.interestNames.contains(":d"),
        "interest should be torn down when its last client leaves")
    } finally server.stop()
  }

  test("malformed requests come back as Output::Error") {
    withServer { (_, client) =>
      client.send("""{"Nonsense": 1}""")
      Wire.parseOutput(client.next()) match {
        case Output.Error(_, category, _, _) =>
          assert(category.nonEmpty)
        case other => fail(s"expected an Error, got $other")
      }
    }
  }

  test("stream-served rule pushes QueryDiff per micro-batch to interested clients") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    import graft.model.Plan._
    import graft.model.ValueKind._
    import graft.streaming.IncrementalQuery

    val names = MemoryStream[(Long, String, Long, Long)]
    val ages = MemoryStream[(Long, Long, Long, Long)]
    val iq = new IncrementalQuery(spark, Project(Seq(1, 3, 2),
      Join(Seq(1), matchA(1, ":name", 3), matchA(1, ":age", 2))),
      Map(":name" -> KString, ":age" -> KNumber))

    val server = new WsServer(new Engine(spark)).start()
    val query = server.serveStream("live_join", iq, DatomStream.of(Map(
      ":name" -> names.toDF.toDF("e", "v", "t", "diff"),
      ":age" -> ages.toDF.toDF("e", "v", "t", "diff"))))
    val client = new Client(server.boundPort)
    try {
      client.send("""{"Interest":{"name":"live_join","granularity":null}}""")
      names.addData((1L, "Dipper", 0L, 1L))
      ages.addData((1L, 12L, 0L, 1L))
      query.processAllAvailable()
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "live_join")
          assert(batch == Seq((Seq(Value.eid(1), Value.str("Dipper"),
            Value.num(12)), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
      // retraction flows through the same live query
      names.addData((1L, "Dipper", 1L, -1L))
      query.processAllAvailable()
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(_, batch) =>
          assert(batch == Seq((Seq(Value.eid(1), Value.str("Dipper"),
            Value.num(12)), 1L, -1L)))
        case other => fail(s"expected a retraction QueryDiff, got $other")
      }
    } finally {
      try query.stop() catch { case _: Throwable => () }
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("stream-served pull paths decode variant arrays to tagged wire values") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    import graft.model.Plan._
    import graft.model.ValueKind._
    import graft.streaming.IncrementalQuery

    val refs = MemoryStream[(Long, Long, Long, Long)]
    val names = MemoryStream[(Long, String, Long, Long)]
    val iq = new IncrementalQuery(spark, Pull(Seq.empty, Seq(
      PullLevel(Seq.empty, matchA(0, ":p/child", 1), pullVariable = 1,
        pullAttributes = Seq(":c/name"), pathAttributes = Seq(":p/child"),
        cardinalityMany = true))),
      Map(":p/child" -> KEid, ":c/name" -> KString))

    val server = new WsServer(new Engine(spark)).start()
    val query = server.serveStream("live_pull", iq, DatomStream.of(Map(
      ":p/child" -> refs.toDF.toDF("e", "v", "t", "diff"),
      ":c/name" -> names.toDF.toDF("e", "v", "t", "diff"))))
    val client = new Client(server.boundPort)
    try {
      client.send("""{"Interest":{"name":"live_pull","granularity":null}}""")
      refs.addData((100L, 200L, 0L, 1L))
      names.addData((200L, "Alice", 0L, 1L))
      query.processAllAvailable()
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "live_pull")
          assert(batch == Seq((Seq(Value.eid(100), Value.VAid(":p/child"),
            Value.eid(200), Value.VAid(":c/name"), Value.str("Alice")), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
    } finally {
      try query.stop() catch { case _: Throwable => () }
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("stream-served transitive closure pushes exact diffs, retractions included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import sp.implicits._
    import graft.model.Plan._
    import graft.model.ValueKind._
    import graft.streaming.IncrementalQuery

    // reach(x, y) :- edge(x, y).  reach(x, y) :- edge(x, z), reach(z, y).
    val reach = Union(Seq(0, 1), Seq(
      matchA(0, ":edge", 1),
      Project(Seq(0, 1), Join(Seq(2),
        matchA(0, ":edge", 2), NameExpr(Seq(2, 1), "reach")))))
    val edges = MemoryStream[(Long, Long, Long, Long)]
    val iq = new IncrementalQuery(spark, NameExpr(Seq(0, 1), "reach"),
      Map(":edge" -> KEid), Map("reach" -> reach))

    val server = new WsServer(new Engine(spark)).start()
    val query = server.serveStream("live_reach", iq,
      DatomStream.of(Map(":edge" -> edges.toDF.toDF("e", "v", "t", "diff"))))
    val client = new Client(server.boundPort)
    def batch(): Set[(Seq[Value], Long, Long)] =
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, b) =>
          assert(name == "live_reach")
          b.toSet
        case other => fail(s"expected a QueryDiff, got $other")
      }
    def path(x: Long, y: Long) = Seq(Value.eid(x), Value.eid(y))
    try {
      client.send("""{"Interest":{"name":"live_reach","granularity":null}}""")
      edges.addData((1L, 2L, 0L, 1L), (2L, 3L, 0L, 1L))
      query.processAllAvailable()
      assert(batch() == Set((path(1, 2), 0L, 1L), (path(2, 3), 0L, 1L),
        (path(1, 3), 0L, 1L)))
      // A new edge extends every path that reaches its source.
      edges.addData((3L, 4L, 1L, 1L))
      query.processAllAvailable()
      assert(batch() == Set((path(3, 4), 1L, 1L), (path(2, 4), 1L, 1L),
        (path(1, 4), 1L, 1L)))
      // Cutting the middle edge retracts every path through it.
      edges.addData((2L, 3L, 2L, -1L))
      query.processAllAvailable()
      assert(batch() == Set((path(2, 3), 2L, -1L), (path(1, 3), 2L, -1L),
        (path(2, 4), 2L, -1L), (path(1, 4), 2L, -1L)))
    } finally {
      try query.stop() catch { case _: Throwable => () }
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("Interest with an AssocIn sink emits Output::Json documents") {
    withServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":age","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Register":{"rules":[{"name":"ages","plan":
        {"MatchA":[0,":age",1]}}],"publish":["ages"]}}""")
      // Stateful granularity 1: changed top-level sub-structures re-emit.
      client.send("""{"Interest":{"name":"ages","granularity":null,
        "sink":{"AssocIn":{"stateful":1}},"disable_logging":null}}""")
      client.send("""{"Transact":[[100,":age",43,null,1],[200,":age",33,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      val first = Seq(Wire.parseOutput(client.next()), Wire.parseOutput(client.next()))
      assert(first.toSet == Set(
        Output.Json("ages", "43", 0L, 1L),
        Output.Json("ages", "33", 0L, 1L)))

      // Correction: only entity 100's document changes and re-emits.
      client.send("""{"Transact":[[100,":age",43,null,-1],[100,":age",45,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      assert(Wire.parseOutput(client.next()) == Output.Json("ages", "45", 1L, 1L))
    }
  }

  test("a failing sink fold is contained per client on the uni route") {
    // Round-17 review: the round-16 advisory's per-client containment
    // had only reached the BI flush loop. One client's AssocIn fold
    // throwing (a NUMBER in pull-path key position) must not abort the
    // uni flush after drain() cleared the buffer — the plain watcher
    // still gets its QueryDiff, and the failing client gets a loud
    // wire Error instead of silence.
    withServer { (server, a) =>
      val b = new Client(server.boundPort)
      try {
        a.send("""{"CreateAttribute":{"name":":num","config":{"input_semantics":"Distinct"}}}""")
        a.send("""{"CreateAttribute":{"name":":nm","config":{"input_semantics":"Distinct"}}}""")
        a.send("""{"Register":{"rules":[{"name":"badpath","plan":
          {"Join":{"variables":[0],"left_plan":{"MatchA":[0,":num",1]},
            "right_plan":{"MatchA":[0,":nm",2]}}}}],"publish":["badpath"]}}""")
        a.send("""{"Interest":{"name":"badpath","granularity":null,
          "sink":{"AssocIn":{"stateful":null}},"disable_logging":null}}""")
        // Cross-client barrier: a and b are separate sockets, so b's
        // Interest could otherwise reach the server before a's Register
        // (observed as df.error.category/not-found under full-suite
        // load). Await a's Status ack before b sends anything.
        a.send("\"Status\"")
        Wire.parseOutput(a.next()) match {
          case Output.Message(_, json) => assert(json.contains("df/status"))
          case o => fail(s"expected A's Status, got $o")
        }
        b.send("""{"Interest":{"name":"badpath","granularity":null,
          "sink":null,"disable_logging":null}}""")
        // Ensure b's interest landed before the advance.
        b.send("\"Status\"")
        Wire.parseOutput(b.next()) match {
          case Output.Message(_, json) => assert(json.contains("df/status"))
          case o => fail(s"expected Status, got $o")
        }
        a.send("""{"Transact":[[5,":num",7,null,1],[5,":nm","x",null,1]]}""")
        a.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
        Wire.parseOutput(b.next()) match {
          case Output.QueryDiff("badpath", batch) => assert(batch.nonEmpty)
          case o => fail(s"expected B's QueryDiff, got $o")
        }
        Wire.parseOutput(a.next()) match {
          case Output.Error(_, _, msg, _) =>
            assert(msg.contains("Expected a key"), msg)
          case o => fail(s"expected A's contained sink error, got $o")
        }
      } finally { try b.close() catch { case _: Throwable => () } }
    }
  }

  test("Interest with a JsonDoc sink emits flattened document snapshots") {
    withServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":p/child","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"CreateAttribute":{"name":":c/name","config":{"input_semantics":"Distinct"}}}""")
      // Pull the child's name through the edge: tuples [parent, child, aid, name].
      client.send("""{"Register":{"rules":[{"name":"fam","plan":
        {"PullLevel":{"variables":[],"plan":{"MatchA":[0,":p/child",1]},
          "pull_variable":1,"pull_attributes":[":c/name"],
          "path_attributes":[":p/child"],"cardinality_many":true}}}],
        "publish":["fam"]}}""")
      client.send("""{"Interest":{"name":"fam","granularity":null,
        "sink":{"JsonDoc":{"required_aids":[":c/name"]}},"disable_logging":null}}""")
      client.send("""{"Transact":[[100,":p/child",{"Eid":200},null,1],
        [200,":c/name","Alice",null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      // Flattened doc: child's name lands on ROOT 100 under the leaf aid.
      assert(Wire.parseOutput(client.next()) ==
        Output.Json("fam", """{"100":{":c/name":"Alice"}}""", 0L, 1L))
      // Rename: the changed root re-emits its FULL (single-key) document.
      client.send("""{"Transact":[[200,":c/name","Alice",null,-1],
        [200,":c/name","Alma",null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      assert(Wire.parseOutput(client.next()) ==
        Output.Json("fam", """{"100":{":c/name":"Alma"}}""", 1L, 1L))
    }
  }

  test("Interest with a CsvFile sink appends delimited records") {
    val path = java.nio.file.Files.createTempDirectory("graft-csv")
      .resolve("out.csv").toString
    withServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":cv","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Register":{"rules":[{"name":"cq","plan":
        {"MatchA":[0,":cv",1]}}],"publish":["cq"]}}""")
      client.send(s"""{"Interest":{"name":"cq","granularity":null,
        "sink":{"CsvFile":{"path":"$path","has_headers":true,
        "delimiter":59,"flexible":false}},"disable_logging":null}}""")
      client.send("""{"Transact":[[1,":cv",7,null,1],[2,":cv",9,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      // No QueryDiff on the wire — Status answers first.
      client.send(""""Status"""")
      Wire.parseOutput(client.next()) match {
        case Output.Message(_, json) => assert(json.contains("df/status"))
        case other => fail(s"csv sink leaked output: $other")
      }
    }
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    assert(lines.head == "c0;c1")
    assert(lines.tail.toSet == Set("1;7", "2;9"))
  }

  test("Interest with a ParquetDir sink lands diffs columnar, never on the wire") {
    val root = java.nio.file.Files.createTempDirectory("graft-pqsink").toString
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val client = new Client(server.boundPort)
    try {
      client.send("""{"CreateAttribute":{"name":":pv","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Register":{"rules":[{"name":"pq_rule","plan":
        {"MatchA":[0,":pv",1]}}],"publish":["pq_rule"]}}""")
      client.send(s"""{"Interest":{"name":"pq_rule","granularity":null,
        "sink":{"ParquetDir":{"path":"$root"}},"disable_logging":null}}""")
      // An identical re-send is idempotent (a reconnecting client).
      client.send(s"""{"Interest":{"name":"pq_rule","granularity":null,
        "sink":{"ParquetDir":{"path":"$root"}},"disable_logging":null}}""")
      client.send("""{"Transact":[[1,":pv",7,null,1],[2,":pv",9,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      client.send("""{"Transact":[[1,":pv",7,null,-1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      // No QueryDiff on the wire — Status answers first.
      client.send(""""Status"""")
      Wire.parseOutput(client.next()) match {
        case Output.Message(_, json) => assert(json.contains("df/status"))
        case other => fail(s"parquet sink leaked output: $other")
      }
      // A MISMATCHED path is a clear error, not a second standing.
      client.send(s"""{"Interest":{"name":"pq_rule","granularity":null,
        "sink":{"ParquetDir":{"path":"$root/elsewhere"}},"disable_logging":null}}""")
      Wire.parseOutput(client.next()) match {
        case Output.Error(_, _, msg, _) => assert(msg.contains("one sink"))
        case other => fail(s"expected the per-rule sink error: $other")
      }
      // Diffs landed columnar, partitioned by emitted time, retraction
      // carried as _diff = -1 (the maintained O(delta) path end to end).
      val got = spark.read.parquet(s"$root/pq_rule")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(r.fieldIndex("_diff")), r.getAs[Any]("_t").toString.toLong))
        .toSet
      assert(got == Set((1L, 7L, 1L, 0L), (2L, 9L, 1L, 0L), (1L, 7L, -1L, 1L)))
      // DISCONNECT tears the standing AND its per-rule parquet record
      // down — a reconnecting client re-sending the same Interest must
      // RE-attach the sink (a stale idempotence record would silently
      // leave delivery on the wire and write nothing).
      client.close()
      val deadline = System.currentTimeMillis() + 10000
      while (engine.interestNames.contains("pq_rule") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!engine.interestNames.contains("pq_rule"))
      val client2 = new Client(server.boundPort)
      try {
        client2.send(s"""{"Interest":{"name":"pq_rule","granularity":null,
          "sink":{"ParquetDir":{"path":"$root"}},"disable_logging":null}}""")
        client2.send("""{"Transact":[[3,":pv",11,null,1]]}""")
        client2.send("""{"AdvanceDomain":[null,{"TxId":3}]}""")
        client2.send(""""Status"""")
        Wire.parseOutput(client2.next()) match {
          case Output.Message(_, json) => assert(json.contains("df/status"))
          case other => fail(s"re-attached parquet sink leaked output: $other")
        }
        val after = spark.read.parquet(s"$root/pq_rule")
          .where(org.apache.spark.sql.functions.col("c0") === 3L).collect()
        assert(after.nonEmpty && after.forall(r =>
          r.getLong(1) == 11L && r.getLong(r.fieldIndex("_diff")) == 1L),
          s"expected the post-reconnect datom in parquet: ${after.toSeq}")
        // A FAILED sink attach must not leave the client registered for
        // the plain delivery it asked to divert: a fresh client whose
        // mismatched-path Interest errors gets NO QueryDiff on later
        // advances.
        val client3 = new Client(server.boundPort)
        try {
          client3.send(s"""{"Interest":{"name":"pq_rule","granularity":null,
            "sink":{"ParquetDir":{"path":"$root/other"}},"disable_logging":null}}""")
          Wire.parseOutput(client3.next()) match {
            case Output.Error(_, _, msg, _) => assert(msg.contains("one sink"))
            case other => fail(s"expected the per-rule sink error: $other")
          }
          client3.send("""{"Transact":[[4,":pv",13,null,1]]}""")
          client3.send("""{"AdvanceDomain":[null,{"TxId":4}]}""")
          client3.send(""""Status"""")
          Wire.parseOutput(client3.next()) match {
            case Output.Message(_, json) => assert(json.contains("df/status"))
            case other => fail(s"failed sink attach leaked plain delivery: $other")
          }
        } finally { try client3.close() catch { case _: Throwable => () } }
      } finally { try client2.close() catch { case _: Throwable => () } }
    } finally {
      server.stop()
    }
  }

  test("ParquetDir attach is rejected while another client watches plainly") {
    // Round-15 ADVICE (medium): the per-RULE engine sink empties
    // drain() for the rule, so attaching it while ANOTHER client holds
    // a plain Interest would silently stop that client's QueryDiff
    // delivery. The attach must error and the plain watcher must keep
    // receiving diffs.
    val root = java.nio.file.Files.createTempDirectory("graft-pqdivert").toString
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val watcher = new Client(server.boundPort)
    val attacher = new Client(server.boundPort)
    try {
      watcher.send("""{"CreateAttribute":{"name":":dv","config":{"input_semantics":"Distinct"}}}""")
      watcher.send("""{"Register":{"rules":[{"name":"dv_rule","plan":
        {"MatchA":[0,":dv",1]}}],"publish":["dv_rule"]}}""")
      watcher.send("""{"Interest":{"name":"dv_rule","granularity":null}}""")
      // The two clients ride separate server reader threads; a Status
      // round-trip pins the watcher's Interest as PROCESSED before the
      // attacher races it (plain Interest sends no ack of its own).
      watcher.send(""""Status"""")
      Wire.parseOutput(watcher.next()) match {
        case Output.Message(_, json) => assert(json.contains("df/status"))
        case other => fail(s"expected the status ack: $other")
      }
      attacher.send(s"""{"Interest":{"name":"dv_rule","granularity":null,
        "sink":{"ParquetDir":{"path":"$root"}},"disable_logging":null}}""")
      Wire.parseOutput(attacher.next()) match {
        case Output.Error(_, _, msg, _) =>
          assert(msg.contains("divert"), s"expected the divert error: $msg")
        case other => fail(s"expected the divert rejection: $other")
      }
      // The plain watcher's delivery is intact.
      watcher.send("""{"Transact":[[1,":dv",5,null,1]]}""")
      watcher.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(watcher.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "dv_rule" && batch.nonEmpty, s"$name $batch")
        case other => fail(s"plain delivery was diverted: $other")
      }
      // The OTHER direction: once a ParquetDir sink stands on a rule
      // (fresh rule, no plain watchers), a later plain Interest must be
      // rejected — drain() is empty for the rule, so accepting it would
      // register a client that silently receives nothing.
      attacher.send("""{"Register":{"rules":[{"name":"dv_rule2","plan":
        {"MatchA":[0,":dv",1]}}],"publish":["dv_rule2"]}}""")
      attacher.send(s"""{"Interest":{"name":"dv_rule2","granularity":null,
        "sink":{"ParquetDir":{"path":"$root/two"}},"disable_logging":null}}""")
      attacher.send(""""Status"""")
      Wire.parseOutput(attacher.next()) match {
        case Output.Message(_, json) => assert(json.contains("df/status"))
        case other => fail(s"expected the status ack: $other")
      }
      watcher.send("""{"Interest":{"name":"dv_rule2","granularity":null}}""")
      Wire.parseOutput(watcher.next()) match {
        case Output.Error(_, _, msg, _) =>
          assert(msg.contains("diverted"), s"expected the divert error: $msg")
        case other => fail(s"expected the reverse divert rejection: $other")
      }
    } finally {
      try watcher.close() catch { case _: Throwable => () }
      try attacher.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("Interest with a TheVoid sink swallows diffs and logs epochs") {
    withServer { (server, client) =>
      client.send("""{"CreateAttribute":{"name":":v","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Register":{"rules":[{"name":"vq","plan":
        {"MatchA":[0,":v",1]}}],"publish":["vq"]}}""")
      client.send("""{"Interest":{"name":"vq","granularity":null,
        "sink":{"TheVoid":null},"disable_logging":null}}""")
      client.send("""{"Transact":[[1,":v",7,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      // Status echoes a Message; if the void leaked, a QueryDiff would
      // arrive first instead.
      client.send(""""Status"""")
      Wire.parseOutput(client.next()) match {
        case Output.Message(_, json) => assert(json.contains("df/status"))
        case other => fail(s"void sink leaked output: $other")
      }
      assert(server.voidLog.toSeq == Seq(("vq", 0L, 1L)))
    }
  }

  test("wire Interest is served through the maintained path, O(delta) per advance") {
    // The reference's `Interest` IS the standing dataflow
    // (`src/server/mod.rs:299-321`): a live client's standing query must
    // cost O(delta) per advance — no per-epoch snapshot recompute.
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val client = new Client(server.boundPort)
    try {
      client.send("""{"CreateAttribute":{"name":":m/name","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"CreateAttribute":{"name":":m/age","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Register":{"rules":[{"name":"m_join","plan":
        {"Join":{"variables":[0],
                 "left_plan":{"MatchA":[0,":m/name",1]},
                 "right_plan":{"MatchA":[0,":m/age",2]}}}}],"publish":["m_join"]}}""")
      client.send("""{"Interest":{"name":"m_join","granularity":null}}""")
      // First signed batch: pure additions.
      client.send("""{"Transact":[[1,":m/name","Ada",null,1],[1,":m/age",36,null,1],
        [2,":m/name","Bob",null,1],[2,":m/age",40,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "m_join")
          assert(batch.toSet == Set(
            (Seq(Value.eid(1), Value.str("Ada"), Value.num(36)), 0L, 1L),
            (Seq(Value.eid(2), Value.str("Bob"), Value.num(40)), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
      // Second signed batch: retraction + correction — exact diffs out.
      client.send("""{"Transact":[[1,":m/age",36,null,-1],[1,":m/age",37,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "m_join")
          assert(batch.toSet == Set(
            (Seq(Value.eid(1), Value.str("Ada"), Value.num(36)), 1L, -1L),
            (Seq(Value.eid(1), Value.str("Ada"), Value.num(37)), 1L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
      // The engine took the INCREMENTAL path: a standing maintained query
      // serves the interest, and not one per-epoch snapshot was computed.
      assert(engine.servedIncrementally("m_join"),
        "wire interest should be served by a standing maintained query")
      assert(engine.snapshotRecomputeCount("m_join") == 0L,
        "maintained serving must not pay per-epoch snapshot recomputes")
    } finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("Subscribe and Derive are served through the maintained path too") {
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val client = new Client(server.boundPort)
    try {
      client.send("""{"CreateAttribute":{"name":":mt/tag","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"Subscribe":":mt/tag"}""")
      client.send("""{"Transact":[[1,":mt/tag","a",null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == ":mt/tag")
          assert(batch == Seq((Seq(Value.eid(1), Value.str("a")), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
      assert(engine.servedIncrementally(":mt/tag"),
        "a subscription is a standing query — maintained path expected")
      assert(engine.snapshotRecomputeCount(":mt/tag") == 0L)
    } finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("require-based shape rejections also demote (real-valued aggregation)") {
    // SUM over a KReal attribute: the batch compiler supports it, the
    // maintained compiler rejects it with a shape precondition (numeric
    // aggregation needs long-typed values) — since round 11 the typed
    // UnmaintainablePlan via UnmaintainablePlan.require, the ONLY type
    // the wire path demotes on. It must demote to snapshot serving
    // instead of crashing the advance.
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val client = new Client(server.boundPort)
    try {
      client.send("""{"CreateAttribute":{"name":":m/price","config":{"input_semantics":"Raw"}}}""")
      client.send("""{"Register":{"rules":[{"name":"total","plan":
        {"Aggregate":{"variables":[1],
          "plan":{"MatchA":[0,":m/price",1]},
          "aggregation_fns":["SUM"],"key_variables":[],
          "aggregation_variables":[1],"with_variables":[]}}}],
        "publish":["total"]}}""")
      client.send("""{"Interest":{"name":"total","granularity":null}}""")
      client.send("""{"Transact":[[1,":m/price",{"Real":1.5},null,1],
        [2,":m/price",{"Real":2.25},null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "total")
          assert(batch.map(_._1) == Seq(Seq(Value.VReal(3.75))), s"got $batch")
        case other => fail(s"expected a QueryDiff, got $other")
      }
      assert(!engine.servedIncrementally("total"),
        "real-valued aggregation must demote to the snapshot path")
    } finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("wire Interest outside the maintainable fragment demotes to snapshots") {
    // Non-monotone operator INSIDE a recursive clique body (antijoin in
    // the base case) — outside the maintained-recursion scope. The wire
    // path must demote this interest to the (semantically identical)
    // snapshot path instead of failing the advance.
    val engine = new Engine(spark)
    val server = new WsServer(engine).start()
    val client = new Client(server.boundPort)
    try {
      client.send("""{"CreateAttribute":{"name":":g/edge","config":{"input_semantics":"Distinct"}}}""")
      client.send("""{"CreateAttribute":{"name":":g/blocked","config":{"input_semantics":"Distinct"}}}""")
      // reach(x,y) := (edge(x,y) minus blocked(x)) ∪ reach(x,z)⋈edge(z,y)
      client.send("""{"Register":{"rules":[{"name":"reach","plan":
        {"Union":{"variables":[0,1],"plans":[
          {"Antijoin":{"variables":[0],
            "left_plan":{"MatchA":[0,":g/edge",1]},
            "right_plan":{"Project":{"variables":[0],
              "plan":{"MatchA":[0,":g/blocked",2]}}}}},
          {"Project":{"variables":[0,1],
            "plan":{"Join":{"variables":[2],
              "left_plan":{"NameExpr":[[0,2],"reach"]},
              "right_plan":{"MatchA":[2,":g/edge",1]}}}}}]}}}],
        "publish":["reach"]}}""")
      client.send("""{"Interest":{"name":"reach","granularity":null}}""")
      client.send("""{"Transact":[[1,":g/edge",{"Eid":2},null,1],
        [2,":g/edge",{"Eid":3},null,1],[5,":g/edge",{"Eid":6},null,1],
        [5,":g/blocked",true,null,1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      Wire.parseOutput(client.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "reach")
          // 5→6 is blocked at the source; 1 reaches 2 and (transitively) 3.
          assert(batch.toSet == Set(
            (Seq(Value.eid(1), Value.eid(2)), 0L, 1L),
            (Seq(Value.eid(1), Value.eid(3)), 0L, 1L),
            (Seq(Value.eid(2), Value.eid(3)), 0L, 1L)))
        case other => fail(s"expected a QueryDiff, got $other")
      }
      assert(!engine.servedIncrementally("reach"),
        "non-monotone recursion must demote to the snapshot path")
      assert(engine.snapshotRecomputeCount("reach") >= 1L)
    } finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("sink routing is per client: another client's plain delivery is untouched") {
    withServer { (server, a) =>
      val b = new Client(server.boundPort)
      try {
        a.send("""{"CreateAttribute":{"name":":pv","config":{"input_semantics":"Distinct"}}}""")
        a.send("""{"Register":{"rules":[{"name":"pq","plan":
          {"MatchA":[0,":pv",1]}}],"publish":["pq"]}}""")
        // a sinks the rule into TheVoid; b holds a PLAIN interest on it.
        a.send("""{"Interest":{"name":"pq","granularity":null,
          "sink":{"TheVoid":null},"disable_logging":null}}""")
        // Status round-trip pins a's Register as processed server-side
        // before b's cross-connection Interest can race it.
        a.send("\"Status\"")
        Wire.parseOutput(a.next()) match {
          case Output.Message(_, _) => ()
          case o                    => fail(s"expected Status reply, got $o")
        }
        b.send("""{"Interest":{"name":"pq","granularity":null}}""")
        // Status round-trip pins b's Interest as processed before the tx.
        b.send("\"Status\"")
        Wire.parseOutput(b.next()) match {
          case Output.Message(_, _) => ()
          case o                    => fail(s"expected Status reply, got $o")
        }
        a.send("""{"Transact":[[1,":pv",7,null,1]]}""")
        a.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
        // b receives the plain QueryDiff even though a sinked the rule.
        Wire.parseOutput(b.next()) match {
          case Output.QueryDiff(name, batch) =>
            assert(name == "pq")
            assert(batch == Seq((Seq(Value.eid(1), Value.num(7)), 0L, 1L)))
          case other => fail(s"expected plain QueryDiff for b, got $other")
        }
        // a's delivery went to the void (and logged its epoch)...
        a.send("\"Status\"")
        Wire.parseOutput(a.next()) match {
          case Output.Message(_, json) => assert(json.contains("df/status"))
          case other                   => fail(s"void sink leaked to a: $other")
        }
        assert(server.voidLog.toSeq == Seq(("pq", 0L, 1L)))
        // ...and a's LATER PLAIN Interest restores its direct delivery.
        a.send("""{"Interest":{"name":"pq","granularity":null}}""")
        a.send("""{"Transact":[[2,":pv",9,null,1]]}""")
        a.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
        Wire.parseOutput(a.next()) match {
          case Output.QueryDiff(name, batch) =>
            assert(name == "pq")
            assert(batch == Seq((Seq(Value.eid(2), Value.num(9)), 1L, 1L)))
          case other =>
            fail(s"expected direct delivery after plain re-Interest, got $other")
        }
      } finally {
        try b.close() catch { case _: Throwable => () }
      }
    }
  }

  test("two clients at different granularities over ONE rule get their own coarsened lattices") {
    // The reference's `Interest.granularity` is PER SUBSCRIBER
    // (src/server/mod.rs:110-119): each interest's dataflow gets its
    // own Coarsen. Client a coarsens to window 2, client b to window 3,
    // over the SAME rule: each must see times rounded STRICTLY up to
    // ITS bounds ((t/g + 1)·g) and held until the frontier passes them.
    withServer { (server, a) =>
      val b = new Client(server.boundPort)
      try {
        a.send("""{"CreateAttribute":{"name":":cg/x","config":{"input_semantics":"Raw"}}}""")
        a.send("""{"Register":{"rules":[{"name":"cq","plan":{"MatchA":[0,":cg/x",1]}}],"publish":["cq"]}}""")
        a.send("""{"Interest":{"name":"cq","granularity":{"TxId":2}}}""")
        // Cross-connection ordering is NOT guaranteed (each socket has
        // its own reader thread): barrier on a Status round-trip so b's
        // Interest cannot race ahead of a's Register, and b's Interest
        // is processed before the transact.
        a.send("\"Status\"")
        assert(a.next().contains("df/status"))
        b.send("""{"Interest":{"name":"cq","granularity":{"TxId":3}}}""")
        b.send("\"Status\"")
        assert(b.next().contains("df/status"))
        // t=0 datom: a's bucket = (0/2+1)*2 = 2, b's = (0/3+1)*3 = 3.
        a.send("""{"Transact":[[1,":cg/x",10,null,1]]}""")
        // Frontier 3 > a's bound 2: a releases; b's bound 3 is NOT past.
        a.send("""{"AdvanceDomain":[null,{"TxId":3}]}""")
        Wire.parseOutput(a.next()) match {
          case Output.QueryDiff(name, batch) =>
            assert(name == "cq")
            assert(batch == Seq((Seq(Value.eid(1), Value.num(10)), 2L, 1L)),
              s"a (g=2) must see t=0 coarsened to 2, got $batch")
          case other => fail(s"expected a's coarsened QueryDiff, got $other")
        }
        // Frontier 4 > b's bound 3: b releases at ITS lattice time.
        a.send("""{"AdvanceDomain":[null,{"TxId":4}]}""")
        Wire.parseOutput(b.next()) match {
          case Output.QueryDiff(name, batch) =>
            assert(name == "cq")
            assert(batch == Seq((Seq(Value.eid(1), Value.num(10)), 3L, 1L)),
              s"b (g=3) must see t=0 coarsened to 3, got $batch")
          case other => fail(s"expected b's coarsened QueryDiff, got $other")
        }
      } finally {
        try b.close() catch { case _: Throwable => () }
      }
    }
  }

  test("a granularity switch flushes held coarse buckets instead of dropping them (r11 review)") {
    // A client holding coarse-bucketed diffs (already drained from the
    // engine) re-sends Interest at a different granularity: the held
    // buckets must FLUSH at their recorded bounds — the diffs exist
    // nowhere else, so dropping them would lose updates forever.
    withServer { (server, a) =>
      a.send("""{"CreateAttribute":{"name":":sw/x","config":{"input_semantics":"Raw"}}}""")
      a.send("""{"Register":{"rules":[{"name":"sq","plan":{"MatchA":[0,":sw/x",1]}}],"publish":["sq"]}}""")
      a.send("""{"Interest":{"name":"sq","granularity":{"TxId":5}}}""")
      // t=0 datom buckets to (0/5+1)*5 = 5; frontier 2 < 5: held.
      a.send("""{"Transact":[[1,":sw/x",10,null,1]]}""")
      a.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      // Switch to FINE delivery: the held bucket flushes at bound 5.
      a.send("""{"Interest":{"name":"sq","granularity":null}}""")
      Wire.parseOutput(a.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "sq")
          assert(batch == Seq((Seq(Value.eid(1), Value.num(10)), 5L, 1L)),
            s"held bucket must flush at its recorded bound, got $batch")
        case other => fail(s"expected the flushed held bucket, got $other")
      }
      // Fine delivery is live from here: a new datom arrives at its raw
      // time, no holding.
      a.send("""{"Transact":[[2,":sw/x",20,null,1]]}""")
      a.send("""{"AdvanceDomain":[null,{"TxId":9}]}""")
      Wire.parseOutput(a.next()) match {
        case Output.QueryDiff(name, batch) =>
          assert(name == "sq")
          assert(batch.map(r => (r._1, r._3)) ==
            Seq((Seq(Value.eid(2), Value.num(20)), 1L)),
            s"fine delivery after the switch, got $batch")
          assert(batch.head._2 < 9L, s"fine time must be raw, got ${batch.head._2}")
        case other => fail(s"expected the fine diff, got $other")
      }
    }
  }

  // ------------------------------------------------------ bitemporal mode

  private def withBiServer(f: (graft.streaming.BiMaintained, Client) => Unit): Unit = {
    val bm = new graft.streaming.BiMaintained(spark, partitions = 4)
    val server = WsServer.bi(bm).start()
    val client = new Client(server.boundPort)
    try f(bm, client)
    finally {
      try client.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("bitemporal domain over the wire: Bi-time delivery, teardown, late re-attach") {
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":w/price"}}""")
      client.send("""{"Register":{"rules":[{"name":"bi_price","plan":
        {"MatchA":[0,":w/price",1]}}],"publish":["bi_price"]}}""")
      client.send("""{"Interest":{"name":"bi_price","granularity":null}}""")
      // One fact at Pair(sys=0ms, event=5).
      client.send("""{"Transact":[[1,":w/price",{"Number":10},
        {"Bi":[{"secs":0,"nanos":0},5]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"Bi":[{"secs":0,"nanos":1000000},0]}]}""")
      val msg = client.next()
      assert(msg.contains("\"QueryDiff\"") && msg.contains("bi_price"), msg)
      assert(msg.contains("\"Bi\""), s"expected a Bi-coordinate time: $msg")
      assert(msg.contains("[[1,10],"), msg)
      // A LATE EVENT write at a higher system time — the bitemporal point.
      client.send("""{"Transact":[[1,":w/price",{"Number":7},
        {"Bi":[{"secs":0,"nanos":1000000},3]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      val msg2 = client.next()
      assert(msg2.contains("\"QueryDiff\"") && msg2.contains("[[1,7],"), msg2)
      // Teardown over the wire: the standing unwinds with the last
      // interested client; later advances must stay silent.
      client.send("""{"Uninterest":"bi_price"}""")
      client.send("""{"Transact":[[2,":w/price",{"Number":99},
        {"Bi":[{"secs":0,"nanos":2000000},9]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":3}]}""")
      client.send("\"Status\"")
      val msg3 = client.next()
      assert(msg3.contains("df/status"),
        s"expected only the status reply after teardown, got $msg3")
      // LATE RE-ATTACH: the lane rebuilds its lattice from the shared
      // history and replays the completed times (all three facts).
      client.send("""{"Interest":{"name":"bi_price","granularity":null}}""")
      val replay = client.next()
      assert(replay.contains("\"QueryDiff\"") &&
        replay.contains("[[1,10],") &&
        replay.contains("[[1,7],") &&
        replay.contains("[[2,99],"), replay)
    }
  }

  test("bitemporal Interest granularity coarsens wire delivery to the lane lattice") {
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":w4/x"}}""")
      client.send("""{"Register":{"rules":[{"name":"bi_coarse","plan":
        {"MatchA":[0,":w4/x",1]}}],"publish":["bi_coarse"]}}""")
      // Granularity Bi(2ms, 2): both fine facts below land in ONE
      // coarse cell (2ms, 2) — one delivery at the coarse time.
      client.send("""{"Interest":{"name":"bi_coarse",
        "granularity":{"Bi":[{"secs":0,"nanos":2000000},2]}}}""")
      client.send("""{"Transact":[
        [1,":w4/x",{"Number":5},{"Bi":[{"secs":0,"nanos":0},0]},1],
        [2,":w4/x",{"Number":6},{"Bi":[{"secs":0,"nanos":1000000},1]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":3}]}""")
      val msg = client.next()
      assert(msg.contains("\"QueryDiff\"") && msg.contains("bi_coarse"), msg)
      // Both facts deliver AT the coarse lattice point, not their fine
      // times.
      assert(msg.contains("""{"Bi":[{"secs":0,"nanos":2000000},2]}"""), msg)
      assert(!msg.contains("""{"Bi":[{"secs":0,"nanos":0},0]}"""), msg)
      assert(msg.contains("[[1,5],") && msg.contains("[[2,6],"), msg)
    }
  }

  test("bitemporal Interest is idempotent; a mismatched config errors cleanly") {
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":w3/x"}}""")
      client.send("""{"Register":{"rules":[{"name":"bi_idem","plan":
        {"MatchA":[0,":w3/x",1]}}],"publish":["bi_idem"]}}""")
      client.send("""{"Interest":{"name":"bi_idem","granularity":null}}""")
      // Re-sending the SAME Interest (reconnects do) must be a no-op,
      // not an attach-time failure.
      client.send("""{"Interest":{"name":"bi_idem","granularity":null}}""")
      client.send("""{"Transact":[[1,":w3/x",{"Number":1},
        {"Bi":[{"secs":0,"nanos":0},0]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      assert(client.next().contains("\"QueryDiff\""))
      // A DIFFERENT granularity on the same standing is a clear error
      // (the bi engine holds one (granularity, sink) per rule).
      client.send("""{"Interest":{"name":"bi_idem","granularity":{"Bi":[{"secs":0,"nanos":0},10]}}}""")
      val err = client.next()
      assert(err.contains("\"Error\"") && err.contains("already served"), err)
    }
  }

  test("bitemporal RegisterSource over the wire drives the data-sized ingest edge") {
    withBiServer { (bm, client) =>
      // A CSV with a timestamp column: each row becomes a versioned
      // fact at Pair(sys = current frontier, event = ts column). The
      // duplicate row pins the reference's Distinct source semantics.
      val dir = Files.createTempDirectory("graft-bi-src")
      val f = dir.resolve("facts.csv")
      java.nio.file.Files.writeString(f,
        "id,price,ts\n1,10,3\n2,20,5\n1,10,3\n")
      client.send("""{"Register":{"rules":[{"name":"bi_src","plan":
        {"MatchA":[0,":src/price",1]}}],"publish":["bi_src"]}}""")
      client.send("""{"Interest":{"name":"bi_src","granularity":null}}""")
      client.send(s"""{"RegisterSource":{"CsvFile":{"path":"$f",
        "has_headers":true,"delimiter":44,"eid_offset":0,
        "timestamp_offset":2,
        "schema":[[":src/price",[1,{"Number":0}]]]}}}""")
      // Sequence behind the command loop (requests process in order),
      // then pin the zero-driver-materialization claim: the source's
      // rows entered through the distributed registerHistory edge.
      client.send("\"Status\"")
      assert(client.next().contains("df/status"))
      val probe = bm.frameIngestProbe
      assert(probe("datoms") == 3L && probe("driverLatticeRows") <= 2L &&
        probe("driverAttrRows") == 1L,
        s"wire RegisterSource materialized data on the driver: $probe")
      // The registration landed at the frontier: the next advance
      // delivers, with EVENT coordinates from the timestamp column and
      // the duplicate row collapsed by Distinct semantics (weight 1).
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      val msg = client.next()
      assert(msg.contains("\"QueryDiff\"") && msg.contains("bi_src"), msg)
      assert(msg.contains("""[[1,10],{"Bi":[{"secs":0,"nanos":0},3]},1]"""),
        s"expected the deduped fact at event 3 with weight 1: $msg")
      assert(msg.contains("""[[2,20],{"Bi":[{"secs":0,"nanos":0},5]},1]"""),
        s"expected the second fact at event 5: $msg")
      // A LATER registration lands at the advanced frontier (sys=1):
      // bitemporal RegisterSource is incremental, not one-shot.
      val f2 = dir.resolve("more.csv")
      java.nio.file.Files.writeString(f2, "id,price,ts\n3,30,4\n")
      client.send(s"""{"RegisterSource":{"CsvFile":{"path":"$f2",
        "has_headers":true,"delimiter":44,"eid_offset":0,
        "timestamp_offset":2,
        "schema":[[":src/price",[1,{"Number":0}]]]}}}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      val msg2 = client.next()
      assert(msg2.contains("\"QueryDiff\"") &&
        msg2.contains("""[[3,30],{"Bi":[{"secs":0,"nanos":1000000},4]},1]"""),
        s"expected the second registration at sys=1ms, event=4: $msg2")
      // The JsonFile shape rides the same edge (line index = eid,
      // event 0, sys = the now-advanced frontier).
      val fj = dir.resolve("facts.jsonl")
      java.nio.file.Files.writeString(fj,
        """{":src/price": 70}""" + "\n" + """{":src/price": 80}""" + "\n")
      client.send(s"""{"RegisterSource":{"JsonFile":{"path":"$fj",
        "attributes":[[":src/price",{"Number":0}]]}}}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":3}]}""")
      val msg3 = client.next()
      assert(msg3.contains("\"QueryDiff\"") &&
        msg3.contains("""[[0,70],{"Bi":[{"secs":0,"nanos":2000000},0]},1]""") &&
        msg3.contains("""[[1,80],{"Bi":[{"secs":0,"nanos":2000000},0]},1]"""),
        s"expected the JSON registration at sys=2ms, event=0: $msg3")
      // And the ParquetFile shape (beyond-parity: named columns,
      // timestamp_column as the event axis) rides the same edge at the
      // now-advanced frontier (sys=3).
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val fp = dir.resolve("facts_pq").toString
      TestSpark.spark.createDataFrame(
        java.util.Arrays.asList(Row(9L, 90L, 7L)),
        StructType(Seq(
          StructField("id", LongType, false),
          StructField("price", LongType, true),
          StructField("ts", LongType, false))))
        .write.mode("overwrite").parquet(fp)
      client.send(s"""{"RegisterSource":{"ParquetFile":{"path":"$fp",
        "eid_column":"id","timestamp_column":"ts",
        "attributes":[[":src/price",["price",{"Number":0}]]]}}}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":4}]}""")
      val msg4 = client.next()
      assert(msg4.contains("\"QueryDiff\"") &&
        msg4.contains("""[[9,90],{"Bi":[{"secs":0,"nanos":3000000},7]},1]"""),
        s"expected the parquet registration at sys=3ms, event=7: $msg4")
    }
  }

  test("bitemporal CsvFile sink over the wire routes the data-sized delivery edge") {
    withBiServer { (_, client) =>
      val dir = Files.createTempDirectory("graft-bi-csv").toString
      client.send("""{"CreateAttribute":{"name":":w2/x"}}""")
      client.send("""{"Register":{"rules":[{"name":"bi_csv","plan":
        {"MatchA":[0,":w2/x",1]}}],"publish":["bi_csv"]}}""")
      client.send(s"""{"Interest":{"name":"bi_csv","granularity":null,
        "sink":{"CsvFile":{"path":"$dir","has_headers":true,"delimiter":44}}}}""")
      client.send("""{"Transact":[[1,":w2/x",{"Number":5},
        {"Bi":[{"secs":0,"nanos":0},0]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      client.send("\"Status\"")
      assert(client.next().contains("df/status"))
      // The diffs went to the DiffSink as distributed CSV writes — the
      // wire stays quiet and the files exist under <dir>/bi_csv.
      val files = java.nio.file.Files.walk(Paths.get(dir, "bi_csv"))
      val csvs = try files.iterator().asScala
        .count(f => f.toString.endsWith(".csv"))
      finally files.close()
      assert(csvs > 0, s"no csv part files under $dir/bi_csv")
    }
  }

  test("bitemporal ParquetDir sink over the wire lands Bi-time diffs columnar") {
    withBiServer { (_, client) =>
      val dir = Files.createTempDirectory("graft-bi-pqs").toString
      client.send("""{"CreateAttribute":{"name":":w3/x"}}""")
      client.send("""{"Register":{"rules":[{"name":"bi_pq","plan":
        {"MatchA":[0,":w3/x",1]}}],"publish":["bi_pq"]}}""")
      client.send(s"""{"Interest":{"name":"bi_pq","granularity":null,
        "sink":{"ParquetDir":{"path":"$dir"}}}}""")
      client.send("""{"Transact":[[1,":w3/x",{"Number":5},
        {"Bi":[{"secs":0,"nanos":0},4]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      client.send("\"Status\"")
      assert(client.next().contains("df/status"))
      // The diffs landed as distributed parquet — wire quiet, event
      // coordinate carried in the frame's time columns.
      val rows = spark.read.parquet(s"$dir/bi_pq").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getLong(0) == 1L && r.getLong(1) == 5L,
        s"unexpected tuple: $r")
      assert(r.getAs[Any]("_event").toString.toLong == 4L,
        s"expected the event coordinate 4: $r")
    }
  }

  test("bitemporal Subscribe and Tick work like the unitemporal server loop") {
    withBiServer { (bm, client) =>
      client.send("""{"CreateAttribute":{"name":":w4/x"}}""")
      // Subscribe = whole-attribute standing (timestamp-generic in the
      // reference server loop), delivered with Bi coordinates.
      client.send("""{"Subscribe":":w4/x"}""")
      client.send("""{"Transact":[[1,":w4/x",{"Number":5},
        {"Bi":[{"secs":0,"nanos":0},2]},1]]}""")
      // Tick advances the system frontier one epoch — no explicit
      // AdvanceDomain needed to see the subscription's diffs.
      client.send("\"Tick\"")
      val msg = client.next()
      assert(msg.contains("\"QueryDiff\"") && msg.contains(":w4/x") &&
        msg.contains("""[[1,5],{"Bi":[{"secs":0,"nanos":0},2]},1]"""),
        s"expected the subscribed datom at Bi(0, 2): $msg")
      assert(bm.frontier == 1L, s"Tick should advance to 1, at ${bm.frontier}")
      // A second subscriber to the same attribute joins the fan-out
      // (idempotent — no duplicate rule/standing).
      client.send("""{"Subscribe":":w4/x"}""")
      client.send("""{"Transact":[[2,":w4/x",{"Number":7},
        {"Bi":[{"secs":0,"nanos":1000000},0]},1]]}""")
      client.send("\"Tick\"")
      val msg2 = client.next()
      assert(msg2.contains("""[[2,7],{"Bi":[{"secs":0,"nanos":1000000},0]},1]"""),
        s"expected the second datom after re-subscribe + Tick: $msg2")
      // CloseInput applies in the bi domain too: a later write to the
      // closed attribute comes back as a wire Error.
      client.send("""{"CloseInput":":w4/x"}""")
      client.send("""{"Transact":[[3,":w4/x",{"Number":9},
        {"Bi":[{"secs":0,"nanos":2000000},0]},1]]}""")
      val msg3 = client.next()
      assert(msg3.contains("\"Error\"") && msg3.contains("closed"),
        s"expected a closed-input Error: $msg3")
    }
  }

  test("bitemporal AssocIn wire sink folds Bi diffs per client, no diversion") {
    // Round 16: AssocIn / JsonDoc are per-CLIENT wire sinks in the bi
    // domain too (the reference sink enum is timestamp-generic). The
    // sink rides the shared plain standing: a second client's plain
    // Interest on the same rule keeps its QueryDiff delivery.
    val bm = new graft.streaming.BiMaintained(spark, partitions = 4)
    val server = WsServer.bi(bm).start()
    val folder = new Client(server.boundPort)
    val plain = new Client(server.boundPort)
    try {
      folder.send("""{"CreateAttribute":{"name":":ba/age"}}""")
      folder.send("""{"Register":{"rules":[{"name":"bages","plan":
        {"MatchA":[0,":ba/age",1]}}],"publish":["bages"]}}""")
      folder.send("""{"Interest":{"name":"bages","granularity":null,
        "sink":{"AssocIn":{"stateful":1}},"disable_logging":null}}""")
      folder.send(""""Status"""")
      assert(folder.next().contains("df/status"))
      plain.send("""{"Interest":{"name":"bages","granularity":null}}""")
      // Pin the plain client's Interest as PROCESSED before the folder
      // races it with the advance (the cross-client discipline the
      // divert test documents).
      plain.send(""""Status"""")
      assert(plain.next().contains("df/status"))
      folder.send("""{"Transact":[[100,":ba/age",{"Number":43},
        {"Bi":[{"secs":0,"nanos":0},0]},1]]}""")
      folder.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      val fmsg = folder.next()
      assert(fmsg.contains("\"Json\"") && fmsg.contains("43") &&
        fmsg.contains("\"Bi\""),
        s"expected a folded Json output with a Bi time: $fmsg")
      val pmsg = plain.next()
      assert(pmsg.contains("\"QueryDiff\"") && pmsg.contains("[[100,43],"),
        s"the plain client's QueryDiff delivery must be intact: $pmsg")
    } finally {
      try folder.close() catch { case _: Throwable => () }
      try plain.close() catch { case _: Throwable => () }
      server.stop()
    }
  }

  test("bitemporal Derive + AssocIn folds pull path-arrays into documents") {
    // The reference's gql pairing, bitemporally: Derive registers the
    // pull rule; an AssocIn Interest on the namespace folds its
    // PATH-ARRAY tuples (single variant cell per row — expanded
    // positionally to root eid / attribute aids / leaf value, the uni
    // flushDiffs twin) into nested Json documents.
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":"glink"}}""")
      client.send("""{"CreateAttribute":{"name":"gname"}}""")
      client.send("""{"Derive":["gcust","{ glink { gname } }"]}""")
      client.send("""{"Interest":{"name":"gcust","granularity":null,
        "sink":{"AssocIn":{"stateful":null}},"disable_logging":null}}""")
      client.send("""{"Transact":[
        [1,"glink",{"Eid":1},{"Bi":[{"secs":0,"nanos":0},0]},1],
        [1,"gname","n7",{"Bi":[{"secs":0,"nanos":0},0]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      var msg = client.next(); var tries = 0
      while (!(msg != null && msg.contains("\"Json\"")) && tries < 5) {
        msg = client.next(); tries += 1
      }
      assert(msg != null && msg.contains("\"Json\"") &&
        msg.contains("n7") && msg.contains("\"Bi\""),
        s"expected the folded pull document with a Bi time: $msg")
    }
  }

  test("bitemporal JsonDoc wire sink emits flattened Bi document snapshots") {
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":bp/child"}}""")
      client.send("""{"CreateAttribute":{"name":":bc/name"}}""")
      client.send("""{"Register":{"rules":[{"name":"bfam","plan":
        {"PullLevel":{"variables":[],"plan":{"MatchA":[0,":bp/child",1]},
          "pull_variable":1,"pull_attributes":[":bc/name"],
          "path_attributes":[":bp/child"],"cardinality_many":true}}}],
        "publish":["bfam"]}}""")
      client.send("""{"Interest":{"name":"bfam","granularity":null,
        "sink":{"JsonDoc":{"required_aids":[":bc/name"]}},"disable_logging":null}}""")
      client.send("""{"Transact":[
        [100,":bp/child",{"Eid":200},{"Bi":[{"secs":0,"nanos":0},0]},1],
        [200,":bc/name","Alice",{"Bi":[{"secs":0,"nanos":0},0]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      val msg = client.next()
      assert(msg.contains("\"Json\"") && msg.contains("Alice") &&
        msg.contains("\"Bi\"") && msg.contains("\"100\""),
        s"expected the flattened Bi document snapshot: $msg")
    }
  }

  test("bitemporal Derive republishes pulled paths as MatchA-able attributes") {
    // The last wire asymmetry closed (round 16): `Request::Derive` is
    // timestamp-generic in the reference server loop (src/server/mod.rs:
    // 158-160, src/derive/graphql.rs) — the GraphQL pull rule serves
    // under the namespace, and a LATER-registered bi rule joins the
    // derived attribute cust/dname (inlined into its standing at
    // attach) with a base attribute. The link retraction at a higher
    // system time must collapse the joined row even though dname/dbal
    // survive — the q_derive_maintain shape, bitemporally.
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":"link"}}""")
      client.send("""{"CreateAttribute":{"name":"dname"}}""")
      client.send("""{"CreateAttribute":{"name":"dbal"}}""")
      client.send("""{"Derive":["cust","{ link { dname } }"]}""")
      client.send("""{"Register":{"rules":[{"name":"bifans","plan":
        {"Join":{"variables":[0],
          "left_plan":{"MatchA":[0,"cust/dname",1]},
          "right_plan":{"MatchA":[0,"dbal",2]}}}}],
        "publish":["bifans"]}}""")
      client.send("""{"Interest":{"name":"bifans","granularity":null}}""")
      // Self-link (the q_derive_maintain shape): the derived view's
      // entity is the pull TARGET, so the self-link keeps cust/dname and
      // dbal on one entity for the join.
      client.send("""{"Transact":[
        [1,"link",{"Eid":1},{"Bi":[{"secs":0,"nanos":0},0]},1],
        [1,"dname","n7",{"Bi":[{"secs":0,"nanos":0},0]},1],
        [1,"dbal",{"Number":5},{"Bi":[{"secs":0,"nanos":0},0]},1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":1}]}""")
      // The namespace rule ("cust") also serves — skim to the joined
      // rule's delivery.
      def until(pred: String => Boolean, what: String): String = {
        var m = client.next(); var tries = 0
        while (!pred(m) && tries < 5) { m = client.next(); tries += 1 }
        assert(pred(m), s"expected $what, last message: $m")
        m
      }
      val msg = until(m => m.contains("bifans"), "a bifans QueryDiff")
      assert(msg.contains("\"QueryDiff\"") &&
        msg.contains("""[[1,"n7",5],""") && msg.contains("\"Bi\""),
        s"expected the derived join row at a Bi coordinate: $msg")
      // Retract the LINK at a higher system time: the derived row (and
      // the join) must collapse although dname/dbal survive.
      client.send("""{"Transact":[
        [1,"link",{"Eid":1},{"Bi":[{"secs":0,"nanos":1000000},0]},-1]]}""")
      client.send("""{"AdvanceDomain":[null,{"TxId":2}]}""")
      val msg2 = until(m => m.contains("bifans"), "the retraction QueryDiff")
      assert(msg2.contains("""[[1,"n7",5],""") && msg2.contains(",-1]"),
        s"expected the joined row retracted: $msg2")
      // Re-deriving the same document is idempotent over the wire.
      client.send("""{"Derive":["cust","{ link { dname } }"]}""")
      client.send("\"Status\"")
      val msg3 = until(m => m.contains("df/status"), "a status reply")
      assert(msg3.contains("df/status"), msg3)
    }
  }

  test("bitemporal Subscribe colliding with a same-named user rule errors") {
    withBiServer { (_, client) =>
      client.send("""{"CreateAttribute":{"name":":w5/x"}}""")
      client.send("""{"Register":{"rules":[{"name":":w5/x","plan":
        {"MatchA":[0,":w5/other",1]}}],"publish":[":w5/x"]}}""")
      // Subscribing to the attribute whose name a DIFFERENT rule holds
      // must error loudly instead of silently joining (or overwriting)
      // that rule's standing.
      client.send("""{"Subscribe":":w5/x"}""")
      val msg = client.next()
      assert(msg.contains("\"Error\"") && msg.contains("collides"),
        s"expected a collision Error: $msg")
    }
  }
}
