package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.compile.Compiler
import graft.domain.Domain
import graft.model._
import graft.model.Plan._
import graft.model.ValueKind._
import graft.sinks.AssocIn
import graft.sources.FileSources
import graft.sources.FileSources.{CsvFile, JsonFile}

/** CSV/JSON datom sources (`src/sources/csv_file.rs`, `json_file.rs`) and
  * the AssocIn document sink (`src/sinks/assoc_in.rs`). */
class SourcesAndSinksSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("CsvFile fans one file into per-attribute (e, v) relations") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("people.csv")
    Files.writeString(f,
      """id,name,age
        |1,alice,33
        |2,bob,41
        |2,bob,41
        |# comment line
        |3,carol,27
        |""".stripMargin)

    val domain = new Domain(spark)
    FileSources.registerCsv(domain, CsvFile(
      path = f.toString,
      hasHeaders = true,
      comment = Some("#"),
      eidOffset = 0,
      schema = Seq(":name" -> (1, KString), ":age" -> (2, KNumber))))

    val compiler = new Compiler(domain.asOf(Long.MaxValue))
    val names = compiler.run(matchA(0, ":name", 1)).df
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // duplicate row deduped (Distinct semantics, csv_file.rs:204-212)
    assert(names == Set((1L, "alice"), (2L, "bob"), (3L, "carol")))

    val ages = compiler.run(matchA(0, ":age", 1)).df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ages == Set((1L, 33L), (2L, 41L), (3L, 27L)))
  }

  test("JsonFile: line index is the eid; missing attributes emit nothing") {
    val dir = Files.createTempDirectory("graft_json")
    val f = dir.resolve("objs.json")
    Files.writeString(f,
      """{"name": "alice", "age": 33, "admin": true}
        |{"name": "bob"}
        |{"age": 27, "admin": false}
        |""".stripMargin)

    val domain = new Domain(spark)
    FileSources.registerJson(domain, JsonFile(
      path = f.toString,
      attributes = Seq("name" -> KString, "age" -> KNumber, "admin" -> KBool)))

    val compiler = new Compiler(domain.asOf(Long.MaxValue))
    val names = compiler.run(matchA(0, "name", 1)).df
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(names == Set((0L, "alice"), (1L, "bob")))
    val ages = compiler.run(matchA(0, "age", 1)).df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ages == Set((0L, 33L), (2L, 27L)))
    val admins = compiler.run(matchA(0, "admin", 1)).df
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(admins == Set((0L, true), (2L, false)))
  }

  test("streamCsv fans incoming files into per-attribute update streams") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = Files.createTempDirectory("graft_csv_stream")
    Files.writeString(dir.resolve("batch1.csv"),
      "id,name,ts\n1,alice,10\n2,bob,20\n")

    val sources = FileSources.streamCsv(
      spark, dir.toString,
      schemaDDL = "id LONG, name STRING, ts LONG",
      eidOffset = 0,
      schema = Seq(":name" -> (1, KString)),
      tsOffset = Some(2))
    val (aid, df, _) = sources.head
    assert(aid == ":name")
    val query = df.writeStream.format("memory").queryName("csv_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      query.processAllAvailable()
      // second file arrives while the stream runs
      Files.writeString(dir.resolve("batch2.csv"),
        "id,name,ts\n3,carol,30\n")
      query.processAllAvailable()
      val got = spark.table("csv_stream_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == Set(
        (1L, "alice", 10L, 1L), (2L, "bob", 20L, 1L), (3L, "carol", 30L, 1L)))
    } finally query.stop()
  }

  test("streamParquet fans incoming files into per-attribute update streams") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_pq_stream")
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, true),
      StructField("ts", LongType, false)))
    def write(sub: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(sub).toString)
    // Streaming file sources watch a flat dir of files; write each batch
    // to a staging dir and move its part file in (the atomic-arrival
    // convention file streams expect).
    def arrive(sub: String, rows: Seq[Row]): Unit = {
      write(s"stage_$sub", rows)
      val part = Files.list(dir.resolve(s"stage_$sub")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$sub.parquet"))
    }
    arrive("batch1", Seq(Row(1L, "alice", 10L), Row(2L, null, 20L)))

    val sources = FileSources.streamParquet(
      spark, dir.toString + "/*.parquet",
      schemaDDL = "id LONG, name STRING, ts LONG",
      eidColumn = "id",
      attributes = Seq(":name" -> (("name", KString))),
      tsColumn = Some("ts"))
    val (aid, df, _) = sources.head
    assert(aid == ":name")
    val query = df.writeStream.format("memory").queryName("pq_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      query.processAllAvailable()
      arrive("batch2", Seq(Row(3L, "carol", 30L)))
      query.processAllAvailable()
      val got = spark.table("pq_stream_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      // the null name row contributed no datom (typed-null convention)
      assert(got == Set((1L, "alice", 10L, 1L), (3L, "carol", 30L, 1L)))
    } finally query.stop()
  }

  test("TheVoid sink swallows a stream while logging per-epoch latency") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Long]
    val (writer, log) = graft.sinks.TheVoid.sink(input.toDS().toDF("v"), "void_out")
    val query = writer.start()
    try {
      input.addData(Seq(1L, 2L, 3L))
      query.processAllAvailable()
      input.addData(Seq(4L))
      query.processAllAvailable()
      // Progress events reach the log on the listener bus, after
      // processAllAvailable has returned.
      org.apache.spark.GraftBus.flush(spark.sparkContext)
      val epochs = log.epochs
      assert(epochs.map(_.inputRows).sum == 4L)
      assert(epochs.forall(_.durationMs >= 0L))
    } finally query.stop()
  }

  test("AssocIn stateless fold builds one document per top-level key") {
    import Value._
    // paths: [eid attr val] and nested [eid attr eid attr val]
    val paths = Seq(
      (Seq[Value](VEid(1), VAid("name"), VString("alice")), 0L, 1L),
      (Seq[Value](VEid(1), VAid("age"), VNumber(33)), 0L, 1L),
      (Seq[Value](VEid(1), VAid("friend"), VEid(2), VAid("name"), VString("bob")), 0L, 1L),
      (Seq[Value](VEid(2), VAid("name"), VString("bob")), 0L, 1L))
    val docs = AssocIn.fold(paths).toMap
    assert(docs("1") ==
      """{"age":33,"friend":{"2":{"name":"bob"}},"name":"alice"}""")
    assert(docs("2") == """{"name":"bob"}""")
  }

  test("AssocIn stateful merge applies retractions first and reports changes") {
    import Value._
    val sink = new AssocIn.Stateful(granularity = 1)
    val c1 = sink.merge(Seq(
      (Seq[Value](VEid(1), VAid("name"), VString("alice")), 0L, 1L)))
    assert(c1 == Seq(Seq("1") -> """{"name":"alice"}"""))

    // same-batch retract + assert: retraction applies first, value survives
    val c2 = sink.merge(Seq(
      (Seq[Value](VEid(1), VAid("name"), VString("alicia")), 1L, 1L),
      (Seq[Value](VEid(1), VAid("name"), VString("alice")), 1L, -1L)))
    assert(c2 == Seq(Seq("1") -> """{"name":"alicia"}"""))

    // plain retraction deletes the leaf
    sink.merge(Seq(
      (Seq[Value](VEid(1), VAid("name"), VString("alicia")), 2L, -1L)))
    assert(sink.snapshot == """{"1":{}}""")
  }

  test("AssocIn stateful granularity 2 reports changed sub-structures only") {
    import Value._
    val sink = new AssocIn.Stateful(granularity = 2)
    val c1 = sink.merge(Seq(
      (Seq[Value](VEid(1), VAid("name"), VString("alice")), 0L, 1L),
      (Seq[Value](VEid(1), VAid("friend"), VEid(2), VAid("name"), VString("bob")), 0L, 1L)))
    // Change keys truncate at depth 2; each carries the sub-structure
    // rendered at that node, not the whole document.
    assert(c1.toSet == Set(
      Seq("1", "name") -> "\"alice\"",
      Seq("1", "friend") -> """{"2":{"name":"bob"}}"""))

    // A later change under one branch re-reports ONLY that branch.
    val c2 = sink.merge(Seq(
      (Seq[Value](VEid(1), VAid("friend"), VEid(2), VAid("age"), VNumber(7)), 1L, 1L)))
    assert(c2 == Seq(Seq("1", "friend") -> """{"2":{"age":7,"name":"bob"}}"""))
    assert(sink.snapshot ==
      """{"1":{"friend":{"2":{"age":7,"name":"bob"}},"name":"alice"}}""")
  }

  test("AssocIn folds a compiled pull-path frame end-to-end") {
    val engine = new graft.engine.Engine(spark)
    engine.createAttribute(":person/name", AttributeConfig(InputSemantics.Distinct))
    engine.createAttribute(":person/age", AttributeConfig(InputSemantics.Distinct))
    engine.register(Rule("docs",
      PullAll(Seq.empty, Seq(":person/name", ":person/age"))))
    engine.transact(Seq(
      Datom.add(1L, ":person/name", Value.str("alice")),
      Datom.add(1L, ":person/age", Value.num(33)),
      Datom.add(2L, ":person/name", Value.str("bob"))))
    engine.advance(1)

    val frame = engine.resultFrame("docs")
    // PullAll rows are (e, a, variant-v): assemble [eid aid val] paths.
    val paths = frame.collect().toSeq.map { row =>
      (Seq[Value](Value.VEid(row.getLong(0)), Value.VAid(row.getString(1)),
        graft.model.Variant.valueOf(row.getStruct(2))), 0L, row.getLong(3))
    }
    val docs = AssocIn.fold(paths).toMap
    assert(docs("1") == """{":person/age":33,":person/name":"alice"}""")
    assert(docs("2") == """{":person/name":"bob"}""")
  }

  test("RegisterSource request wires a CSV source through the engine") {
    import graft.engine.Engine
    import graft.server.{Request, Wire}
    val dir = Files.createTempDirectory("graft_regsrc")
    val f = dir.resolve("people.csv")
    Files.writeString(f,
      """id,name,age
        |1,alice,33
        |2,bob,41
        |""".stripMargin)

    // serde shape: delimiter/comment as u8, schema hints as Value variants.
    val json =
      s"""{"RegisterSource":{"CsvFile":{"path":"$f","has_headers":true,
          "delimiter":44,"comment":null,"eid_offset":0,
          "schema":[[":name",[1,{"String":""}]],[":age",[2,{"Number":0}]]]}}}"""
    val reqs = Wire.parseRequests(json)
    // render(parse(x)) parses back to the same request (round-trip).
    assert(Wire.parseRequests(Wire.renderRequest(reqs.head)) == reqs)

    val engine = new Engine(spark)
    reqs.foreach(engine.handle)
    engine.handle(Request.Subscribe(":age"))
    engine.advance(1)
    val got = engine.drain(":age").map { case (tuple, _, d) =>
      (tuple(0).asInstanceOf[Long], tuple(1).asInstanceOf[Long], d)
    }.toSet
    assert(got == Set((1L, 33L, 1L), (2L, 41L, 1L)))
  }

  test("ParquetFile: named columns, typed nulls drop, Real kind carried") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_pq")
    val f = dir.resolve("docs.parquet").toString
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "en", 0.91, 120L),
        Row(2L, null, 0.42, 80L), // null lang: no :d/lang datom
        Row(3L, "de", null, 60L), // null score: no :d/score datom
        Row(3L, "de", null, 60L)), // duplicate row dedupes (Distinct)
      StructType(Seq(
        StructField("doc_id", LongType, false),
        StructField("lang", StringType, true),
        StructField("score", DoubleType, true),
        StructField("n", LongType, true))))
      .write.mode("overwrite").parquet(f)

    val domain = new Domain(spark)
    FileSources.registerParquet(domain, FileSources.ParquetFile(
      path = f, eidColumn = "doc_id",
      attributes = Seq(
        ":d/lang" -> (("lang", KString)),
        ":d/score" -> (("score", KReal)),
        ":d/n" -> (("n", KNumber)))))

    val compiler = new Compiler(domain.asOf(Long.MaxValue))
    val langs = compiler.run(matchA(0, ":d/lang", 1)).df
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(langs == Set((1L, "en"), (3L, "de")))
    val scores = compiler.run(matchA(0, ":d/score", 1)).df
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(scores == Set((1L, 0.91), (2L, 0.42)))
    val ns = compiler.run(matchA(0, ":d/n", 1)).df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ns == Set((1L, 120L), (2L, 80L), (3L, 60L)))

    // A misnamed column is loud at registration, not a task error.
    val ex = intercept[IllegalArgumentException] {
      FileSources.sourceParquet(spark, FileSources.ParquetFile(
        path = f, eidColumn = "doc_id",
        attributes = Seq(":d/x" -> (("nope", KString)))))
    }
    assert(ex.getMessage.contains("nope"))
  }

  test("ParquetFile: numeric narrowing must round-trip — lossy cells are loud") {
    // A DoubleType column declared KNumber is a TOTAL cast under
    // non-ANSI semantics (1.9 truncates to 1 without nulling), so the
    // cast-null guard alone would silently lose precision (round-15
    // ADVICE). The guarded branch now requires the cast to round-trip
    // back to the source value: value-preserving cells (1.0, 80.0) pass,
    // a fractional cell fails the scan loudly.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_pq3")
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("x", DoubleType, true)))
    val good = dir.resolve("good.parquet").toString
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 120.0), Row(2L, null), Row(3L, 80.0)),
      schema).write.mode("overwrite").parquet(good)
    val (_, okDf, _) = FileSources.sourceParquet(spark, FileSources.ParquetFile(
      path = good, eidColumn = "id",
      attributes = Seq(":rt/n" -> (("x", KNumber))))).head
    assert(okDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 120L), (3L, 80L)),
      "whole-valued doubles must pass (typed null row 2 drops silently)")

    val bad = dir.resolve("bad.parquet").toString
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 120.0), Row(2L, 1.9)),
      schema).write.mode("overwrite").parquet(bad)
    val (_, badDf, _) = FileSources.sourceParquet(spark, FileSources.ParquetFile(
      path = bad, eidColumn = "id",
      attributes = Seq(":rt/n" -> (("x", KNumber))))).head
    val ex = intercept[Exception] { badDf.collect() }
    assert(String.valueOf(ex.getMessage).contains("not a valid") ||
      String.valueOf(ex.getCause).contains("not a valid"),
      s"expected the loud lossy-narrowing message, got $ex")

    // The round-trip guard applies ONLY to integral targets: a
    // decimal(38,18) column declared KReal must still ingest (0.1 has
    // no exact double — a round-trip would abort virtually every
    // fractional decimal; double is the best representation of the
    // declared kind). A decimal declared KNumber keeps the integral
    // round-trip: 2.500 is loud, 3.000 passes.
    val dec = dir.resolve("dec.parquet").toString
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, new java.math.BigDecimal("0.100000000000000000")),
        Row(2L, new java.math.BigDecimal("3.000000000000000000"))),
      StructType(Seq(
        StructField("id", LongType, false),
        StructField("d", DecimalType(38, 18), true))))
      .write.mode("overwrite").parquet(dec)
    val (_, decReal, _) = FileSources.sourceParquet(spark, FileSources.ParquetFile(
      path = dec, eidColumn = "id",
      attributes = Seq(":rt/r" -> (("d", KReal))))).head
    assert(decReal.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 0.1), (2L, 3.0)),
      "fractional decimals declared KReal must ingest, not abort")
    val (_, decNum, _) = FileSources.sourceParquet(spark, FileSources.ParquetFile(
      path = dec, eidColumn = "id",
      attributes = Seq(":rt/n2" -> (("d", KNumber))))).head
    val ex2 = intercept[Exception] { decNum.collect() }
    assert(String.valueOf(ex2.getMessage).contains("not a valid") ||
      String.valueOf(ex2.getCause).contains("not a valid"),
      s"expected the loud decimal->integral truncation, got $ex2")
  }

  test("ParquetFile: malformed cells are loud, Instant timestamps land as epoch-ms") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_pq2")
    val f = dir.resolve("t.parquet").toString
    val ts1 = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1700000000123L))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "12", ts1),
        Row(2L, null, ts1), // typed null: silently no datom
        Row(3L, "abc", ts1)), // non-null but uncastable: LOUD
      StructType(Seq(
        StructField("id", LongType, false),
        StructField("n_str", StringType, true),
        StructField("ts", TimestampType, true))))
      .write.mode("overwrite").parquet(f)

    // A cast-failure null is NOT the same as a deliberate typed null:
    // the malformed "abc" fails the scan with a clear message instead
    // of silently vanishing like row 2's null.
    val (_, badDf, _) = FileSources.sourceParquet(spark, FileSources.ParquetFile(
      path = f, eidColumn = "id",
      attributes = Seq(":m/n" -> (("n_str", KNumber))))).head
    val ex = intercept[Exception] { badDf.collect() }
    assert(String.valueOf(ex.getMessage).contains("not a valid") ||
      String.valueOf(ex.getCause).contains("not a valid"),
      s"expected the loud malformed-cell message, got $ex")

    // A native TIMESTAMP column declared Instant converts to epoch
    // MILLISECONDS (the engine/wire Value::Instant convention), not the
    // seconds a bare long cast would give.
    val (_, tsDf, _) = FileSources.sourceParquet(spark, FileSources.ParquetFile(
      path = f, eidColumn = "id",
      attributes = Seq(":m/ts" -> (("ts", KInstant))))).head
    val got = tsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1700000000123L), (2L, 1700000000123L),
      (3L, 1700000000123L)), s"expected epoch-ms instants: $got")
  }

  test("RegisterSource request wires a parquet source through the engine") {
    import graft.engine.Engine
    import graft.server.{Request, Wire}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_regpq")
    val f = dir.resolve("t.parquet").toString
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 33L), Row(2L, 41L)),
      StructType(Seq(
        StructField("id", LongType, false),
        StructField("age", LongType, true))))
      .write.mode("overwrite").parquet(f)

    val json =
      s"""{"RegisterSource":{"ParquetFile":{"path":"$f","eid_column":"id",
          "timestamp_column":null,"attributes":[[":age",["age",{"Number":0}]]]}}}"""
    val reqs = Wire.parseRequests(json)
    assert(Wire.parseRequests(Wire.renderRequest(reqs.head)) == reqs)

    val engine = new Engine(spark)
    reqs.foreach(engine.handle)
    engine.handle(Request.Subscribe(":age"))
    engine.advance(1)
    val got = engine.drain(":age").map { case (tuple, _, d) =>
      (tuple(0).asInstanceOf[Long], tuple(1).asInstanceOf[Long], d)
    }.toSet
    assert(got == Set((1L, 33L, 1L), (2L, 41L, 1L)))
  }
}
