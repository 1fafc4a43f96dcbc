package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.domain.Domain
import graft.model.ValueKind
import graft.model.ValueKind._

/** File → attribute-collection sources, the Spark mirror of the reference's
  * `Sourceable` implementations (`src/sources/mod.rs:47-64`): one file fans
  * out into one `(e, v)` relation per requested attribute.
  *
  * Differences from the reference are deliberate Spark idioms:
  *  - the poll/fuel/re-activation machinery (`csv_file.rs:95-199`) is the
  *    engine's scheduling concern — here a file is either a batch scan or a
  *    `readStream` with `maxFilesPerTrigger` (same batching effect);
  *  - per-worker round-robin sharding becomes Spark's split planning.
  *
  * Reference CSV attributes are registered with Distinct semantics
  * (`csv_file.rs:204-212`) — mirrored in [[registerCsv]].
  */
object FileSources {

  /** The registrable source vocabulary — the Spark mirror of the
    * reference's `Source` enum (`src/sources/mod.rs:20-33`: CsvFile,
    * JsonFile, plus logging sources handled elsewhere), extended with
    * [[ParquetFile]]: the reference predates columnar lakes, but a
    * 100 TB backfill arrives as parquet, not CSV — the parquet source
    * rides the same registration edges (batch Distinct attributes in a
    * unitemporal domain, one mixed-kind versioned-fact frame in a
    * bitemporal one) with column PRUNING and predicate pushdown the
    * text formats cannot give. */
  sealed trait Source

  /** Reference `CsvFile` (`src/sources/csv_file.rs:17-39`): positional
    * schema `(aid, (column offset, type hint))`, entity id at `eidOffset`.
    * Only String / Number / Eid hints are supported (`csv_file.rs:147-159`).
    */
  final case class CsvFile(
      path: String,
      hasHeaders: Boolean = true,
      delimiter: String = ",",
      comment: Option[String] = None,
      eidOffset: Int = 0,
      schema: Seq[(String, (Int, ValueKind))] = Seq.empty,
      // Reference `timestamp_offset` (`csv_file.rs:30-31`): the column
      // carrying each row's EVENT time. Read by the bitemporal
      // registration path ([[sourceCsvBiFrame]]); the unitemporal batch
      // path ignores it, as before.
      tsOffset: Option[Int] = None) extends Source

  /** Reference `JsonFile` (`src/sources/json_file.rs:24-150`): newline-
    * delimited JSON objects; the object's line index becomes its eid; one
    * output per requested attribute; String / Number / Bool values only
    * (`json_file.rs:108-131`). */
  final case class JsonFile(
      path: String,
      attributes: Seq[(String, ValueKind)]) extends Source

  /** Parquet source (beyond the reference — see [[Source]]): named
    * columns instead of positional offsets, `eidColumn` carrying the
    * entity id, one attribute per `(aid, (column, kind))` entry, and an
    * optional `tsColumn` feeding the EVENT coordinate in a bitemporal
    * domain (the parquet analog of the reference's `timestamp_offset`).
    * Kinds may additionally be Real/Instant — parquet carries typed
    * doubles and timestamps natively. A NULL cell means "this entity
    * has no value for that attribute" (the [[JsonFile]] convention —
    * parquet nulls are typed and deliberate, unlike a malformed CSV
    * cell, which stays loud). */
  final case class ParquetFile(
      path: String,
      eidColumn: String,
      attributes: Seq[(String, (String, ValueKind))],
      tsColumn: Option[String] = None) extends Source

  private def castTo(c: org.apache.spark.sql.Column, kind: ValueKind) = kind match {
    case KString            => c.cast("string")
    case KNumber | KEid     => c.cast("long")
    case KInstant           => c.cast("long")
    case KBool              => c.cast("boolean")
    case KReal              => c.cast("double")
    case other              => sys.error(s"unsupported source type hint $other")
  }

  // Column-existence guard shared by the parquet readers: a misnamed
  // column is loud at registration, not a task error mid-scan.
  private def namedIn(cols: Seq[String], where: String)(
      c: String, what: String): org.apache.spark.sql.Column = {
    require(cols.contains(c),
      s"$what column '$c' not in $where (has ${cols.mkString(", ")})")
    col(c)
  }

  // Kind-typed read of a parquet column. KInstant is the one kind whose
  // source representation varies: a native TIMESTAMP/TIMESTAMP_NTZ
  // column converts to epoch MILLISECONDS (the engine/wire Instant
  // convention — `Value::Instant` carries ms, and a bare cast("long")
  // would yield SECONDS, a silent 1000x time error), while an already-
  // integral column passes through as ms. A zoneless NTZ value is
  // interpreted in the SESSION timezone — the repo-wide convention
  // (Q.tsMicros, the oracle harness, Verify/Bench all pin UTC); a
  // deployment reading NTZ instants must pin
  // spark.sql.session.timeZone the same way or the same file ingests
  // different instants on differently-configured hosts.
  private def kindColumn(schema: StructType, column: String,
      kind: ValueKind): org.apache.spark.sql.Column = kind match {
    case KInstant => schema(column).dataType match {
      case TimestampType    => unix_millis(col(column))
      case TimestampNTZType => unix_millis(col(column).cast(TimestampType))
      case _                => col(column).cast("long")
    }
    case k => castTo(col(column), k)
  }

  // The loud/silent split the parquet source contract promises: a NULL
  // SOURCE cell is a deliberate typed null (contributes no datom — the
  // value stays null and the caller filters the row); a NON-null cell
  // whose cast to the declared kind nulls out is MALFORMED and fails
  // the scan loudly — without this split the two are indistinguishable
  // after the cast, and malformed cells would silently vanish as if
  // deliberate.
  private def guardedCast(schema: StructType, column: String,
      kind: ValueKind, aid: String,
      where: String): org.apache.spark.sql.Column = {
    val srcType = schema(column).dataType
    val casted = kindColumn(schema, column, kind)
    // INFALLIBLE conversions skip the guard entirely: a same-type or
    // lossless-upcast read (the production shape — parquet columns
    // typed to match their declared kinds) can never produce a
    // cast-null, and wrapping it in CASE WHEN would block Catalyst's
    // constant/filter pushdown into the parquet reader for nothing.
    // unix_millis of a non-null TIMESTAMP is likewise total.
    val infallible = srcType == kind.dataType ||
      org.apache.spark.sql.catalyst.expressions.Cast
        .canUpCast(srcType, kind.dataType) ||
      (kind == KInstant && (srcType == TimestampType ||
        srcType == TimestampNTZType))
    if (infallible) casted
    else {
      val src = col(column)
      // Fallible-but-NON-NULLING casts need their own guard: a numeric
      // narrowing into an INTEGRAL kind (DoubleType or DecimalType
      // declared KNumber/KEid/KInstant) is total under non-ANSI cast
      // semantics — 1.9 truncates to 1 without ever nulling, so the
      // cast-null check alone would let a declared-kind mismatch
      // silently lose precision. For numeric sources feeding an
      // integral target, require the cast to ROUND-TRIP back to the
      // source value (value-preserving cells — 1.0 → 1 — pass; 1.9,
      // NaN, overflow fail loudly). The round-trip deliberately does
      // NOT apply to floating targets (KReal): a decimal(38,18) cell
      // like 0.1 has no exact double, so a round-trip would abort
      // virtually every fractional decimal — double is the best
      // representation of the kind the user declared. String sources
      // keep the null-based guard only: their malformed cells DO null
      // out, and a round-trip would reject benign spellings ("01",
      // " 1", "+1") of valid cells. The guard's outer boundary is
      // Spark's `Cast.canUpCast` (the `infallible` branch above): note
      // it deems Long→Double upcast-safe per numeric precedence, so a
      // LongType column declared KReal scans UNGUARDED (pushdown
      // preserved) and loses precision above 2^53 exactly as a Spark
      // SQL cast would — a documented Spark boundary, not this guard's.
      val integralTarget = kind.dataType == LongType
      val ok = srcType match {
        case _: org.apache.spark.sql.types.NumericType if integralTarget =>
          casted.isNotNull && (casted.cast(srcType) === src)
        case _ => casted.isNotNull
      }
      when(src.isNull, lit(null).cast(kind.dataType))
        .otherwise(when(!ok,
          raise_error(lit(s"attribute $aid cell in column '$column' is not " +
            s"a valid $kind in $where (cast nulls or does not round-trip)"))
            .cast(kind.dataType))
          .otherwise(casted))
    }
  }

  /** Read a CSV into per-attribute `(e, v)` DataFrames. One scan serves all
    * attributes (Catalyst prunes unused columns per branch). */
  def sourceCsv(spark: SparkSession, src: CsvFile): Seq[(String, DataFrame, ValueKind)] = {
    var reader = spark.read
      .option("header", src.hasHeaders.toString)
      .option("delimiter", src.delimiter)
      .option("inferSchema", "false")
    src.comment.foreach(c => reader = reader.option("comment", c))
    val raw = reader.csv(src.path)
    val cols = raw.columns
    val e = col(cols(src.eidOffset)).cast("long").as("e")
    src.schema.map { case (aid, (offset, kind)) =>
      (aid, raw.select(e, castTo(col(cols(offset)), kind).as("v")), kind)
    }
  }

  /** Read newline-delimited JSON into per-attribute `(e, v)` DataFrames.
    * Line index = eid (the reference's object index): assigned with
    * `zipWithIndex`, which is deterministic in input order. Objects missing
    * an attribute contribute no datom for it. */
  def sourceJson(spark: SparkSession, src: JsonFile): Seq[(String, DataFrame, ValueKind)] = {
    val lines = spark.read.textFile(src.path)
    val indexed = lines.rdd.zipWithIndex().map { case (line, idx) => (idx, line) }
    val indexedDf = spark.createDataFrame(
      indexed.map { case (i, l) => org.apache.spark.sql.Row(i, l) },
      StructType(Seq(
        StructField("e", LongType, false), StructField("line", StringType, true))))
      .where(length(trim(col("line"))) > 0)
    val jsonSchema = StructType(src.attributes.map { case (aid, kind) =>
      StructField(aid, kind match {
        case KString        => StringType
        case KNumber | KEid => LongType
        case KBool          => BooleanType
        case other          => sys.error(s"unsupported source type hint $other")
      }, true)
    })
    val parsed = indexedDf
      .select(col("e"), from_json(col("line"), jsonSchema).as("o"))
    src.attributes.map { case (aid, kind) =>
      (aid, parsed.select(col("e"), col(s"o.`$aid`").as("v")).where(col("v").isNotNull), kind)
    }
  }

  /** Streaming variant: watch a DIRECTORY of CSV files, fanning each new
    * file's rows into per-attribute `(e, v, t, diff)` update streams. The
    * reference's poll/fuel/re-activation batching (`csv_file.rs:95-199`)
    * maps to `maxFilesPerTrigger`; event time is the ingest batch's
    * processing time unless a timestamp column offset is given
    * (`timestamp_offset`, `csv_file.rs:30-31`). Union the results into one
    * `(a, e, v, t, diff)` datom stream for [[graft.streaming.IncrementalQuery.attach]],
    * whose distinct / LastWriteWins attributes give input semantics. */
  def streamCsv(
      spark: SparkSession,
      dir: String,
      schemaDDL: String,
      eidOffset: Int,
      schema: Seq[(String, (Int, ValueKind))],
      tsOffset: Option[Int] = None,
      maxFilesPerTrigger: Int = 1): Seq[(String, DataFrame, ValueKind)] = {
    val raw = spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .schema(schemaDDL)
      .csv(dir)
    val cols = raw.columns
    val e = col(cols(eidOffset)).cast("long").as("e")
    val t = tsOffset
      .map(i => col(cols(i)).cast("long"))
      .getOrElse(unix_millis(current_timestamp()))
      .as("t")
    schema.map { case (aid, (offset, kind)) =>
      (aid,
        raw.select(e, castTo(col(cols(offset)), kind).as("v"), t,
          lit(1L).as("diff")),
        kind)
    }
  }

  /** Streaming variant of [[sourceParquet]]: watch a DIRECTORY of
    * parquet files, fanning each new file's rows into per-attribute
    * `(e, v, t, diff)` update streams — [[streamCsv]] with the columnar
    * reader (per-branch column pruning holds under `readStream` too).
    * Event time comes from `tsColumn` when declared, else the ingest
    * batch's processing time. Union the results into one datom stream for
    * [[graft.streaming.IncrementalQuery.attach]], as [[streamCsv]] does.
    *
    * Malformed COORDINATES (null/uncastable eid or timestamp) FAIL THE
    * STREAM — deliberate fail-stop: a silently-null coordinate would
    * corrupt downstream state irrecoverably, and Structured Streaming
    * retries would re-deliver the corruption forever; the operator
    * instead sees the poisoned file named in the error, removes or
    * repairs it, and restarts. Value cells keep the typed-null
    * convention (null = no datom; non-null-but-uncastable = loud). */
  def streamParquet(
      spark: SparkSession,
      dir: String,
      schemaDDL: String,
      eidColumn: String,
      attributes: Seq[(String, (String, ValueKind))],
      tsColumn: Option[String] = None,
      maxFilesPerTrigger: Int = 1): Seq[(String, DataFrame, ValueKind)] = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .schema(schemaDDL)
      .parquet(dir)
    val named = namedIn(raw.columns.toSeq, "the declared stream schema") _
    val e = requireCast(named(eidColumn, "eid").cast("long"),
      "entity id", dir).as("e")
    val t = tsColumn
      .map { c =>
        val _ = named(c, "timestamp")
        requireCast(kindColumn(raw.schema, c, KInstant), "timestamp", dir)
      }
      .getOrElse(unix_millis(current_timestamp()))
      .as("t")
    attributes.map { case (aid, (column, kind)) =>
      val _ = named(column, s"attribute $aid")
      (aid,
        raw.where(col(column).isNotNull)
          .select(e, guardedCast(raw.schema, column, kind, aid, dir).as("v"),
            t, lit(1L).as("diff")),
        kind)
    }
  }

  // Mixed-kind `v` struct for the bitemporal bulk frame (the
  // transactFrame vocabulary: s STRING / n LONG / b BOOLEAN / r DOUBLE,
  // exactly one non-null per row).
  private def mixedV(c: org.apache.spark.sql.Column, kind: ValueKind) = {
    val nullS = lit(null).cast(StringType)
    val nullN = lit(null).cast(LongType)
    val nullB = lit(null).cast(BooleanType)
    val nullR = lit(null).cast(DoubleType)
    val (s, n, b, r) = kind match {
      case KString                   => (c, nullN, nullB, nullR)
      case KNumber | KEid | KInstant => (nullS, c, nullB, nullR)
      case KBool                     => (nullS, nullN, c, nullR)
      case KReal                     => (nullS, nullN, nullB, c)
      case other => sys.error(s"unsupported source type hint $other")
    }
    struct(s.as("s"), n.as("n"), b.as("b"), r.as("r"))
  }

  // Loud malformed-cell guard: a null after the cast fails the FIRST
  // pass over the frame with a clean message (on the bi edge,
  // transactFrame's lattice pass runs before ANY state mutates),
  // instead of the opaque null-at-index task error a later Row accessor
  // would throw. Shared by the uni, bi, and streaming parquet paths —
  // the message names the coordinate, not a domain mode.
  private def requireCast(c: org.apache.spark.sql.Column, what: String,
      path: String) =
    when(c.isNull,
      raise_error(lit(s"source $what is null or non-numeric in $path"))
        .cast(LongType))
      .otherwise(c)

  /** BITEMPORAL batch read: ONE scan of the CSV becomes ONE versioned-
    * fact frame `(e, a, v<struct>, sys, event, diff)` for the
    * data-sized [[graft.streaming.BiMaintained.transactFrame]] edge —
    * every declared attribute rides the mixed-kind `v` struct, so a
    * multi-attribute source ingests ATOMICALLY (one all-or-nothing
    * transact) in one pass (per-row explode, not one scan per
    * attribute). System time is `sysAt` (the hosting domain's frontier:
    * the server learned these facts NOW — the bi mirror of the
    * unitemporal registration landing at `notePending(frontier)`);
    * event time comes from the `tsOffset` column when declared (the
    * reference's `timestamp_offset`, `csv_file.rs:30-31`) else 0
    * (valid since the epoch); diff +1. Malformed eid/timestamp cells
    * fail loudly before any engine state mutates; a malformed VALUE
    * cell rejects through transactFrame's exactly-one-kind proof.
    * Returns the frame plus the declared (attribute, kind) list. */
  def sourceCsvBiFrame(spark: SparkSession, src: CsvFile,
      sysAt: Long): (DataFrame, Seq[(String, ValueKind)]) = {
    require(src.schema.nonEmpty, s"CSV source ${src.path} declares no attributes")
    var reader = spark.read
      .option("header", src.hasHeaders.toString)
      .option("delimiter", src.delimiter)
      .option("inferSchema", "false")
    src.comment.foreach(c => reader = reader.option("comment", c))
    val raw = reader.csv(src.path)
    val cols = raw.columns
    def bound(i: Int, what: String): Int = {
      require(i >= 0 && i < cols.length,
        s"$what offset $i out of range: ${src.path} has ${cols.length} columns")
      i
    }
    val e = requireCast(col(cols(bound(src.eidOffset, "eid")))
      .cast("long"), "entity id", src.path).as("e")
    val event = src.tsOffset
      .map(i => requireCast(col(cols(bound(i, "timestamp"))).cast("long"),
        "timestamp", src.path))
      .getOrElse(lit(0L)).as("event")
    val pairs = array(src.schema.map { case (aid, (offset, kind)) =>
      struct(lit(aid).as("a"),
        mixedV(castTo(col(cols(bound(offset, s"attribute $aid"))), kind), kind)
          .as("v"))
    }: _*)
    val frame = raw
      .select(e, explode(pairs).as("av"), lit(sysAt).as("sys"), event,
        lit(1L).as("diff"))
      .select(col("e"), col("av.a").as("a"), col("av.v").as("v"),
        col("sys"), col("event"), col("diff"))
    (frame, src.schema.map { case (aid, (_, kind)) => (aid, kind) })
  }

  /** BITEMPORAL batch read of newline-delimited JSON as ONE versioned-
    * fact frame: line index = eid, system time `sysAt`, event time 0,
    * diff +1 (see [[sourceCsvBiFrame]]). Objects missing an attribute
    * (or carrying an uncastable value — `from_json` yields null)
    * contribute no datom for it, the [[sourceJson]] convention. */
  def sourceJsonBiFrame(spark: SparkSession, src: JsonFile,
      sysAt: Long): (DataFrame, Seq[(String, ValueKind)]) = {
    require(src.attributes.nonEmpty,
      s"JSON source ${src.path} declares no attributes")
    val perAttr = sourceJson(spark, src).map { case (aid, df, kind) =>
      df.select(col("e"), lit(aid).as("a"), mixedV(col("v"), kind).as("v"),
        lit(sysAt).as("sys"), lit(0L).as("event"), lit(1L).as("diff"))
    }
    (perAttr.reduce(_ unionByName _), src.attributes)
  }

  /** Read a parquet file/directory into per-attribute `(e, v)`
    * DataFrames. One logical scan serves all attributes, and because
    * each branch selects only `(eidColumn, its column)`, Catalyst's
    * column pruning reaches the parquet reader per branch — at 100 TB
    * an attribute's datoms cost its OWN column's bytes, not the
    * table's. NULL cells contribute no datom (see [[ParquetFile]]). */
  def sourceParquet(spark: SparkSession,
      src: ParquetFile): Seq[(String, DataFrame, ValueKind)] = {
    require(src.attributes.nonEmpty,
      s"parquet source ${src.path} declares no attributes")
    val raw = spark.read.parquet(src.path)
    val named = namedIn(raw.columns.toSeq, src.path) _
    // A null/uncastable entity id is loud — it is the datom's
    // coordinate, and a silently-null `e` would diverge from the oracle.
    val e = requireCast(named(src.eidColumn, "eid").cast("long"),
      "entity id", src.path).as("e")
    src.attributes.map { case (aid, (column, kind)) =>
      val _ = named(column, s"attribute $aid")
      (aid,
        raw.where(col(column).isNotNull)
          .select(e,
            guardedCast(raw.schema, column, kind, aid, src.path).as("v")),
        kind)
    }
  }

  /** BITEMPORAL batch read of a parquet table as ONE versioned-fact
    * frame (see [[sourceCsvBiFrame]] for the frame contract): system
    * time `sysAt`, event time from `tsColumn` when declared else 0,
    * diff +1, every attribute riding the mixed-kind `v` struct so the
    * whole table ingests as one all-or-nothing transact. A NULL value
    * cell contributes no datom (the typed-null convention of
    * [[ParquetFile]]); a NULL eid or timestamp is loud — those columns
    * are the frame's coordinates, not optional payload. */
  def sourceParquetBiFrame(spark: SparkSession, src: ParquetFile,
      sysAt: Long): (DataFrame, Seq[(String, ValueKind)]) = {
    require(src.attributes.nonEmpty,
      s"parquet source ${src.path} declares no attributes")
    val raw = spark.read.parquet(src.path)
    val named = namedIn(raw.columns.toSeq, src.path) _
    val e = requireCast(named(src.eidColumn, "eid").cast("long"),
      "entity id", src.path).as("e")
    // The event coordinate converts like any Instant (a native
    // TIMESTAMP column becomes epoch-ms, not a seconds-valued cast).
    val event = src.tsColumn
      .map { c =>
        val _ = named(c, "timestamp")
        requireCast(kindColumn(raw.schema, c, KInstant),
          "timestamp", src.path)
      }
      .getOrElse(lit(0L)).as("event")
    val pairs = array(src.attributes.map { case (aid, (column, kind)) =>
      val _ = named(column, s"attribute $aid")
      // keep = the SOURCE cell's nullity, recorded BEFORE the cast: a
      // deliberate typed null drops below; a non-null cell that fails
      // its cast raises inside guardedCast — the two are no longer
      // conflated, so a malformed value can never silently vanish.
      struct(lit(aid).as("a"),
        mixedV(guardedCast(raw.schema, column, kind, aid, src.path), kind)
          .as("v"),
        col(column).isNotNull.as("keep"))
    }: _*)
    val frame = raw
      .select(e, explode(pairs).as("av"), lit(sysAt).as("sys"), event,
        lit(1L).as("diff"))
      // Typed-null cells drop out here — transactFrame's exactly-one-
      // non-null proof stays the backstop for a row that somehow
      // carries none of the declared kinds.
      .where(col("av.keep"))
      .select(col("e"), col("av.a").as("a"), col("av.v").as("v"),
        col("sys"), col("event"), col("diff"))
    (frame, src.attributes.map { case (aid, (_, kind)) => (aid, kind) })
  }

  /** Register a CSV source's attributes into a domain with Distinct
    * semantics, as the reference does (`csv_file.rs:204-212`). */
  def registerCsv(domain: Domain, src: CsvFile): Unit =
    sourceCsv(domain.spark, src).foreach { case (aid, df, kind) =>
      domain.registerStatic(aid, df.distinct(), kind)
    }

  /** Register a JSON source's attributes into a domain (Distinct). */
  def registerJson(domain: Domain, src: JsonFile): Unit =
    sourceJson(domain.spark, src).foreach { case (aid, df, kind) =>
      domain.registerStatic(aid, df.distinct(), kind)
    }

  /** Register a parquet source's attributes into a domain (Distinct —
    * the same semantics every registered file source gets,
    * `csv_file.rs:204-212`). */
  def registerParquet(domain: Domain, src: ParquetFile): Unit =
    sourceParquet(domain.spark, src).foreach { case (aid, df, kind) =>
      domain.registerStatic(aid, df.distinct(), kind)
    }
}
