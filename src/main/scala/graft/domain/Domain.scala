package graft.domain

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._

/** What the compiler needs from attribute storage: a consolidated
  * `(e, v, _w)` collection per attribute plus its value kind. */
trait AttributeSource {
  def collection(name: String): DataFrame

  def kind(name: String): ValueKind

  def has(name: String): Boolean

  /** True when `collection` is guaranteed to carry weight 1 on every row
    * (static bulk relations, Distinct/LWW semantics). Lets the compiler
    * skip consolidation shuffles on the hot batch path. */
  def unit(name: String): Boolean

  /** N-ary base relation (the reference's `CollectionRelation` shape,
    * `src/lib.rs:525-528`) addressable via `NameExpr`. Used for wide fact
    * tables with no natural entity id, where EAV unpivoting would require
    * synthesizing row ids — wrong at scale. Columns in declared order,
    * weight implied 1. */
  def relation(name: String): Option[(DataFrame, Seq[ValueKind])] = None

  /** True when `collection` is KNOWN broadcast-small (e.g. a counted
    * streaming delta behind the byte gate). RDD-backed frames carry no
    * Catalyst stats, so without this hint a join against a huge state
    * side picks a shuffle join and re-shuffles the state every batch —
    * the source is the only layer that knows better. */
  def small(name: String): Boolean = false

  /** Fused multi-attribute scan: when every named attribute derives from
    * ONE one-row-per-entity table (`Domain.registerColocated`), return
    * that table projected as `(e, v0 .. vk-1)` — the compiler collapses a
    * conjunction of these attributes over a shared entity variable into
    * this single scan instead of k−1 self-joins of 2-column projections
    * (identical semantics on a unique key; at 100 TB the difference
    * between one table scan and k scans plus k−1 shuffles). None when
    * the attributes don't co-locate. */
  def fused(names: Seq[String]): Option[DataFrame] = None

  /** (data epoch, as-of time) of the data this source exposes. Part of the
    * shared rule-result cache key, so a cached relation can never be read
    * against newer data or a different as-of view — staleness is
    * structurally impossible rather than contractual. */
  def version: (Long, Long) = (0L, Long.MaxValue)
}

/** The attribute catalog — the Spark analog of the reference `Domain`
  * (`src/domain/mod.rs:47-85`): per-attribute collections sharing one
  * timestamp semantics, plus the named-rule catalog.
  *
  * Following ADR 0002 of the reference (column-oriented data model), each
  * attribute is its own binary `(e, v)` relation. Two ingestion paths:
  *
  *  - `registerStatic`: a bulk parquet-backed relation, pre-consolidated
  *    with weight 1 (the 100 TB path: scans stay pushdown/prune-friendly,
  *    no per-datom bookkeeping);
  *  - `transact`: driver-fed datoms with explicit times and diffs (the
  *    reference-parity path, mirroring `Domain::transact`,
  *    `src/domain/mod.rs:204-218`).
  */
class Domain(val spark: SparkSession) extends Serializable {

  private case class AttrState(
      config: AttributeConfig,
      var kind: Option[ValueKind],
      staticDf: Option[DataFrame]) {
    // transacted datoms: (e, v-native, t, diff, seq)
    val buffer = new Domain.Datoms
    // time -> offsets into `buffer` of the datoms at that time, so the
    // per-advance reads of [from, until) touch only the delta
    private val byTime = mutable.TreeMap.empty[Long, Domain.OffsetRuns]

    def append(e: Long, v: Any, t: Long, diff: Long, seq: Long): Unit = {
      byTime.getOrElseUpdate(t, new Domain.OffsetRuns).add(buffer.length)
      buffer.add(e, v, t, diff, seq, kind.exists(ValueKind.longBacked))
    }

    /** Times of the buffered datoms in [from, until), ascending. */
    def timesIn(from: Long, until: Long): Iterator[Long] =
      byTime.range(from, until).keysIterator

    /** The buffered datoms with time in [from, until), in buffer order. */
    def datomsIn(from: Long, until: Long): Seq[(Long, Any, Long, Long, Long)] = {
      val offs = byTime.range(from, until).valuesIterator
        .flatMap(_.iterator).toArray
      java.util.Arrays.sort(offs)
      offs.toSeq.map(buffer(_))
    }
  }

  private val attrs = mutable.LinkedHashMap.empty[String, AttrState]

  /** Cross-query rule-result cache (see `Compiler.sharedCache`); keyed by
    * transitive rule definitions PLUS this domain's (data epoch, as-of)
    * version, so mutation can never serve a stale cached relation. */
  val ruleResultCache =
    mutable.Map.empty[graft.compile.Compiler.RuleCacheKey, graft.compile.Rel]
  /** Bumped on every data mutation; part of the rule-cache key. */
  private var dataEpoch = 0L
  private val baseRelations =
    mutable.LinkedHashMap.empty[String, (DataFrame, Seq[ValueKind])]
  // Derived attributes (Request::Derive): computed (e, v, _w) views built
  // per as-of time. Kind is a thunk — the underlying attribute's kind may
  // only be known after its first datom.
  private val derivedAttrs =
    mutable.LinkedHashMap.empty[String, (() => ValueKind, Long => DataFrame)]
  private val rulesCatalog = mutable.LinkedHashMap.empty[String, Rule]
  private val closedInputs = mutable.Set.empty[String]
  private var seqCounter = 0L

  /** Close a named input handle — further writes to it are errors
    * (`Request::CloseInput`). */
  def closeInput(name: String): Unit = closedInputs += name

  /** Reference `CreateAttribute` (`src/server/mod.rs:143-149`). */
  def createAttribute(name: String, config: AttributeConfig = AttributeConfig()): Unit = {
    if (attrs.contains(name))
      throw GraftError.conflict(s"attribute $name already exists")
    dataEpoch += 1
    attrs(name) = AttrState(config, None, None)
  }

  /** Bulk path: register a pre-consolidated weight-1 attribute backed by an
    * arbitrary (typically parquet-scanned) DataFrame with columns (e, v). */
  def registerStatic(name: String, df: DataFrame, kind: ValueKind): Unit = {
    dataEpoch += 1
    attrs(name) = AttrState(AttributeConfig(), Some(kind), Some(df))
  }

  // attribute name -> (colocation group, base table, entity col, value col)
  private val colocatedMeta =
    mutable.LinkedHashMap.empty[String, (String, DataFrame, org.apache.spark.sql.Column, org.apache.spark.sql.Column)]

  /** Bulk path for a whole TABLE of attributes sharing one UNIQUE entity
    * key (one row per entity — the caller's contract): each attribute
    * registers as its own lazy 2-column projection (ADR 0002 stands, so
    * scans stay pruned), and the compiler may FUSE a same-entity-variable
    * conjunction of them back into one multi-column scan of `base`
    * ([[AttributeSource.fused]]) — collapsing the EAV self-joins the
    * normalized model would otherwise force. */
  def registerColocated(group: String, base: DataFrame,
      eCol: org.apache.spark.sql.Column,
      attributes: Seq[(String, org.apache.spark.sql.Column, ValueKind)]): Unit =
    attributes.foreach { case (name, vCol, kind) =>
      registerStatic(name, base.select(eCol.cast("long").as("e"), vCol.as("v")), kind)
      colocatedMeta(name) = (group, base, eCol, vCol)
    }

  /** Register a static n-ary base relation (columns in positional order,
    * weight-1 rows), addressable from plans via `NameExpr`. */
  def registerBase(name: String, df: DataFrame, kinds: Seq[ValueKind]): Unit = {
    require(df.columns.length == kinds.length, s"base relation $name: arity mismatch")
    dataEpoch += 1
    baseRelations(name) = (df, kinds)
  }

  /** Route datoms to their attribute buffers; datoms without an explicit
    * time get `defaultT` (the current epoch). */
  def transact(datoms: Seq[Datom], defaultT: Long): Unit = {
    dataEpoch += 1
    datoms.foreach { d =>
      if (closedInputs(d.a))
        throw GraftError.conflict(s"input ${d.a} is closed")
      val st = attrs.getOrElse(d.a, {
        createAttribute(d.a); attrs(d.a)
      })
      val k = ValueKind.of(d.v)
      st.kind match {
        case None           => st.kind = Some(k)
        case Some(existing) =>
          if (existing != k)
            throw GraftError.incorrect(s"attribute ${d.a}: kind $k != $existing")
      }
      seqCounter += 1
      st.append(d.e, d.v.native, d.t.getOrElse(defaultT), d.diff, seqCounter)
    }
  }

  // Times that must be processed even though no buffered datom carries
  // them — e.g. a static source registration landing "now" (its data has
  // no per-datom timestamps but changes the next snapshot).
  private val extraPending = mutable.SortedSet.empty[Long]
  def notePending(t: Long): Unit = extraPending += t
  /** Drop noted times below `before` (already processed — they can never
    * matter again; keeps the set bounded on long-lived servers). */
  def prunePending(before: Long): Unit =
    extraPending.filterInPlace(_ >= before)

  /** Distinct datom times in [from, until) — the completed times an
    * `advance` must emit output diffs for. */
  def pendingTimes(from: Long, until: Long): Seq[Long] =
    (attrs.valuesIterator.flatMap(_.timesIn(from, until)) ++
      extraPending.range(from, until).iterator)
      .toSeq.distinct.sorted

  def attributeNames: Seq[String] = attrs.keys.toSeq

  /** Spec probe: measured resident bytes of `name`'s datom buffer. */
  private[graft] def bufferBytesProbe(name: String): Long =
    org.apache.spark.util.GraftSizeOf.estimate(attrs(name).buffer)

  /** Known scalar kind of every stored/static attribute (incremental
    * maintenance builds its delta schemas from this). */
  def knownKinds: Map[String, ValueKind] =
    attrs.iterator.collect {
      case (name, st) if st.kind.isDefined => name -> st.kind.get
    }.toMap

  /** Input semantics of a stored attribute (Raw when unknown/static). */
  def semanticsOf(name: String): InputSemantics =
    attrs.get(name).map(_.config.inputSemantics).getOrElse(InputSemantics.Raw)

  /** Static bulk frame (e, v) of `name`, if registered static. */
  def staticFrame(name: String): Option[DataFrame] =
    attrs.get(name).flatMap(_.staticDf)

  /** True when `name` is a derived (computed-view) attribute. */
  def isDerived(name: String): Boolean = derivedAttrs.contains(name)

  /** Consolidated signed (e, v, diff) rows of `name`'s stored datoms with
    * time in [from, until) — the per-time delta feed of incremental
    * maintenance. Driver-sized by the same contract as `transact`. */
  def bufferedDeltas(name: String, from: Long, until: Long): Seq[(Long, Any, Long)] =
    attrs.get(name).toSeq.flatMap { st =>
      st.datomsIn(from, until).groupBy(d => (d._1, d._2))
        .iterator.collect {
          case ((e, v), ds) if ds.map(_._4).sum != 0L => (e, v, ds.map(_._4).sum)
        }.toSeq
    }

  /** RAW ordered events `(e, v, t, diff, seq)` of `name`'s stored datoms
    * with time in [from, until) — unconsolidated, because LastWriteWins
    * maintenance needs each event's `(t, seq)` transaction order, not
    * net (e, v) weights. Driver-sized by the same contract as
    * `transact`. */
  def bufferedEvents(
      name: String, from: Long, until: Long): Seq[(Long, Any, Long, Long, Long)] =
    attrs.get(name).toSeq.flatMap(_.datomsIn(from, until))

  def registerRule(rule: Rule): Unit = rulesCatalog(rule.name) = rule
  def rules: Map[String, Rule] = rulesCatalog.toMap

  /** Publish a DERIVED attribute (the reference's `Derive` materialization,
    * `src/derive/graphql.rs` + `aid.with_namespace`, `src/lib.rs:72-74`):
    * a computed `(e, v, _w)` view other rules can `MatchA` against like
    * any stored attribute. `build` receives the as-of time. */
  def registerDerived(name: String, kind: () => ValueKind,
      build: Long => DataFrame): Unit = {
    if (attrs.contains(name) || derivedAttrs.contains(name))
      throw GraftError.conflict(s"attribute $name already exists")
    dataEpoch += 1
    derivedAttrs(name) = (kind, build)
  }

  /** A view of this domain with all transacted datoms up to and including
    * time `asOf` applied, exposing consolidated `(e, v, _w)` collections
    * with the attribute's input semantics enforced
    * (`InputSemantics::{Raw, Distinct, LastWriteWins}`, `src/lib.rs:342-357`).
    */
  def asOf(t: Long): AttributeSource = new AttributeSource {
    // Live read: a view created before a transact() sees the bumped epoch,
    // so the shared rule cache can never return pre-mutation results.
    override def version: (Long, Long) = (dataEpoch, t)
    def has(name: String): Boolean =
      attrs.contains(name) || derivedAttrs.contains(name)
    def kind(name: String): ValueKind =
      attrs.get(name).flatMap(_.kind)
        .orElse(derivedAttrs.get(name).map(_._1()))
        .getOrElse(ValueKind.KString)

    override def relation(name: String): Option[(DataFrame, Seq[ValueKind])] =
      baseRelations.get(name)

    override def fused(names: Seq[String]): Option[DataFrame] = {
      val metas = names.flatMap(colocatedMeta.get)
      if (metas.lengthCompare(names.length) != 0 ||
        metas.map(_._1).distinct.lengthCompare(1) != 0) None
      else {
        val (_, base, eCol, _) = metas.head
        Some(base.select(eCol.cast("long").as("e") +:
          names.zipWithIndex.map { case (n, i) =>
            colocatedMeta(n)._4.as(s"v$i")
          }: _*))
      }
    }

    def unit(name: String): Boolean = attrs.get(name) match {
      // Derived attributes are distinct-ed views (weight-1 by construction).
      case None     => derivedAttrs.contains(name)
      case Some(st) => st.staticDf.isDefined ||
        (st.config.inputSemantics != InputSemantics.Raw)
    }

    def collection(name: String): DataFrame = derivedAttrs.get(name) match {
      case Some((_, build)) => build(t)
      case None => collectionStored(name)
    }

    private def collectionStored(name: String): DataFrame = {
      val st = attrs.getOrElse(name,
        throw GraftError.notFound(s"attribute $name does not exist"))
      st.staticDf match {
        case Some(df) => df.select(col("e"), col("v"), lit(1L).as("_w"))
        case None =>
          val k = st.kind.getOrElse(ValueKind.KString)
          val schema = StructType(Seq(
            StructField("e", LongType, false),
            StructField("v", k.dataType, false),
            StructField("t", LongType, false),
            StructField("diff", LongType, false),
            StructField("seq", LongType, false)))
          val rows = (0 until st.buffer.length).filter(st.buffer.t(_) <= t).map { i =>
            val (e, v, tt, d, s) = st.buffer(i)
            Row(e, v, tt, d, s)
          }
          val nPart = math.max(1, math.min(
            spark.sparkContext.defaultParallelism, rows.size / 65536 + 1))
          val raw = spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toSeq, nPart), schema)
          st.config.inputSemantics match {
            case InputSemantics.Raw =>
              raw.groupBy(col("e"), col("v")).agg(sum(col("diff")).as("_w"))
                .where(col("_w") =!= 0L)
            case InputSemantics.Distinct =>
              raw.groupBy(col("e"), col("v")).agg(sum(col("diff")).as("_w"))
                .where(col("_w") > 0L).withColumn("_w", lit(1L))
            case InputSemantics.LastWriteWins =>
              // Last event per entity wins (`src/operators/last_write_wins.rs:
              // 71-101`): an add sets the value, a retraction clears it —
              // so the state is the latest event's value iff that event was
              // an add. Ties on t broken by transaction order.
              val w = Window.partitionBy(col("e")).orderBy(col("t").desc, col("seq").desc)
              raw.withColumn("_rn", row_number().over(w))
                .where(col("_rn") === 1 && col("diff") > 0L)
                .select(col("e"), col("v"), lit(1L).as("_w"))
          }
      }
    }
  }
}

object Domain {
  /** The transacted datoms `(e, v, t, diff, seq)` of one attribute in
    * growable columns: longs for e, t, diff and seq, and for v when the
    * attribute's kind is long-backed (boxed values otherwise). A boxed
    * tuple row costs a `Tuple5` and up to five boxed longs. */
  private[domain] final class Datoms {
    private var n = 0
    private var cols = Array.fill(4)(new Array[Long](16)) // e, t, diff, seq
    private var longV: Array[Long] = null
    private var refV: Array[AnyRef] = null

    def length: Int = n

    def add(e: Long, v: Any, t: Long, diff: Long, seq: Long, longBacked: Boolean): Unit = {
      if (n == cols(0).length) {
        cols = cols.map(java.util.Arrays.copyOf(_, 2 * n))
        if (longV != null) longV = java.util.Arrays.copyOf(longV, 2 * n)
        if (refV != null) refV = java.util.Arrays.copyOf(refV, 2 * n)
      }
      if (longV == null && refV == null) {
        if (longBacked) longV = new Array[Long](cols(0).length)
        else refV = new Array[AnyRef](cols(0).length)
      }
      cols(0)(n) = e; cols(1)(n) = t; cols(2)(n) = diff; cols(3)(n) = seq
      if (longV != null) longV(n) = v.asInstanceOf[Long] else refV(n) = v.asInstanceOf[AnyRef]
      n += 1
    }

    def t(i: Int): Long = cols(1)(i)

    def apply(i: Int): (Long, Any, Long, Long, Long) =
      (cols(0)(i), if (longV != null) longV(i) else refV(i), cols(1)(i), cols(2)(i), cols(3)(i))
  }

  /** Buffer offsets as runs of consecutive offsets: the datoms of one
    * transact at one time land in one run, so the per-time index costs
    * a few ints per batch, not per datom. */
  private final class OffsetRuns {
    private var starts = new Array[Int](1)
    private var ends = new Array[Int](1)
    private var n = 0

    def add(off: Int): Unit =
      if (n > 0 && ends(n - 1) == off) ends(n - 1) = off + 1
      else {
        if (n == starts.length) {
          starts = java.util.Arrays.copyOf(starts, 2 * n)
          ends = java.util.Arrays.copyOf(ends, 2 * n)
        }
        starts(n) = off; ends(n) = off + 1; n += 1
      }

    def iterator: Iterator[Int] =
      Iterator.range(0, n).flatMap(i => Iterator.range(starts(i), ends(i)))
  }
}
