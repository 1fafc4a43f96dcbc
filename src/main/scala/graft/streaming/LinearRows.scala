package graft.streaming

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericRowWithSchema}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Fn, Predicate, Value, ValueKind, Variant}
import graft.streaming.IncrementalQuery.Tup

/** The per-row form of a maintained linear zone: match, filter,
  * transform, negate, project and the linear pull decorations, compiled
  * once into [[LinearRows.Step]]s that a partition applies to each
  * signed tuple. Each step reproduces the batch compiler's operator on
  * one row under Catalyst's semantics (three-valued comparisons, SQL
  * double ordering, binary string order, the non-ANSI implicit casts,
  * null-propagating arithmetic), so a zone's delta is the compiled
  * plan's delta without a query plan. The pull layouts and the
  * transform arithmetic are defined here once; the batch compiler
  * builds its columns from them.
  */
private[graft] object LinearRows {

  /** One per-row step: the row after it, or null when it drops the row. */
  sealed trait Step extends Serializable {
    def apply(r: Array[Any]): Array[Any]
  }

  /** An output cell of a [[Layout]]. */
  sealed trait Cell extends Serializable
  final case class Col(i: Int) extends Cell
  final case class Lit(v: Any) extends Cell
  /** Cell `c` as a variant struct of kind `k`. */
  final case class Enc(c: Cell, k: ValueKind) extends Cell

  /** Re-lays the row: projection, scan shapes and pull decorations. */
  final case class Layout(cells: Array[Cell]) extends Step {
    def apply(r: Array[Any]): Array[Any] = {
      val out = new Array[Any](cells.length)
      var i = 0
      while (i < cells.length) { out(i) = cell(cells(i), r); i += 1 }
      out
    }
    private def cell(c: Cell, r: Array[Any]): Any = c match {
      case Col(j)    => r(j)
      case Lit(v)    => v
      case Enc(e, k) => encode(cell(e, r), k)
    }
  }

  /** Catalyst's implicit, non-ANSI cast of a value from `from` to `to`
    * (a string that does not parse becomes null), evaluated by
    * Catalyst's own interpreted `Cast`. */
  final class Coerce(from: DataType, to: DataType) extends Serializable {
    private val cast = Cast(BoundReference(0, from, nullable = true), to, None, EvalMode.LEGACY)
    def apply(v: Any): Any =
      if (v == null) null
      else cast.eval(InternalRow(v match {
        case s: String => UTF8String.fromString(s)
        case other     => other
      }))
  }

  /** A comparison operand: a column (cast when `cast` is set), or a
    * constant. */
  final case class Opnd(col: Int, const: Any, cast: Coerce = null) {
    def of(r: Array[Any]): Any =
      if (col < 0) const else if (cast == null) r(col) else cast(r(col))
    def castTo(c: Coerce): Opnd = if (col < 0) Opnd(-1, c(const)) else copy(cast = c)
  }

  /** Keeps rows whose comparison holds; a null operand drops the row. */
  final case class Test(pred: Predicate, l: Opnd, r: Opnd) extends Step {
    def apply(row: Array[Any]): Array[Any] = {
      val a = l.of(row)
      val b = r.of(row)
      if (a == null || b == null) null
      else {
        val c = compare(a, b)
        val ok = pred match {
          case Predicate.LT  => c < 0
          case Predicate.GT  => c > 0
          case Predicate.LTE => c <= 0
          case Predicate.GTE => c >= 0
          case Predicate.EQ  => c == 0
          case Predicate.NEQ => c != 0
        }
        if (ok) row else null
      }
    }
  }

  /** `l pred r` over operands of types `lt` and `rt` after Catalyst's
    * implicit casts: a string meeting another atomic type is cast to
    * that type, and a boolean meeting a number under `=` or `!=` is
    * cast to the number. Other mixed types do not analyse. */
  def comparison(pred: Predicate, l: Opnd, lt: DataType, r: Opnd, rt: DataType): Test = {
    def atomic(t: DataType) = numeric(t) || t == StringType || t == BooleanType
    val eq = pred == Predicate.EQ || pred == Predicate.NEQ
    if (lt == rt || numeric(lt) && numeric(rt)) Test(pred, l, r)
    else if (lt == StringType && atomic(rt) || eq && lt == BooleanType && numeric(rt))
      Test(pred, l.castTo(new Coerce(lt, rt)), r)
    else if (rt == StringType && atomic(lt) || eq && rt == BooleanType && numeric(lt))
      Test(pred, l, r.castTo(new Coerce(rt, lt)))
    else UnmaintainablePlan.reject(s"comparison of $lt with $rt does not analyse")
  }

  /** A TRANSFORM's arithmetic (`src/plan/transform.rs:86-192`) over its
    * operands: `t − t % mod` of the first operand when `mod > 0`
    * (TRUNCATE), else a left fold of signed terms, each an operand index
    * (`Left`) or a long constant (`Right`). ADD adds every operand and
    * constant; SUBTRACT adds the minuend (constants(0) if present, else
    * the first operand) twice, then subtracts every operand and every
    * constant, the minuend's own occurrence included. */
  final case class Arith(mod: Long, terms: Seq[(Boolean, Either[Int, Long])], kind: ValueKind)

  def arith(fn: Fn, consts: Seq[Option[Value]], operands: Int): Arith = {
    val nums = consts.flatten.collect { case Value.VNumber(n) => n }
    val ops = (0 until operands).map(Left(_))
    fn match {
      case Fn.TRUNCATE =>
        val mod = consts.lift(1).flatten match {
          case Some(Value.VString(":minute")) => 60000L
          case Some(Value.VString(":hour")) | None => 3600000L
          case Some(Value.VString(":day"))    => 86400000L
          case Some(Value.VString(":week"))   => 604800000L
          case Some(Value.VString(other))     => sys.error(s"unknown TRUNCATE interval $other")
          case other => sys.error(s"TRUNCATE interval must be a string, got $other")
        }
        Arith(mod, Seq.empty, ValueKind.KInstant)
      case Fn.ADD =>
        require(operands + nums.size > 0, "ADD needs an operand")
        Arith(0L, (ops ++ nums.map(Right(_))).map(x => (true, x)), ValueKind.KNumber)
      case Fn.SUBTRACT =>
        val minuend: Either[Int, Long] = consts.lift(0).flatten match {
          case Some(Value.VNumber(m)) => Right(m)
          case Some(other) => sys.error(s"SUBTRACT minuend must be a number, got $other")
          case None        => Left(0)
        }
        Arith(0L, Seq((true, minuend), (true, minuend)) ++
          (ops ++ nums.map(Right(_))).map(x => (false, x)), ValueKind.KNumber)
    }
  }

  /** Appends an [[Arith]] over columns `ops` under Catalyst's arithmetic:
    * long unless a side is double, a string operand cast to double, null
    * if any operand is null. */
  final case class Transform(a: Arith, ops: Array[Int], casts: Array[Coerce]) extends Step {
    private def opnd(i: Int, r: Array[Any]): Any =
      if (casts(i) == null) r(ops(i)) else casts(i)(r(ops(i)))
    private def term(x: Either[Int, Long], r: Array[Any]): Any = x match {
      case Left(i)  => opnd(i, r)
      case Right(c) => c
    }
    def apply(r: Array[Any]): Array[Any] = {
      val v =
        if (a.mod > 0L) {
          val t = opnd(0, r)
          val m = a.mod
          t match {
            case null      => null
            case x: Long   => x - x % m
            case x: Double => x - x % m
          }
        } else {
          var acc = term(a.terms.head._2, r)
          val it = a.terms.iterator.drop(1)
          while (acc != null && it.hasNext) {
            val (plus, x) = it.next()
            acc = (acc, term(x, r)) match {
              case (_, null)          => null
              case (p: Long, q: Long) => if (plus) p + q else p - q
              case (p: Number, q: Number) =>
                if (plus) p.doubleValue + q.doubleValue else p.doubleValue - q.doubleValue
            }
          }
          acc
        }
      val out = java.util.Arrays.copyOf(r.asInstanceOf[Array[AnyRef]], r.length + 1)
        .asInstanceOf[Array[Any]]
      out(r.length) = v
      out
    }
  }

  /** A zone branch's rows: its steps in order, then its sign. */
  final class Rows(steps: Array[Step], sign: Long)
      extends (Iterator[(Tup, Long)] => Iterator[(Tup, Long)]) with Serializable {
    def apply(it: Iterator[(Tup, Long)]): Iterator[(Tup, Long)] =
      it.flatMap { case (t, w) =>
        var c: Array[Any] = t.toArray[Any]
        var i = 0
        while (c != null && i < steps.length) { c = steps(i)(c); i += 1 }
        if (c == null) Iterator.empty
        else Iterator.single((ArraySeq.unsafeWrapArray(c): Tup, w * sign))
      }
  }

  // ---- Catalyst value semantics ----------------------------------------

  /** Catalyst's ordering of two non-null values of comparable kinds:
    * longs, SQL doubles (every NaN equal and greatest, -0.0 = 0.0; a
    * long meeting a double compares as a double), strings in UTF-8
    * byte order, booleans, and structs field by field, nulls first. */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
    case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
    case (x: Number, y: Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      if (p == q) 0 else java.lang.Double.compare(p, q)
    case (x: String, y: String) => compareUtf8(x, y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      java.lang.Boolean.compare(x, y)
    case (x: Row, y: Row) =>
      var i = 0
      var c = 0
      while (c == 0 && i < x.length) {
        c = (x.get(i), y.get(i)) match {
          case (null, null) => 0
          case (null, _)    => -1
          case (_, null)    => 1
          case (p, q)       => compare(p, q)
        }
        i += 1
      }
      c
    case _ => throw new IllegalArgumentException(s"incomparable values $a and $b")
  }

  /** Code-point order, which is UTF-8 byte order. */
  private def compareUtf8(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val p = x.codePointAt(i)
      val q = y.codePointAt(j)
      if (p != q) return Integer.compare(p, q)
      i += Character.charCount(p)
      j += Character.charCount(q)
    }
    java.lang.Boolean.compare(i < x.length, j < y.length)
  }

  private def numeric(t: DataType): Boolean = t == LongType || t == DoubleType

  /** [[Variant.encode]] of one value. */
  def encode(v: Any, k: ValueKind): Any = {
    import ValueKind._
    if (k == KVariant) v
    else {
      val c = Array[Any](k.tag, null, null, null, null, null, null)
      if (v != null) k match {
        case KAid | KString | KUuid    => c(1) = v
        case KBool                     => c(3) = v
        case KNumber | KEid | KInstant => c(2) = v
        case KReal                     => c(4) = v
        case KRational =>
          val r = v.asInstanceOf[Row]
          c(5) = r.get(0); c(6) = r.get(1)
        case KVariant => ()
      }
      new GenericRowWithSchema(c, Variant.schema)
    }
  }

  // ---- zone compilation ------------------------------------------------

  /** A compiled linear fragment: its output signature and one branch per
    * scanned source (several only under `PullAll`). */
  final case class Lin(vars: Seq[Int], kinds: Seq[ValueKind], branches: Seq[Branch]) {
    def idx(v: Int): Int = {
      val i = vars.indexOf(v)
      require(i >= 0, s"variable $v not bound by relation over $vars")
      i
    }
    def step(s: Step, vs: Seq[Int], ks: Seq[ValueKind]): Lin =
      Lin(vs, ks, branches.map(b => b.copy(steps = b.steps :+ s)))
  }

  /** Rows of `source` (an attribute feed, or a child node's delta when
    * `child`) through `steps`, weights times `sign`. */
  final case class Branch(source: String, child: Boolean,
      steps: Vector[Step], sign: Long) {
    def identity: Boolean = steps.isEmpty && sign == 1L
    def rows: Rows = new Rows(steps.toArray, sign)
  }

  /** The TRANSFORM step over `kinds`-typed operand columns `ops`, with
    * its result kind: long and double operands as they are, a string
    * operand cast to double, as Catalyst's arithmetic does. */
  def transform(ops: Seq[Int], kinds: Seq[ValueKind], fn: Fn,
      consts: Seq[Option[Value]]): (Step, ValueKind) = {
    val a = arith(fn, consts, ops.size)
    val casts = ops.map { i =>
      kinds(i).dataType match {
        case t if numeric(t) => null
        case StringType      => new Coerce(StringType, DoubleType)
        case t => UnmaintainablePlan.reject(s"transform $fn over a $t operand does not analyse")
      }
    }
    (Transform(a, ops.toArray, casts.toArray), a.kind)
  }

  /** The pull path layout `interleave(columns, constants)` over a row of
    * `kinds` (`src/plan/pull.rs:53-79`): a column, a constant, and so on. */
  def interleave(kinds: Seq[ValueKind], consts: Seq[String]): Seq[(Cell, ValueKind)] = {
    val cols = kinds.indices.map(i => (Col(i): Cell, kinds(i)))
    if (cols.isEmpty || consts.isEmpty) cols
    else (0 until cols.size + consts.size).map { i =>
      if (i % 2 == 0) cols(i / 2) else (Lit(consts(i / 2)): Cell, ValueKind.KAid)
    }
  }

  /** One pull-level branch over a child row of `kinds`
    * (`src/plan/pull.rs:94-237`): an attribute branch, whose pulled
    * value sits at column `kinds.length` with kind `attr._2`, or the
    * synthetic db__id branch retaining the child eid (`attr = None`,
    * `src/plan/pull.rs:211-230`). */
  def pullBranch(kinds: Seq[ValueKind], pathAttrs: Seq[String], cardMany: Boolean,
      attr: Option[(String, ValueKind)]): Seq[(Cell, ValueKind)] = {
    val path = interleave(kinds, pathAttrs)
    attr match {
      case Some((a, k)) =>
        val base = if (pathAttrs.isEmpty || cardMany) path else path.dropRight(1)
        base ++ Seq((Lit(a), ValueKind.KAid), (Enc(Col(kinds.length), k), ValueKind.KVariant))
      case None =>
        path.dropRight(1) ++ Seq((Lit("db__id"), ValueKind.KAid),
          (Enc(path.last._1, path.last._2), ValueKind.KVariant))
    }
  }
}
