package graft.model

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kind of a scalar column, tracking which `Value` variant it holds. The tag
  * order replicates the Rust `enum Value` derive order (`src/lib.rs:85-106`),
  * so sorting variant-encoded structs (tag first, then payload) reproduces
  * the reference's cross-type `Ord`.
  */
sealed abstract class ValueKind(val tag: Int, val dataType: DataType) extends Serializable
object ValueKind {
  case object KAid extends ValueKind(0, StringType)
  case object KString extends ValueKind(1, StringType)
  case object KBool extends ValueKind(2, BooleanType)
  case object KNumber extends ValueKind(3, LongType)
  case object KRational extends ValueKind(4, Value.VRational.schema)
  case object KEid extends ValueKind(5, LongType)
  case object KInstant extends ValueKind(6, LongType)
  case object KUuid extends ValueKind(7, StringType)
  case object KReal extends ValueKind(8, DoubleType)

  /** Compiler-internal marker for a column already encoded as a variant
    * struct (mixed kinds, e.g. the `v` position of pull paths). */
  case object KVariant extends ValueKind(-1, Variant.schema)

  /** Kinds whose native representation is a plain Long — the packing
    * eligibility shared by every packed-run seam (the Hector cells
    * additionally accept KReal via the order-preserving encoding). */
  def longBacked(k: ValueKind): Boolean = k match {
    case KNumber | KEid | KInstant => true
    case _                         => false
  }

  def of(v: Value): ValueKind = v match {
    case _: Value.VAid      => KAid
    case _: Value.VString   => KString
    case _: Value.VBool     => KBool
    case _: Value.VNumber   => KNumber
    case _: Value.VRational => KRational
    case _: Value.VEid      => KEid
    case _: Value.VInstant  => KInstant
    case _: Value.VUuid     => KUuid
    case _: Value.VReal     => KReal
  }
}

/** Struct encoding of the `Value` union for columns that must hold values of
  * more than one kind at once (pull paths mix attribute types in the final
  * `v` position — `src/plan/pull.rs:94-237`). One nullable field per payload
  * family; `tag` first so struct ordering matches the reference's `Ord`.
  */
object Variant {
  val schema: StructType = StructType(Seq(
    StructField("tag", IntegerType, false),
    StructField("s", StringType, true),
    StructField("n", LongType, true),
    StructField("b", BooleanType, true),
    StructField("d", DoubleType, true),
    StructField("rn", LongType, true),
    StructField("rd", LongType, true)))

  private val nullS = lit(null).cast(StringType)
  private val nullN = lit(null).cast(LongType)
  private val nullB = lit(null).cast(BooleanType)
  private val nullD = lit(null).cast(DoubleType)

  /** Encode a native column of the given kind as a variant struct. */
  def encode(c: Column, kind: ValueKind): Column = {
    import ValueKind._
    if (kind == KVariant) return c
    val (s, n, b, d, rn, rd) = kind match {
      case KAid | KString | KUuid => (c, nullN, nullB, nullD, nullN, nullN)
      case KBool                  => (nullS, nullN, c, nullD, nullN, nullN)
      case KNumber | KEid | KInstant => (nullS, c, nullB, nullD, nullN, nullN)
      case KRational              => (nullS, nullN, nullB, nullD, c.getField("num"), c.getField("den"))
      case KReal                  => (nullS, nullN, nullB, c, nullN, nullN)
      case KVariant               => sys.error("unreachable: KVariant handled above")
    }
    struct(lit(kind.tag).as("tag"), s.as("s"), n.as("n"), b.as("b"),
      d.as("d"), rn.as("rn"), rd.as("rd"))
  }

  /** Decode a collected variant row back into a `Value` (inverse of
    * [[rowOf]]/[[encode]]). */
  def valueOf(r: Row): Value = r.getInt(0) match {
    case 0 => Value.VAid(r.getString(1))
    case 1 => Value.VString(r.getString(1))
    case 2 => Value.VBool(r.getBoolean(3))
    case 3 => Value.VNumber(r.getLong(2))
    case 4 => Value.VRational(r.getLong(5), r.getLong(6))
    case 5 => Value.VEid(r.getLong(2))
    case 6 => Value.VInstant(r.getLong(2))
    case 7 => Value.VUuid(r.getString(1))
    case 8 => Value.VReal(r.getDouble(4))
    case other => sys.error(s"unknown variant tag $other")
  }

  /** Driver-side representation of a `Value` as a variant row, for comparing
    * collected results against expectations. */
  def rowOf(v: Value): Row = {
    val kind = ValueKind.of(v)
    val (s, n, b, d, rn, rd) = v match {
      case Value.VAid(x)         => (x, null, null, null, null, null)
      case Value.VString(x)      => (x, null, null, null, null, null)
      case Value.VUuid(x)        => (x, null, null, null, null, null)
      case Value.VBool(x)        => (null, null, java.lang.Boolean.valueOf(x), null, null, null)
      case Value.VNumber(x)      => (null, java.lang.Long.valueOf(x), null, null, null, null)
      case Value.VEid(x)         => (null, java.lang.Long.valueOf(x), null, null, null, null)
      case Value.VInstant(x)     => (null, java.lang.Long.valueOf(x), null, null, null, null)
      case Value.VReal(x)        => (null, null, null, java.lang.Double.valueOf(x), null, null)
      case Value.VRational(p, q) => (null, null, null, null, java.lang.Long.valueOf(p), java.lang.Long.valueOf(q))
    }
    Row(kind.tag, s, n, b, d, rn, rd)
  }
}
