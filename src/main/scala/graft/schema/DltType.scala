package graft.schema

import org.apache.spark.sql.types._

/** The reference's 11 logical data types and their Spark mapping
  * (dlt/common/data_types/typing.py:6-18; SURVEY.md §1.2).
  *
  * `wei` (decimal precision 78) exceeds Spark's DecimalType(38) — mapped to
  * DecimalType(38,0) with a documented overflow-to-double variant path, which
  * mirrors the reference's own wei→double variant coercion
  * (dlt/common/data_types/type_helpers.py:199-203).
  * `time` has no Spark type — stored as LongType micros-since-midnight.
  */
sealed abstract class DltType(val name: String)

object DltType {
  case object Text extends DltType("text")
  case object Double extends DltType("double")
  case object Bool extends DltType("bool")
  case object Timestamp extends DltType("timestamp")
  case object Bigint extends DltType("bigint")
  case object Binary extends DltType("binary")
  case object Json extends DltType("json")
  case object Decimal extends DltType("decimal")
  case object Wei extends DltType("wei")
  case object Date extends DltType("date")
  case object Time extends DltType("time")

  val all: Seq[DltType] = Seq(Text, Double, Bool, Timestamp, Bigint, Binary,
    Json, Decimal, Wei, Date, Time)

  /** dlt type (+ optional precision/scale/timezone hints) → Spark DataType. */
  def toSpark(t: DltType, precision: Option[Int] = None, scale: Option[Int] = None,
              timezone: Boolean = true): DataType = t match {
    case Text => StringType
    case Double => DoubleType
    case Bool => BooleanType
    // the timezone flag maps 1:1 onto Timestamp vs TimestampNTZ (SURVEY §1.2)
    case Timestamp => if (timezone) TimestampType else TimestampNTZType
    case Bigint => precision match {
      case Some(p) if p <= 16 => ShortType
      case Some(p) if p <= 32 => IntegerType
      case _ => LongType
    }
    case Binary => BinaryType
    case Json => StringType // JSON document kept serialized; typed structs when shape known
    case Decimal => DecimalType(precision.getOrElse(38), scale.getOrElse(9))
    case Wei => DecimalType(38, scale.getOrElse(0)) // documented divergence from 78
    case Date => DateType
    case Time => LongType // micros since midnight
  }

  /** Spark DataType → dlt type (inference direction). */
  def fromSpark(dt: DataType): DltType = dt match {
    case StringType | _: VarcharType | _: CharType => Text
    case DoubleType | FloatType => Double
    case BooleanType => Bool
    case TimestampType | TimestampNTZType => Timestamp
    case ByteType | ShortType | IntegerType | LongType => Bigint
    case BinaryType => Binary
    case _: DecimalType => Decimal
    case DateType => Date
    case _: StructType | _: ArrayType | _: MapType | VariantType => Json
    case _ => Text
  }
}
