package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.DltType

/** Type-coercion expression library (reference coercion matrix,
  * dlt/common/data_types/type_helpers.py:179-234) plus the variant-column
  * fallback: a value that cannot be coerced to the column's existing type
  * lands in a sibling column named `<col>__v_<type>`
  * (VARIANT_FIELD_FORMAT, dlt/common/typing.py:134; fallback recursion in
  * dlt/normalize/items_normalizers/jsonl.py:329-394).
  *
  * All coercions are `when`/`try_cast` Column trees — codegen'd, no UDFs.
  */
object Coerce {

  /** Variant column name for values that failed coercion. */
  def variantName(column: String, t: DltType): String = s"${column}__v_${t.name}"

  private def isHex(c: Column): Column = c.startsWith("0x") || c.startsWith("0X")

  /** text → bigint; accepts decimal digits and `0x…` hex
    * (type_helpers.py:123-155). */
  def textToBigint(c: Column): Column = {
    val t = trim(c)
    val hexDigits = substring(t, 3, 1000000)
    when(isHex(t) && hexDigits.rlike("^[0-9a-fA-F]{1,16}$"),
      conv(hexDigits, 16, 10).cast(LongType))
      .when(isHex(t), lit(null).cast(LongType))
      .otherwise(t.try_cast(LongType))
  }

  /** text → double (plain cast; also accepts hex via bigint path). */
  def textToDouble(c: Column): Column = {
    val t = trim(c)
    when(isHex(t), textToBigint(c).cast(DoubleType)).otherwise(t.try_cast(DoubleType))
  }

  /** text → decimal(38,9). */
  def textToDecimal(c: Column, precision: Int = 38, scale: Int = 9): Column =
    trim(c).try_cast(DecimalType(precision, scale))

  /** text → binary; accepts base64 or `0x…` hex (type_helpers.py:114-120). */
  def textToBinary(c: Column): Column = {
    val t = trim(c)
    when(isHex(t), unhex(substring(t, 3, 1000000))).otherwise(try_to_binary(t, lit("base64")))
  }

  /** text → bool via str2bool-ish semantics (type_helpers.py:215). */
  def textToBool(c: Column): Column = {
    val t = lower(trim(c))
    when(t.isin("true", "t", "yes", "y", "on", "1"), lit(true))
      .when(t.isin("false", "f", "no", "n", "off", "0"), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  /** text → timestamp, ISO-like (Spark's cast already parses ISO8601). */
  def textToTimestamp(c: Column): Column = trim(c).try_cast(TimestampType)
  def textToDate(c: Column): Column = trim(c).try_cast(DateType)

  /** Best-effort coercion of a column to a dlt type; null when impossible. */
  def to(c: Column, t: DltType): Column = t match {
    case DltType.Bigint => textToBigint(c.cast(StringType))
    case DltType.Double => textToDouble(c.cast(StringType))
    case DltType.Decimal => textToDecimal(c.cast(StringType))
    case DltType.Bool => textToBool(c.cast(StringType))
    case DltType.Binary => textToBinary(c.cast(StringType))
    case DltType.Timestamp => textToTimestamp(c.cast(StringType))
    case DltType.Date => textToDate(c.cast(StringType))
    case DltType.Text => c.cast(StringType)
    case _ => c.cast(DltType.toSpark(t))
  }

  /** Coerce `column` to `target`; values that fail (non-null input, null
    * coercion result) move to the `<col>__v_<origType>` variant column.
    * Mirrors jsonl.py's per-row fallback as a single vectorized pass.
    */
  def withVariant(df: DataFrame, column: String, target: DltType): DataFrame = {
    val orig = df.schema(column).dataType
    val origDlt = DltType.fromSpark(orig)
    val coerced = to(col(column), target)
    val failed = col(column).isNotNull && coerced.isNull
    df.withColumn(variantName(column, origDlt), when(failed, col(column)))
      .withColumn(column, when(!failed, coerced))
  }
}
