package graft.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.checks.UnknownDtypeError
import graft.checks.Validations.qcol

/** Spark schema → SQL Server column-type mapping with data-driven
  * refinement (SURVEY.md §1.2, §2 O4-O8).
  *
  * Reference semantics reproduced:
  *  - static map (reference export.py:218-250): string→VARCHAR(textLength),
  *    bool→BIT, any integer width→INT, float→NUMERIC(18, decimalPrecision),
  *    datetime→DATETIME, unknown→hard fail;
  *  - string width inference (export.py:252-267): observed max length in
  *    (255, 8000) → VARCHAR(len); > 8000 → VARCHAR(MAX);
  *  - BIGINT promotion (export.py:269-282): any observed value outside
  *    signed-32 range → BIGINT (declared width is ignored — only observed
  *    values matter, reference tests/test_general.py:96-115);
  *  - user dtype override merged last (export.py:160-163);
  *  - timedelta → float seconds BEFORE mapping (export.py:202-216) —
  *    ordering preserved by [[normalizeIntervals]].
  *
  * Scale note: both data scans (O6+O7) are fused into ONE aggregate pass
  * ([[refineAggs]]) — a single map-side-combinable pass over the input
  * instead of the reference's one pandas scan per column. At 100 TB that
  * is one parquet read with only the scanned columns in ReadSchema. The
  * SQL sink does not even pay that pass on its own: it hands
  * [[refineAggs]] to its input probe ([[graft.checks.Validations.probe]])
  * and refines from the values that probe returns.
  */
object SqlTypeMapper {

  sealed trait SqlType { def ddl: String }
  /** length=None means VARCHAR(MAX) (reference export.py:262-263). */
  final case class SqlVarchar(length: Option[Int]) extends SqlType {
    def ddl: String = length match {
      case Some(n) => s"VARCHAR($n)"
      case None => "VARCHAR(MAX)"
    }
  }
  case object SqlBit extends SqlType { def ddl = "BIT" }
  case object SqlInt extends SqlType { def ddl = "INT" }
  case object SqlBigInt extends SqlType { def ddl = "BIGINT" }
  final case class SqlNumeric(precision: Int, scale: Int) extends SqlType {
    def ddl: String = s"NUMERIC($precision,$scale)"
  }
  case object SqlDateTime extends SqlType { def ddl = "DATETIME" }
  case object SqlDate extends SqlType { def ddl = "DATE" }

  /** Timedelta normalization (O4): interval columns become float seconds,
    * exactly like the reference's pre-mapping mutate, but immutably. */
  def normalizeIntervals(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: DayTimeIntervalType =>
          // TWO casts, and the first is load-bearing: interval →
          // numeric counts the interval's END-field units, not seconds
          // — a DAY-endField interval (what `end_date - start_date`
          // produces) would cast 3 days to 3.0, an 86400× silent
          // mis-scale vs the reference's total_seconds(). Widening to
          // DAY TO SECOND first is lossless (same 64-bit micros
          // payload, endField SECOND), so the numeric cast then yields
          // seconds with fractional micros for EVERY start/end
          // combination. (decimal, not long: long truncates the
          // fraction.)
          acc.withColumn(f.name,
            qcol(f.name).cast(DayTimeIntervalType(DayTimeIntervalType.DAY,
                DayTimeIntervalType.SECOND))
              .cast(DecimalType(24, 6)).cast(DoubleType))
        case _ => acc
      }
    }

  /** Static dtype map (O5). Call on the interval-normalized frame. */
  def staticType(dt: DataType, textLength: Int, decimalPrecision: Int): SqlType =
    dt match {
      case StringType => SqlVarchar(Some(textLength))
      case BooleanType => SqlBit
      case ByteType | ShortType | IntegerType | LongType => SqlInt
      case FloatType | DoubleType => SqlNumeric(18, decimalPrecision)
      case d: DecimalType => SqlNumeric(d.precision, d.scale)
      case TimestampType | TimestampNTZType => SqlDateTime
      case DateType => SqlDate
      case other =>
        throw UnknownDtypeError(s"Unknown dtype for SQL mapping: $other")
    }

  private def strCols(df: DataFrame): Seq[String] = df.schema.fields.collect {
    case f if f.dataType == StringType => f.name
  }.toSeq
  private def intCols(df: DataFrame): Seq[String] = df.schema.fields.collect {
    case f if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) => f.name
  }.toSeq

  /** The fused O6+O7 aggregates over `df`: per string column the
    * observed max length, per integer column the observed min/max.
    * Empty when `df` has neither kind of column. */
  def refineAggs(df: DataFrame): Seq[Column] =
    strCols(df).map(c => max(length(qcol(c))).as(s"__len__$c")) ++
    intCols(df).flatMap(c => Seq(
      min(qcol(c)).cast(LongType).as(s"__min__$c"),
      max(qcol(c)).cast(LongType).as(s"__max__$c")))

  /** `base` refined by `observed`, the values of [[refineAggs]]`(df)` by
    * alias (null for a column without a non-null value). */
  def refine(df: DataFrame, base: Map[String, SqlType],
      observed: Map[String, Any]): Map[String, SqlType] = {
    def long(alias: String): Long =
      Option(observed(alias)).fold(0L)(_.asInstanceOf[Number].longValue)
    val widened = strCols(df).flatMap { c =>
      val len = long(s"__len__$c")
      // Reference thresholds are literal 255/8000 (export.py:258-263).
      if (len > 8000) Some(c -> SqlVarchar(None))
      else if (len > 255) Some(c -> SqlVarchar(Some(len.toInt)))
      else None
    }.toMap
    val promoted = intCols(df).flatMap { c =>
      if (long(s"__min__$c") < Int.MinValue.toLong ||
          long(s"__max__$c") > Int.MaxValue.toLong) Some(c -> SqlBigInt)
      else None
    }.toMap
    // Later update wins, same order as the reference (export.py:156-163).
    base ++ widened ++ promoted
  }

  /** `norm`'s static types (O5), refined by `observed` (the values of
    * [[refineAggs]]`(norm)`), then the user overrides (last wins). Types
    * in column order. Call on the interval-normalized frame. */
  def columnTypes(norm: DataFrame, observed: Map[String, Any],
      textLength: Int, decimalPrecision: Int,
      overrides: Map[String, SqlType]): Seq[(String, SqlType)] = {
    val static = norm.schema.fields.map { f =>
      f.name -> staticType(f.dataType, textLength, decimalPrecision)
    }.toMap
    val refined = refine(norm, static, observed) ++ overrides
    norm.columns.toSeq.map(c => c -> refined(c))
  }

  /** Full inference pipeline: intervals → static map → data refinement
    * (its own [[refineAggs]] pass: one aggregate job, none when there is
    * no string or integer column) → user overrides (last wins). Returns
    * types in df column order. */
  def inferColumnTypes(
      df: DataFrame,
      textLength: Int = 255,
      decimalPrecision: Int = 2,
      overrides: Map[String, SqlType] = Map.empty): Seq[(String, SqlType)] = {
    val norm = normalizeIntervals(df)
    val observed = refineAggs(norm) match {
      case Seq() => Map.empty[String, Any]
      case aggs =>
        val row = norm.agg(aggs.head, aggs.tail: _*).head()
        row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    }
    columnTypes(norm, observed, textLength, decimalPrecision, overrides)
  }
}
