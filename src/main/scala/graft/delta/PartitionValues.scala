package graft.delta

import java.sql.{Date, Timestamp}
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{element_at, expr, lit, nullif}
import org.apache.spark.sql.types._

/** Partition-value string (de)serialization per the Delta protocol
  * (reference: kernel/src/partition/serialization.rs:80 and the
  * MapToStruct empty-string rule, kernel/src/expressions/mod.rs:643-668:
  * empty string parses to NULL for every type except string/binary;
  * rightmost duplicate key wins).
  */
object PartitionValues {

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Scala value → partition string (None = null). */
  def serialize(v: Any, dt: DataType): String = v match {
    case null => null
    case _ => dt match {
      case StringType => v.toString
      case DateType => v match {
        case d: Date => d.toString
        case d: LocalDate => d.toString
        case i: java.lang.Integer => LocalDate.ofEpochDay(i.longValue).toString
      }
      case TimestampType | TimestampNTZType => v match {
        case t: Timestamp =>
          t.toLocalDateTime.format(tsFmt)
        case i: Instant =>
          LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(tsFmt)
        case l: LocalDateTime => l.format(tsFmt)
        case l: java.lang.Long => // micros since epoch
          LocalDateTime.ofInstant(
            Instant.ofEpochSecond(
              Math.floorDiv(l, 1000000L),
              Math.floorMod(l, 1000000L) * 1000L),
            ZoneOffset.UTC).format(tsFmt)
      }
      case _: DecimalType => v match {
        case d: java.math.BigDecimal => d.toPlainString
        case d: BigDecimal => d.bigDecimal.toPlainString
        case o => o.toString
      }
      case BinaryType => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
      case _ => v.toString // integral, float, boolean
    }
  }

  /** Cast partition-string map entries to the typed column, with the
    * protocol empty-string→NULL rule. `mapExpr` is a SQL expression
    * yielding MAP<STRING,STRING>.
    */
  def castExpr(mapExpr: String, name: String, dt: DataType): Column =
    castValue(element_at(expr(mapExpr), name), dt)

  /** Cast one partition-string value to `dt` — the rule [[castExpr]]
    * applies, for callers holding the raw string (or a literal).
    * Partition timestamps use 'yyyy-MM-dd HH:mm:ss[.ffffff]'.
    */
  private[delta] def castValue(raw: Column, dt: DataType): Column =
    (dt match {
      case StringType | BinaryType => raw
      case _ => nullif(raw, lit(""))
    }).cast(dt)

  private def parseTimestamp(s: String): Timestamp =
    if (s.contains('T'))
      Timestamp.from(
        if (s.endsWith("Z") || s.contains("+")) Instant.parse(s)
        else LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))
    else Timestamp.valueOf(s)

  /** Parse a partition string back to a Scala value (driver-side, for
    * partition pruning / tests). Mirrors castExpr.
    */
  def parse(s: String, dt: DataType): Any = {
    if (s == null) return null
    dt match {
      case StringType => s
      case BinaryType => s.getBytes("UTF-8")
      case _ if s.isEmpty => null
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case DateType => Date.valueOf(s)
      case _: DecimalType => new java.math.BigDecimal(s)
      // writers serialize timestamp partition values either as
      // 'yyyy-MM-dd HH:mm:ss[.ffffff]' (the protocol form) or as
      // ISO-8601 'yyyy-MM-ddTHH:mm:ss.ffffffZ' — accept both
      case TimestampType => parseTimestamp(s)
      // NTZ values must surface as LocalDateTime — the Catalyst
      // converter for TIMESTAMP_NTZ rejects java.sql.Timestamp
      case TimestampNTZType => parseTimestamp(s).toLocalDateTime
      case other =>
        throw new IllegalArgumentException(
          s"unsupported partition type $other")
    }
  }
}
