package graft.spark

import org.apache.spark.sql.types._
import graft.core.columns.MothType
import graft.core.columns.MothType._

/** Spark ⇄ engine schema mapping (SURVEY.md §1.2 table). Rows enter the
  * engine only through [[InternalBridge.VecBuilder]] (inside
  * [[MothSpark.TaskEncoder]]); decoded batches leave it only as
  * [[graft.spark.source.MothVector]]s, whole (the DSv2 scan) or as rows
  * ([[graft.spark.source.MothVector.rows]]).
  */
object SparkBridge {

  def toMothType(dt: DataType): MothType = dt match {
    case BooleanType => TBoolean
    case ByteType => TByte
    case ShortType => TShort
    case IntegerType => TInt
    case LongType => TLong
    case FloatType => TFloat
    case DoubleType => TDouble
    case StringType => TString
    case BinaryType => TBinary
    case DateType => TDate
    case TimestampType => TTimestampInstant
    case TimestampNTZType => TTimestamp
    case _: TimeType => TTime
    case d: DecimalType => TDecimal(d.precision, d.scale)
    case a: ArrayType => TList(toMothType(a.elementType))
    case m: MapType => TMap(toMothType(m.keyType), toMothType(m.valueType))
    case s: StructType => toMothStruct(s)
    case other => throw new IllegalArgumentException(s"unsupported Spark type $other")
  }

  def toMothStruct(s: StructType): TStruct =
    TStruct(s.fields.toSeq.map(f => f.name -> toMothType(f.dataType)))

  def toSparkType(t: MothType): DataType = t match {
    case TBoolean => BooleanType
    case TByte => ByteType
    case TShort => ShortType
    case TInt => IntegerType
    case TLong => LongType
    case TFloat => FloatType
    case TDouble => DoubleType
    case TString | _: TVarchar | _: TChar => StringType
    case TBinary => BinaryType
    case TDate => DateType
    case TTimestampInstant => TimestampType
    case TTimestamp => TimestampNTZType
    case TTime => TimeType()
    case TDecimal(p, s) => DecimalType(p, s)
    case TList(e) => ArrayType(toSparkType(e))
    case TMap(k, v) => MapType(toSparkType(k), toSparkType(v))
    case TStruct(fields) =>
      StructType(fields.map { case (n, ft) => StructField(n, toSparkType(ft)) })
    case TUnion(alts) =>
      // Spark has no union type; surface the expanded struct mapping the
      // reader emits (tag + one nullable field per alternative)
      StructType(StructField("tag", ByteType) +:
        alts.zipWithIndex.map { case (a, i) => StructField(s"field$i", toSparkType(a)) })
  }

  def toSparkSchema(t: TStruct): StructType =
    toSparkType(t).asInstanceOf[StructType]
}
