package graft.spark

import org.apache.spark.sql.types._
import graft.core.columns.{ColVec, MothType}
import graft.core.columns.MothType._

/** Spark ⇄ engine schema mapping (SURVEY.md §1.2 table) and decoded
  * ColVec → InternalRow conversion. Rows enter the engine only through
  * [[InternalBridge.VecBuilder]]; decoded rows leave it only through
  * [[vecToInternalRows]] (or the DSv2 scan's columnar vectors). Runs
  * inside mapPartitions on executors — no driver-side collection anywhere.
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

  /** Decoded batches straight to InternalRows: strings wrap the decoded
    * bytes as UTF8String without copy; timestamps/dates stay primitive.
    */
  def vecToInternalRows(schema: StructType, v: ColVec)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val ex = schema.fields.zipWithIndex.map { case (f, i) =>
      internalExtractor(f.dataType, v.children(i))
    }
    (0 until v.len).iterator.map { r =>
      val vals = new Array[Any](ex.length)
      var c = 0
      while (c < ex.length) { vals(c) = ex(c)(r); c += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    }
  }

  /** Row-index → Catalyst-internal value (null when absent). */
  private def internalExtractor(dt: DataType, v: ColVec): Int => Any = {
    import org.apache.spark.unsafe.types.UTF8String
    dt match {
      case BooleanType => j => if (v.isNull(j)) null else v.longs(j) != 0
      case ByteType => j => if (v.isNull(j)) null else v.longs(j).toByte
      case ShortType => j => if (v.isNull(j)) null else v.longs(j).toShort
      case IntegerType | DateType => j => if (v.isNull(j)) null else v.longs(j).toInt
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        j => if (v.isNull(j)) null else v.longs(j)
      case FloatType => j => if (v.isNull(j)) null else v.doubles(j).toFloat
      case DoubleType => j => if (v.isNull(j)) null else v.doubles(j)
      case StringType => j => if (v.isNull(j)) null else UTF8String.fromBytes(v.bins(j))
      case BinaryType => j => if (v.isNull(j)) null else v.bins(j)
      case d: DecimalType =>
        if (d.precision <= 18) { j =>
          if (v.isNull(j)) null
          else org.apache.spark.sql.types.Decimal(v.longs(j), d.precision, d.scale)
        } else { j =>
          if (v.isNull(j)) null
          else org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(v.bigs(j).bigInteger, d.scale), d.precision, d.scale)
        }
      case a: ArrayType =>
        val elemEx = internalExtractor(a.elementType, v.children(0))
        val offsets = denseOffsets(v)
        j => if (v.isNull(j)) null
        else {
          val start = offsets(j)
          val arr = new Array[Any](v.lengths(j))
          var k = 0
          while (k < arr.length) { arr(k) = elemEx(start + k); k += 1 }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
        }
      case m: MapType =>
        val kEx = internalExtractor(m.keyType, v.children(0))
        val vEx = internalExtractor(m.valueType, v.children(1))
        val offsets = denseOffsets(v)
        j => if (v.isNull(j)) null
        else {
          val start = offsets(j)
          val n = v.lengths(j)
          val ks = new Array[Any](n)
          val vs = new Array[Any](n)
          var k = 0
          while (k < n) { ks(k) = kEx(start + k); vs(k) = vEx(start + k); k += 1 }
          new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
        }
      case s: StructType =>
        val exs = s.fields.zipWithIndex.map { case (f, fi) =>
          internalExtractor(f.dataType, v.children(fi))
        }
        val densePos = densePositions(v)
        j => if (v.isNull(j)) null
        else {
          val p = densePos(j)
          val vals = new Array[Any](exs.length)
          var c = 0
          while (c < exs.length) { vals(c) = exs(c)(p); c += 1 }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }

  /** For list/map: element start offset per row (over dense children). */
  private def denseOffsets(v: ColVec): Array[Int] = {
    val out = new Array[Int](v.len)
    var acc = 0
    var i = 0
    while (i < v.len) {
      out(i) = acc
      if (!v.isNull(i)) acc += v.lengths(i)
      i += 1
    }
    out
  }

  /** For struct: dense child index per row. */
  private def densePositions(v: ColVec): Array[Int] = {
    val out = new Array[Int](v.len)
    var acc = 0
    var i = 0
    while (i < v.len) {
      out(i) = acc
      if (!v.isNull(i)) acc += 1
      i += 1
    }
    out
  }
}
