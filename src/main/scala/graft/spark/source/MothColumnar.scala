package graft.spark.source

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.columns.ColVec

/** Zero-copy ColumnVector view over a decoded [[ColVec]] batch — the only
  * way decoded values reach Spark. The moth scan hands Spark whole
  * columnar batches and Catalyst's (codegen'd) ColumnarToRow does the row
  * materialization only where the plan needs rows, exactly like the
  * built-in parquet vectorized reader; RDD paths take rows through
  * [[MothVector.rows]].
  *
  * ColVec stores nested children DENSELY over non-null parent rows while
  * Spark's ColumnarRow/getStruct address children at PARENT row ids, so a
  * nullable struct's child vectors carry a precomputed row→dense indirection
  * (`map`); null rows are never dereferenced (callers check isNullAt first).
  */
final class MothVector(dt: DataType, v: ColVec, map: Array[Int] = null)
    extends ColumnVector(dt) {

  @inline private def at(rowId: Int): Int = if (map == null) rowId else map(rowId)

  override def close(): Unit = ()
  // null accounting is over ADDRESSABLE rows: with a parent indirection a
  // row is null when the parent was null (map(r) == -1) even if the dense
  // child vec itself has no null slots
  private lazy val cachedNumNulls: Int = {
    var c = 0
    if (map == null) {
      if (v.nulls != null) {
        var i = 0
        while (i < v.len) { if (v.nulls(i)) c += 1; i += 1 }
      }
    } else {
      var r = 0
      while (r < map.length) { if (map(r) < 0 || v.isNull(map(r))) c += 1; r += 1 }
    }
    c
  }
  override def hasNull: Boolean =
    v.nulls != null || (map != null && cachedNumNulls > 0)
  override def numNulls: Int = cachedNumNulls
  override def isNullAt(rowId: Int): Boolean = {
    val j = at(rowId)
    j < 0 || v.isNull(j)
  }

  override def getBoolean(rowId: Int): Boolean = v.longs(at(rowId)) != 0
  override def getByte(rowId: Int): Byte = v.longs(at(rowId)).toByte
  override def getShort(rowId: Int): Short = v.longs(at(rowId)).toShort
  override def getInt(rowId: Int): Int = v.longs(at(rowId)).toInt
  override def getLong(rowId: Int): Long = v.longs(at(rowId))
  override def getFloat(rowId: Int): Float = v.doubles(at(rowId)).toFloat
  override def getDouble(rowId: Int): Double = v.doubles(at(rowId))

  override def getUTF8String(rowId: Int): UTF8String = {
    val j = at(rowId)
    if (v.isNull(j)) null else UTF8String.fromBytes(v.bins(j))
  }
  override def getBinary(rowId: Int): Array[Byte] = {
    val j = at(rowId)
    if (v.isNull(j)) null else v.bins(j)
  }

  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal = {
    val j = at(rowId)
    if (v.isNull(j)) null
    else if (precision <= 18) Decimal(v.longs(j), precision, scale)
    else Decimal(new java.math.BigDecimal(v.bigs(j).bigInteger, scale), precision, scale)
  }

  // ---- nested ----
  private lazy val denseStarts: Array[Int] = {
    // element start offset per THIS-VEC row (lists/maps)
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

  private lazy val childVectors: Array[ColumnVector] = dt match {
    case s: StructType =>
      // children are dense over non-null rows of THIS vec; compose the
      // parent indirection with this level's dense positions
      val childMap: Array[Int] =
        if (v.nulls == null && map == null) null
        else {
          val densePos = new Array[Int](v.len)
          var acc = 0
          var i = 0
          while (i < v.len) {
            densePos(i) = if (v.isNull(i)) -1 else acc
            if (!v.isNull(i)) acc += 1
            i += 1
          }
          if (map == null) densePos
          else Array.tabulate(map.length)(r => if (map(r) < 0) -1 else densePos(map(r)))
        }
      s.fields.zipWithIndex.map { case (f, i) =>
        new MothVector(f.dataType, v.children(i), childMap): ColumnVector
      }.toArray
    case a: ArrayType =>
      Array(new MothVector(a.elementType, v.children(0)): ColumnVector)
    case m: MapType =>
      Array(new MothVector(m.keyType, v.children(0)): ColumnVector,
        new MothVector(m.valueType, v.children(1)): ColumnVector)
    case _ => Array.empty
  }

  override def getChild(ordinal: Int): ColumnVector = childVectors(ordinal)

  override def getArray(rowId: Int): ColumnarArray = {
    val j = at(rowId)
    if (v.isNull(j)) null
    else new ColumnarArray(childVectors(0), denseStarts(j), v.lengths(j))
  }

  override def getMap(rowId: Int): ColumnarMap = {
    val j = at(rowId)
    if (v.isNull(j)) null
    else new ColumnarMap(childVectors(0), childVectors(1), denseStarts(j), v.lengths(j))
  }
}

object MothVector {
  /** Decoded batches as Spark rows, for RDD hand-offs outside the DSv2 scan
    * (roundtrip, prune_orders): each batch becomes a ColumnarBatch of
    * MothVectors and rows come from its rowIterator(), which reuses one row
    * per batch — consumers copy or project (internalDf's RDDScanExec runs
    * an UnsafeProjection per row).
    */
  def rows(schema: StructType, batches: Iterator[ColVec]): Iterator[InternalRow] =
    batches.flatMap { v =>
      val cols = schema.fields.zipWithIndex.map { case (f, i) =>
        new MothVector(f.dataType, v.children(i)): ColumnVector
      }
      new ColumnarBatch(cols, v.len).rowIterator().asScala
    }
}

/** Constant non-null string vector — serves the `_moth_file` metadata
  * column (one value per split) without materializing per-row copies.
  */
final class MothConstStringVector(value: UTF8String)
    extends ColumnVector(StringType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(rowId: Int): Boolean = false
  override def getUTF8String(rowId: Int): UTF8String = value
  override def getBoolean(rowId: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(rowId: Int): Byte = throw new UnsupportedOperationException
  override def getShort(rowId: Int): Short = throw new UnsupportedOperationException
  override def getInt(rowId: Int): Int = throw new UnsupportedOperationException
  override def getLong(rowId: Int): Long = throw new UnsupportedOperationException
  override def getFloat(rowId: Int): Float = throw new UnsupportedOperationException
  override def getDouble(rowId: Int): Double = throw new UnsupportedOperationException
  override def getDecimal(rowId: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    throw new UnsupportedOperationException
  override def getBinary(rowId: Int): Array[Byte] = throw new UnsupportedOperationException
  override def getArray(rowId: Int): ColumnarArray = throw new UnsupportedOperationException
  override def getMap(rowId: Int): ColumnarMap = throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector = throw new UnsupportedOperationException
}

/** Arithmetic-sequence long vector — serves the `_moth_pos` metadata column
  * (file row ordinal) as `start + rowId`, no storage.
  */
final class MothPosVector(start: Long) extends ColumnVector(LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(rowId: Int): Boolean = false
  override def getLong(rowId: Int): Long = start + rowId
  override def getBoolean(rowId: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(rowId: Int): Byte = throw new UnsupportedOperationException
  override def getShort(rowId: Int): Short = throw new UnsupportedOperationException
  override def getInt(rowId: Int): Int = throw new UnsupportedOperationException
  override def getFloat(rowId: Int): Float = throw new UnsupportedOperationException
  override def getDouble(rowId: Int): Double = throw new UnsupportedOperationException
  override def getDecimal(rowId: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    throw new UnsupportedOperationException
  override def getUTF8String(rowId: Int): UTF8String = throw new UnsupportedOperationException
  override def getBinary(rowId: Int): Array[Byte] = throw new UnsupportedOperationException
  override def getArray(rowId: Int): ColumnarArray = throw new UnsupportedOperationException
  override def getMap(rowId: Int): ColumnarMap = throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector = throw new UnsupportedOperationException
}
