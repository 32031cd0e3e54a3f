package graft.core.columns

import scala.collection.mutable.ArrayBuffer
import graft.core.io.ByteBuf
import graft.core.rle.RleV2Writer
import graft.core.stats._
import graft.core.fsst.{Fsst, FsstTable}

/** Open-addressing byte-slice dictionary; position 0 reserved for null.
  * Semantics per /root/reference/pkg/store/DictionaryBuilder.go:29-141
  * (0.75 fill, power-of-two capacity, linear probing).
  */
final class DictionaryBuilder(initialCapacity: Int = 1024) {
  private var table = Array.fill(Integer.highestOneBit(math.max(initialCapacity, 16)) * 2)(-1)
  private val entries = new ArrayBuffer[Array[Byte]]() // 0-based: code-1
  private var _totalBytes = 0L

  def entryCount: Int = entries.length
  def totalBytes: Long = _totalBytes
  def entry(code1based: Int): Array[Byte] = entries(code1based - 1)

  /** @return 1-based code (0 is the null sentinel, never returned here). */
  def putIfAbsent(b: Array[Byte]): Int = putIfAbsent(b, 0, b.length)

  /** Slice form for packed vecs: the backing buffer is caller-reused, so a
    * NEW entry copies its bytes; a hit allocates nothing (the common case —
    * by definition of a dictionary-friendly column).
    */
  def putIfAbsent(b: Array[Byte], off: Int, len: Int): Int = {
    val mask = table.length - 1
    var pos = (Murmur3.hash64(b, off, len) & 0x7fffffffffffffffL).toInt & mask
    while (true) {
      val e = table(pos)
      if (e < 0) {
        entries += java.util.Arrays.copyOfRange(b, off, off + len)
        _totalBytes += len
        table(pos) = entries.length // 1-based
        if (entries.length * 4 >= table.length * 3) grow()
        return entries.length
      }
      if (equalsSlice(entries(e - 1), b, off, len)) return e
      pos = (pos + 1) & mask
    }
    0 // unreachable
  }

  private def equalsSlice(a: Array[Byte], b: Array[Byte], off: Int, len: Int): Boolean = {
    if (a.length != len) return false
    var i = 0
    while (i < len) {
      if (a(i) != b(off + i)) return false
      i += 1
    }
    true
  }

  private def grow(): Unit = {
    val nt = Array.fill(table.length * 2)(-1)
    val mask = nt.length - 1
    var code = 1
    while (code <= entries.length) {
      var pos = (Murmur3.hash64(entries(code - 1)) & 0x7fffffffffffffffL).toInt & mask
      while (nt(pos) >= 0) pos = (pos + 1) & mask
      nt(pos) = code
      code += 1
    }
    table = nt
  }

  /** Sorted permutation: result(i) = original 0-based entry index of sorted
    * position i; lexicographic byte order (the reference's comparator is a
    * buggy position-compare — SURVEY.md §2.3; we sort correctly per the
    * DICTIONARY_V2 spec).
    */
  def sortedOrder(): Array[Int] = {
    val idx = Array.tabulate(entries.length)(identity)
    idx.sortWith((a, b) => ColStats.compareBytes(entries(a), entries(b)) < 0)
  }

  def clear(): Unit = {
    java.util.Arrays.fill(table, -1)
    entries.clear()
    _totalBytes = 0
  }
}

/** Growable int buffer for row-group index vectors. */
final class IntBuf(initial: Int = 1024) {
  var arr = new Array[Int](initial)
  var len = 0
  def add(v: Int): Unit = {
    if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    arr(len) = v
    len += 1
  }
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, len)
}

/** FSST-augmented direct string writer: values are FSST-encoded against a
  * shared per-stripe table; LENGTH carries encoded lengths, the serialized
  * table rides in DICTIONARY_DATA, tag DIRECT_FSST. North-rule extension.
  */
final class FsstStringColumnWriter(id: Int, table: FsstTable, statsLimit: Int)
    extends BinaryColumnWriter(id, new StringStatsBuilder(statsLimit)) {
  private var rawBytesTotal = 0L
  def rawBytes: Long = rawBytesTotal

  override def writeValue(b: Array[Byte], off: Int, len: Int): Unit = {
    val before = data.size
    table.encode(b, off, len, data) // in-place into DATA: no per-value alloc
    lengths.writeLong((data.size - before).toLong)
    rawBytesTotal += len
    statsBuilder match { case s: StringStatsBuilder => s.add(b, off, len); case _ => }
    if (bloom != null) bloom.addBytes(b, off, len)
  }

  override protected def valueStreams: Seq[StreamData] =
    Seq(StreamData(StreamKind.DictionaryData, columnId, table.serialize())) ++
      super.valueStreams
  override protected def encoding: ColumnEncoding = ColumnEncoding(EncodingKind.DirectFsst)
}

/** CHAR/VARCHAR/STRING writer: dictionary-first with cost-model fallback to
  * direct (optionally FSST). Semantics per
  * /root/reference/pkg/store/SliceDictionaryColumnWriter.go; the row-group
  * index vectors buffer until stripe close (or conversion).
  */
final class StringDictionaryColumnWriter(val columnId: Int, opts: WriterOpts,
    bloomOpt: Option[BloomSpec]) extends ColumnWriter {

  val dict = new DictionaryBuilder()
  // finished row groups: index vectors (0 = null)
  private val rowGroups = new ArrayBuffer[Array[Int]]
  private var current = new IntBuf()
  private var inRowGroup = false
  private val rgStats = new ArrayBuffer[ColStats]
  private val rgBlooms = new ArrayBuffer[BloomFilter]
  private var bloom: BloomFilter =
    bloomOpt.map(s => BloomFilter(s.expectedEntries, s.fpp)).orNull
  private var stats = new StringStatsBuilder(opts.stringStatsLimit)
  private var rawBytesTotal = 0L
  private var valueCountTotal = 0L
  private var nonNullCountTotal = 0L

  // direct mode (after conversion)
  private var direct: BinaryColumnWriter = null
  def isDirectEncoded: Boolean = direct != null

  // streams built at close (dictionary path)
  private var closed = false
  private var builtStreams: Seq[StreamData] = Nil
  private var builtPositions: Seq[Array[Long]] = Nil
  private var dictSizeAtClose = 0

  def valueCount: Long = valueCountTotal
  def nonNullValueCount: Long = nonNullCountTotal
  def rawBytes: Long = rawBytesTotal
  def dictionaryEntries: Int = dict.entryCount
  def dictionaryBytes: Long = dict.totalBytes + 4L * dict.entryCount
  def indexBytes: Long =
    DictionaryOptimizer.estimateIndexBytesPerValue(dict.entryCount) * nonNullCountTotal

  def beginRowGroup(): Unit = {
    if (direct != null) direct.beginRowGroup()
    else inRowGroup = true
  }

  def writeVec(v: ColVec): Unit = {
    if (direct != null) { direct.writeVec(v); return }
    var i = 0
    if (v.packed != null) {
      while (i < v.len) {
        valueCountTotal += 1
        if (v.isNull(i)) { current.add(0); stats.recordNull() }
        else {
          val off = v.binOff(i)
          val len = v.binLen(i)
          current.add(dict.putIfAbsent(v.packed, off, len))
          rawBytesTotal += len
          nonNullCountTotal += 1
          stats.add(v.packed, off, len)
          if (bloom != null) bloom.addBytes(v.packed, off, len)
        }
        i += 1
      }
    } else {
      while (i < v.len) {
        valueCountTotal += 1
        if (v.isNull(i)) { current.add(0); stats.recordNull() }
        else {
          val b = v.bins(i)
          current.add(dict.putIfAbsent(b))
          rawBytesTotal += b.length
          nonNullCountTotal += 1
          stats.add(b)
          if (bloom != null) bloom.addBytes(b)
        }
        i += 1
      }
    }
  }

  def finishRowGroup(): Unit = {
    if (direct != null) { direct.finishRowGroup(); return }
    rowGroups += current.toArray
    current = new IntBuf()
    inRowGroup = false
    rgStats += stats.build()
    stats.reset()
    if (bloom != null) {
      rgBlooms += bloom
      bloom = BloomFilter(bloomOpt.get.expectedEntries, bloomOpt.get.fpp)
    }
  }

  /** Replay buffered values through a direct writer; abort (None) if the
    * direct size would exceed maxDirectBytes — optimizer contract per
    * SliceDictionaryColumnWriter.go:114-180. Decides FSST here, training on
    * the dictionary entries (ideal sample: each distinct value once).
    */
  def tryConvertToDirect(maxDirectBytes: Long): Option[Long] = {
    require(direct == null)
    val w: BinaryColumnWriter = chooseDirectWriter()
    rowGroups.foreach { rg =>
      w.beginRowGroup()
      replayInto(w, rg)
      w.finishRowGroup()
    }
    if (inRowGroup) {
      w.beginRowGroup()
      replayInto(w, current.toArray)
    }
    if (w.bufferedBytes > maxDirectBytes) None
    else {
      direct = w
      rowGroups.clear(); current = new IntBuf()
      rgStats.clear(); rgBlooms.clear()
      dict.clear()
      Some(w.bufferedBytes)
    }
  }

  /** FSST is accepted only if it still wins AFTER the file's generic codec
    * (cost model on a ~16KB sample): fsst-then-codec + table bytes vs codec
    * alone — FSST output resists LZ-style matching, so the pre-compression
    * ratio alone overstates its value under ZLIB/ZSTD.
    */
  private def chooseDirectWriter(): BinaryColumnWriter = {
    if (opts.fsstEnabled && dict.entryCount > 0) {
      val sample = Fsst.sampleOf((1 to dict.entryCount).iterator.map(dict.entry))
      if (sample.length >= 1024) {
        val table = Fsst.train(sample)
        if (table.symbols.nonEmpty) {
          import graft.core.compress.{Chunked, CompressionKind}
          import graft.core.io.ByteBuf
          def compressedSize(b: Array[Byte]): Int =
            if (opts.codec == CompressionKind.NONE) b.length
            else {
              val o = new ByteBuf(b.length / 2 + 64)
              Chunked.compress(opts.codec, b, 0, b.length, o, opts.compressionChunkSize)
              o.size
            }
          val fsstSample = table.encodeToArray(sample)
          val withFsst = compressedSize(fsstSample) + table.serialize().length
          val plain = compressedSize(sample)
          if (withFsst < plain * 0.95)
            return withBloom(new FsstStringColumnWriter(columnId, table, opts.stringStatsLimit))
        }
      }
    }
    withBloom(new BinaryColumnWriter(columnId,
      new StringStatsBuilder(opts.stringStatsLimit), opts.refCompatRle))
  }

  private def withBloom(w: BinaryColumnWriter): BinaryColumnWriter = {
    bloomOpt.foreach(w.setBloomSpec)
    w
  }

  private def replayInto(w: BinaryColumnWriter, indices: Array[Int]): Unit = {
    var i = 0
    while (i < indices.length) {
      val idx = indices(i)
      if (idx == 0) { w.appendNull(); w.recordNullValue() }
      else { w.appendNonNull(); w.writeValue(dict.entry(idx)) }
      i += 1
    }
  }

  def close(): Unit = {
    if (direct != null) { direct.close(); closed = true; return }
    // flush a trailing unfinished row group
    if (inRowGroup) finishRowGroup()
    buildDictionaryStreams()
    closed = true
  }

  private def buildDictionaryStreams(): Unit = {
    val order = dict.sortedOrder() // sortedPos -> original 0-based
    val remap = new Array[Int](dict.entryCount) // original 0-based -> sortedPos
    var i = 0
    while (i < order.length) { remap(order(i)) = i; i += 1 }

    val dictData = new ByteBuf(math.max(dict.totalBytes.toInt, 16))
    val lenW = new RleV2Writer(signed = false, refCompat = opts.refCompatRle)
    i = 0
    while (i < order.length) {
      val e = dict.entry(order(i) + 1)
      dictData.writeBytes(e)
      lenW.writeLong(e.length.toLong)
      i += 1
    }
    lenW.flush()

    val present = new PresentWriter
    val dataW = new RleV2Writer(signed = false, refCompat = opts.refCompatRle)
    val positions = new ArrayBuffer[Array[Long]]
    val presentCps = new ArrayBuffer[(Int, Int)]
    for (rg <- rowGroups) {
      presentCps += present.checkpoint()
      val (dOff, dPend) = dataW.checkpoint()
      positions += Array(dOff.toLong, dPend.toLong)
      var j = 0
      while (j < rg.length) {
        val idx = rg(j)
        present.append(idx != 0)
        if (idx != 0) dataW.writeLong(remap(idx - 1).toLong)
        j += 1
      }
    }
    dataW.flush()

    val presentBytes = present.finish()
    builtPositions = positions.indices.map { k =>
      val p = presentBytes.map(_ => Array(presentCps(k)._1.toLong, presentCps(k)._2.toLong))
        .getOrElse(Array.empty[Long])
      p ++ positions(k)
    }
    dictSizeAtClose = dict.entryCount
    builtStreams =
      presentBytes.map(b => StreamData(StreamKind.Present, columnId, b)).toSeq ++ Seq(
        StreamData(StreamKind.Data, columnId, dataW.out.toArray),
        StreamData(StreamKind.DictionaryData, columnId, dictData.toArray),
        StreamData(StreamKind.Length, columnId, lenW.out.toArray))
  }

  def encodings: Seq[(Int, ColumnEncoding)] =
    if (direct != null) direct.encodings
    else Seq(columnId -> ColumnEncoding(EncodingKind.DictionaryV2, dictSizeAtClose))

  def dataStreams: Seq[StreamData] = {
    require(closed)
    if (direct != null) direct.dataStreams else builtStreams
  }

  def indexEntries: Seq[(Int, Seq[RowGroupIndexEntry])] = {
    if (direct != null) direct.indexEntries
    else Seq(columnId -> rgStats.indices.map(i => RowGroupIndexEntry(builtPositions(i), rgStats(i))))
  }

  def bloomFilters: Seq[(Int, Seq[BloomFilter])] =
    if (direct != null) direct.bloomFilters
    else if (bloomOpt.isDefined) Seq(columnId -> rgBlooms.toSeq)
    else Nil

  def stripeStats: Seq[(Int, ColStats)] =
    if (direct != null) direct.stripeStats
    else Seq(columnId -> ColStats.mergeAll(rgStats))

  /** Dictionary-mode buffered estimate = index + dictionary bytes
    * (DictionaryColumnManager.GetBufferedBytes semantics).
    */
  def bufferedBytes: Long =
    if (direct != null) direct.bufferedBytes else indexBytes + dictionaryBytes

  def compressionRatio: Double =
    if (bufferedBytes == 0) 0.0 else rawBytesTotal.toDouble / bufferedBytes

  def reset(): Unit = {
    direct = null
    dict.clear()
    rowGroups.clear()
    current = new IntBuf()
    inRowGroup = false
    rgStats.clear(); rgBlooms.clear()
    stats = new StringStatsBuilder(opts.stringStatsLimit)
    bloom = bloomOpt.map(s => BloomFilter(s.expectedEntries, s.fpp)).orNull
    rawBytesTotal = 0; valueCountTotal = 0; nonNullCountTotal = 0
    closed = false
    builtStreams = Nil
    builtPositions = Nil
    dictSizeAtClose = 0
  }
}

/** Dictionary-vs-direct cost model; semantics per
  * /root/reference/pkg/store/DictionaryCompressionOptimizer.go (memory
  * budget low/high watermarks, 1.25 min ratio sweep, predicted
  * file-compression-ratio-at-stripe-limit conversion selection with
  * 1024-value-sampled dictionary growth history).
  */
final class DictionaryOptimizer(writers: Seq[StringDictionaryColumnWriter],
    stripeMinBytes: Long, stripeMaxBytes: Long, stripeMaxRowCount: Int,
    dictionaryMemoryMaxBytes: Long) {
  import DictionaryOptimizer._

  private val managers = writers.map(new Manager(_))
  private var candidates: Set[Manager] = managers.toSet
  private var dictionaryMemoryBytes = 0L
  private val memLow = math.max(dictionaryMemoryMaxBytes - (4L << 20), 0)
  private val memHigh = dictionaryMemoryMaxBytes

  def dictionaryMemory: Long = dictionaryMemoryBytes

  def isFull(bufferedBytes: Long): Boolean =
    if (bufferedBytes > stripeMinBytes) dictionaryMemoryBytes > memLow
    else dictionaryMemoryBytes > memHigh

  def reset(): Unit = {
    candidates = managers.toSet
    dictionaryMemoryBytes = 0
    managers.foreach(_.reset())
  }

  def finalOptimize(bufferedBytes: Long): Long = convertLowCompression(bufferedBytes)

  def optimize(bufferedBytes0: Long, stripeRowCount: Int): Long = {
    var bufferedBytes = bufferedBytes0
    dictionaryMemoryBytes = managers.filterNot(_.directEncoded).map(_.w.dictionaryBytes).sum
    managers.filterNot(_.directEncoded).foreach(_.updateHistory(stripeRowCount))
    if (dictionaryMemoryBytes <= memLow) return bufferedBytes
    bufferedBytes = convertLowCompression(bufferedBytes)
    if (dictionaryMemoryBytes <= memLow || bufferedBytes >= stripeMaxBytes) return bufferedBytes

    var nonDictBytes = bufferedBytes -
      managers.filterNot(_.directEncoded).map(_.w.bufferedBytes).sum
    while (candidates.nonEmpty && dictionaryMemoryBytes > memHigh && bufferedBytes < stripeMaxBytes) {
      val proj = selectColumnToConvert(nonDictBytes, stripeRowCount)
      val colBuffered = proj.m.w.bufferedBytes
      tryConvert(proj.m, maxDirectBytes(bufferedBytes)) match {
        case Some(directBytes) =>
          bufferedBytes += directBytes - colBuffered
          nonDictBytes += directBytes
        case None =>
      }
    }
    if (bufferedBytes >= stripeMaxBytes) return bufferedBytes
    if (bufferedBytes >= stripeMinBytes) {
      val currentRatio = currentCompressionRatio(nonDictBytes)
      var go = true
      while (go && candidates.nonEmpty && bufferedBytes < stripeMaxBytes) {
        val proj = selectColumnToConvert(nonDictBytes, stripeRowCount)
        if (proj.predictedRatio < currentRatio) go = false
        else {
          val colBuffered = proj.m.w.bufferedBytes
          tryConvert(proj.m, maxDirectBytes(bufferedBytes)) match {
            case Some(directBytes) =>
              bufferedBytes += directBytes - colBuffered
              nonDictBytes += directBytes
            case None =>
          }
        }
      }
    }
    bufferedBytes
  }

  private def convertLowCompression(bufferedBytes0: Long): Long = {
    var bufferedBytes = bufferedBytes0
    for (m <- candidates.toSeq) {
      if (!m.directEncoded && m.compressionRatio < MinCompressionRatio) {
        val colBuffered = m.w.bufferedBytes
        tryConvert(m, maxDirectBytes(bufferedBytes)) match {
          case Some(directBytes) =>
            bufferedBytes += directBytes - colBuffered
            if (bufferedBytes >= stripeMaxBytes) return bufferedBytes
          case None =>
        }
      }
    }
    bufferedBytes
  }

  private def tryConvert(m: Manager, maxBytes: Long): Option[Long] = {
    val dictBytes = m.w.dictionaryBytes
    val r = m.w.tryConvertToDirect(maxBytes)
    if (r.isDefined) {
      m.directEncoded = true
      dictionaryMemoryBytes -= dictBytes
    }
    candidates -= m
    r
  }

  private def currentCompressionRatio(nonDictBytes: Long): Double = {
    var unc = nonDictBytes
    var comp = nonDictBytes
    for (m <- managers if !m.directEncoded) {
      unc += m.w.rawBytes
      comp += m.w.dictionaryBytes
    }
    if (comp == 0) 0.0 else unc.toDouble / comp
  }

  private def selectColumnToConvert(nonDictBytes: Long, stripeRowCount: Int): Projection = {
    val perRowNonDict = nonDictBytes.toDouble / math.max(stripeRowCount, 1)
    val live = managers.filterNot(_.directEncoded)
    val totalDictRaw = live.map(_.w.rawBytes).sum
    val totalDictBytes = live.map(_.w.dictionaryBytes).sum
    val totalIdxBytes = live.map(_.w.indexBytes).sum
    val totalRawPerRow = live.map(_.rawBytesPerRow).sum
    val totalDictPerNewRow = live.map(_.dictionaryBytesPerFutureRow).sum
    val totalIdxPerRow = live.map(_.indexBytesPerRow).sum
    val totalUncPerRow = perRowNonDict + totalRawPerRow

    var best: Projection = null
    for (m <- candidates) {
      val curRaw = nonDictBytes + m.w.rawBytes
      val curDict = totalDictBytes - m.w.dictionaryBytes
      val curIdx = totalIdxBytes - m.w.indexBytes
      val curTotal = curRaw + curDict + curIdx
      val rawPerFuture = perRowNonDict + m.rawBytesPerRow
      val dictPerFuture = totalDictPerNewRow - m.dictionaryBytesPerFutureRow
      val idxPerFuture = totalIdxPerRow - m.indexBytesPerRow
      val totalPerFuture = rawPerFuture + dictPerFuture + idxPerFuture
      val rowsToDictLimit =
        if (dictPerFuture <= 0) Long.MaxValue
        else ((memLow - curDict) / dictPerFuture).toLong
      val rowsToStripeLimit =
        if (totalPerFuture <= 0) Long.MaxValue
        else ((stripeMaxBytes - curTotal) / totalPerFuture).toLong
      val rowsToRowLimit = (stripeMaxRowCount - stripeRowCount).toLong
      val rowsToLimit = math.max(0L,
        math.min(rowsToDictLimit, math.min(rowsToStripeLimit, rowsToRowLimit)))
      val predictedUnc = nonDictBytes + totalDictRaw + (totalUncPerRow * rowsToLimit).toLong
      val predictedComp = curTotal + (totalPerFuture * rowsToLimit).toLong
      val ratio = if (predictedComp <= 0) 0.0 else predictedUnc.toDouble / predictedComp
      if (best == null || best.predictedRatio < ratio) best = Projection(m, ratio)
    }
    best
  }

  private def maxDirectBytes(bufferedBytes: Long): Long =
    math.min(stripeMaxBytes, stripeMaxBytes - bufferedBytes + (4L << 20))
}

object DictionaryOptimizer {
  val MinCompressionRatio = 1.25

  /** 1/2/3/4 index bytes by cardinality — DictionaryCompressionOptimizer.go:214-225. */
  def estimateIndexBytesPerValue(entries: Int): Int =
    if (entries <= 256) 1
    else if (entries <= 65536) 2
    else if (entries <= 16777216) 3
    else 4

  final case class Projection(m: Manager, predictedRatio: Double)

  /** Growth-history tracker — DictionaryColumnManager semantics. */
  final class Manager(val w: StringDictionaryColumnWriter) {
    var directEncoded = false
    private var rowCount = 0
    private var pastValueCount = 0L
    private var pastDictEntries = 0
    private var pendingPastValueCount = 0L
    private var pendingPastDictEntries = 0

    def reset(): Unit = {
      directEncoded = false
      rowCount = 0
      pastValueCount = 0; pastDictEntries = 0
      pendingPastValueCount = 0; pendingPastDictEntries = 0
    }

    def updateHistory(rc: Int): Unit = {
      rowCount = rc
      val cur = w.valueCount
      if (cur - pendingPastValueCount >= 1024) {
        pastValueCount = pendingPastValueCount
        pastDictEntries = pendingPastDictEntries
        pendingPastValueCount = cur
        pendingPastDictEntries = w.dictionaryEntries
      }
    }

    def rawBytesPerRow: Double = w.rawBytes.toDouble / math.max(rowCount, 1)
    def indexBytesPerRow: Double = w.indexBytes.toDouble / math.max(rowCount, 1)
    def compressionRatio: Double = w.compressionRatio
    def dictionaryBytesPerFutureRow: Double = {
      val entries = w.dictionaryEntries
      val values = w.valueCount
      if (entries == 0 || values == pastValueCount) return 0.0
      val bytesPerEntry = w.dictionaryBytes.toDouble / entries
      val entriesPerFutureValue = (entries - pastDictEntries).toDouble / (values - pastValueCount)
      bytesPerEntry * entriesPerFutureValue
    }
  }
}
