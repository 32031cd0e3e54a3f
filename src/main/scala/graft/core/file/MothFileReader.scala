package graft.core.file

import graft.core.columns._
import graft.core.compress.{Chunked, CompressionKind}
import graft.core.stats.{BloomFilter, ColStats}
import scala.collection.mutable.ArrayBuffer

/** Positioned-read abstraction — analog of the reference's MothDataSource
  * (/root/reference/pkg/store/MothDataSource.go:14-17): only the tail and
  * the stripes a split owns are ever read.
  */
trait ByteSource {
  /** Bytes fetched so far — the IO-efficiency observable (analog of the
    * reference's MothDataSource.GetReadBytes).
    */
  final var bytesRead: Long = 0L
  def size: Long
  protected def readImpl(pos: Long, len: Int): Array[Byte]
  final def read(pos: Long, len: Int): Array[Byte] = {
    bytesRead += len
    readImpl(pos, len)
  }
  def close(): Unit = ()
}

final class ArraySource(bytes: Array[Byte]) extends ByteSource {
  def size: Long = bytes.length.toLong
  protected def readImpl(pos: Long, len: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, pos.toInt, pos.toInt + len)
}

final class FileSource(path: String) extends ByteSource {
  private val raf = new java.io.RandomAccessFile(path, "r")
  def size: Long = raf.length()
  protected def readImpl(pos: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    raf.seek(pos)
    raf.readFully(out)
    out
  }
  override def close(): Unit = raf.close()
}

/** Read-path tuning, mirroring the reference's MothReaderOptions defaults
  * (/root/reference/pkg/store/MothReaderOptions.go:6-14): stream ranges
  * closer than maxMergeDistance coalesce into one read, merged reads are
  * capped at maxReadSize, and stripes at or under tinyStripeThreshold are
  * fetched in a single read (per-stream seeks would cost more than the
  * skipped bytes).
  */
final case class ReaderOpts(
    maxMergeDistance: Long = 1L << 20,
    maxReadSize: Long = 8L << 20,
    tinyStripeThreshold: Long = 8L << 20,
    maxBlockBytes: Long = 16L << 20)

object DiskRanges {
  /** Coalesce sorted (offset, length) ranges whose gap is ≤ maxMergeDistance
    * while a merged read stays ≤ maxReadSize — the reference's
    * MergeAdjacentDiskRanges (MothDataSourceUtils.go:10-31).
    */
  def merge(ranges: Seq[(Long, Long)], maxMergeDistance: Long,
      maxReadSize: Long): Seq[(Long, Long)] = {
    if (ranges.isEmpty) return Nil
    val sorted = ranges.sortBy(_._1)
    val out = ArrayBuffer[(Long, Long)]()
    var (start, len) = sorted.head
    for ((o, l) <- sorted.tail) {
      val end = o + l
      // cap is tested POST-merge: the read that would result must stay
      // within maxReadSize (pre-merge testing lets one extension overshoot)
      val merged = math.max(len, end - start)
      if (merged <= maxReadSize && o <= start + len + maxMergeDistance) {
        len = merged
      } else {
        out += ((start, len))
        start = o
        len = l
      }
    }
    out += ((start, len))
    out.toSeq
  }
}

/** Stats predicate — the reference's only filter abstraction
  * (/root/reference/pkg/store/MothPredicate.go): prunes files, stripes and
  * row groups from min/max statistics + bloom filters; residual row-level
  * filtering stays the engine's (Spark's) job.
  */
sealed trait ColPredicate
sealed trait LeafPred extends ColPredicate { def columnName: String }
final case class LongRangePred(columnName: String, min: Option[Long], max: Option[Long])
    extends LeafPred
final case class LongEqPred(columnName: String, value: Long) extends LeafPred
final case class StringEqPred(columnName: String, value: String) extends LeafPred
/** String bounds: stats min/max are exact when present (values over the
  * 64-byte limit DROP the stat rather than truncate it — Stats.scala), so
  * inclusive/exclusive comparison against them is sound.
  */
final case class StringRangePred(columnName: String,
    lower: Option[(String, Boolean)], upper: Option[(String, Boolean)]) extends LeafPred
final case class IsNullPred(columnName: String) extends LeafPred
final case class IsNotNullPred(columnName: String) extends LeafPred
/** Floating-point bounds, inclusive-flagged (no ±1 trick on doubles).
  * Sound against NaN rows because DoubleStatsBuilder DROPS min/max for any
  * group that saw a NaN (NaN sorts above everything in Spark, outside the
  * min/max envelope) — a NaN-bearing group therefore never prunes.
  */
final case class DoubleRangePred(columnName: String,
    lower: Option[(Double, Boolean)], upper: Option[(Double, Boolean)]) extends LeafPred
/** Exact decimal bounds, inclusive-flagged. */
final case class DecimalRangePred(columnName: String,
    lower: Option[(BigDecimal, Boolean)], upper: Option[(BigDecimal, Boolean)]) extends LeafPred
/** Large-IN membership over a SORTED distinct value list: a unit survives
  * iff some value lies inside its [min,max] stats envelope — found by ONE
  * binary search per unit, O(log k) instead of the Or-of-Eq's O(k), which
  * is what makes 10k–64k-key runtime (DPP) filter sets prunable without
  * quadratic planning. Bloom refutation additionally applies when the list
  * is small enough to test per value (≤ [[StatsPredicate.MaxBloomProbes]]).
  * Long values double as epoch days for DATE columns (exact integers).
  */
final case class LongInPred(columnName: String, sorted: Array[Long]) extends LeafPred
/** String variant: values as UTF-8 bytes, sorted unsigned-bytewise (the
  * stats comparison order).
  */
final case class StringInPred(columnName: String, sortedUtf8: Array[Array[Byte]])
    extends LeafPred
/** Disjunction/conjunction nodes: `x IN (...)` arrives as an OrPred of
  * bloom-tested Eq leaves, `OR` of arbitrary convertible branches prunes a
  * unit only when EVERY branch is impossible there.
  */
final case class OrPred(alternatives: Seq[ColPredicate]) extends ColPredicate
final case class AndPred(preds: Seq[ColPredicate]) extends ColPredicate

final case class StatsPredicate(preds: Seq[ColPredicate]) {
  /** @param trustDoubleStats false for files written before writer version 2:
    *   their DoubleStatsBuilder silently excluded NaN from min/max (NaN
    *   comparisons are false), so a group holding [1.0, 2.0, NaN] reports
    *   max=2.0 and a filter like `col > 5.0` (true for NaN in Spark's
    *   ordering) would wrongly prune the group. Untrusted double stats
    *   simply never refute — sound inside And/Or composition.
    */
  def matches(colIdOf: String => Option[Int], stats: Int => Option[ColStats],
      bloom: Int => Option[BloomFilter], trustDoubleStats: Boolean = true): Boolean =
    preds.forall(eval(_, colIdOf, stats, bloom, trustDoubleStats))

  /** "Could this unit contain a matching row?" — missing columns or missing
    * stats answer true (pruning must be conservative).
    */
  private def eval(p: ColPredicate, colIdOf: String => Option[Int],
      stats: Int => Option[ColStats], bloom: Int => Option[BloomFilter],
      trustDouble: Boolean): Boolean =
    p match {
      case AndPred(ps) => ps.forall(eval(_, colIdOf, stats, bloom, trustDouble))
      case OrPred(ps) => ps.exists(eval(_, colIdOf, stats, bloom, trustDouble))
      case leaf: LeafPred =>
        colIdOf(leaf.columnName).forall { col =>
          val s = stats(col)
          leaf match {
            case LongRangePred(_, lo, hi) =>
              s.forall { st =>
                st.intStats.forall { is =>
                  lo.forall(_ <= is.max) && hi.forall(_ >= is.min)
                } && st.tsStats.forall { case (minMs, maxMs) =>
                  // timestamp columns: range pred bounds are epoch MILLIS
                  lo.forall(_ <= maxMs) && hi.forall(_ >= minMs)
                } && st.dateStats.forall { case (minD, maxD) =>
                  // date columns: bounds are epoch DAYS
                  lo.forall(_ <= maxD) && hi.forall(_ >= minD)
                }
              }
            case LongEqPred(_, v) =>
              s.forall(st =>
                st.intStats.forall(is => v >= is.min && v <= is.max) &&
                  st.dateStats.forall { case (minD, maxD) => v >= minD && v <= maxD }) &&
                bloom(col).forall(_.testLong(v))
            case DoubleRangePred(_, lower, upper) =>
              !trustDouble || s.forall(_.doubleStats.forall { ds =>
                lower.forall { case (v, incl) => if (incl) ds.max >= v else ds.max > v } &&
                  upper.forall { case (v, incl) => if (incl) ds.min <= v else ds.min < v }
              })
            case DecimalRangePred(_, lower, upper) =>
              s.forall(_.decimalStats.forall { case (mn, mx) =>
                lower.forall { case (v, incl) => if (incl) mx >= v else mx > v } &&
                  upper.forall { case (v, incl) => if (incl) mn <= v else mn < v }
              })
            case StringEqPred(_, v) =>
              val b = v.getBytes("UTF-8")
              s.forall(_.stringStats.forall { ss =>
                ss.min.forall(ColStats.compareBytes(b, _) >= 0) &&
                  ss.max.forall(ColStats.compareBytes(b, _) <= 0)
              }) && bloom(col).forall(_.testBytes(b))
            case StringRangePred(_, lower, upper) =>
              s.forall(_.stringStats.forall { ss =>
                lower.forall { case (v, incl) =>
                  val b = v.getBytes("UTF-8")
                  // some value must sit above the bound: max > v (or >= v)
                  ss.max.forall { mx =>
                    val c = ColStats.compareBytes(mx, b)
                    if (incl) c >= 0 else c > 0
                  }
                } && upper.forall { case (v, incl) =>
                  val b = v.getBytes("UTF-8")
                  ss.min.forall { mn =>
                    val c = ColStats.compareBytes(mn, b)
                    if (incl) c <= 0 else c < 0
                  }
                }
              })
            case LongInPred(_, sorted) =>
              s.forall { st =>
                st.intStats.forall(is => StatsPredicate.anyInLong(sorted, is.min, is.max)) &&
                  st.dateStats.forall { case (mn, mx) =>
                    StatsPredicate.anyInLong(sorted, mn.toLong, mx.toLong)
                  }
              } && (sorted.length > StatsPredicate.MaxBloomProbes ||
                bloom(col).forall(b => sorted.exists(b.testLong)))
            case StringInPred(_, sorted) =>
              s.forall(_.stringStats.forall { ss =>
                (ss.min, ss.max) match {
                  case (Some(mn), Some(mx)) => StatsPredicate.anyInBytes(sorted, mn, mx)
                  case _ => true
                }
              }) && (sorted.length > StatsPredicate.MaxBloomProbes ||
                bloom(col).forall(b => sorted.exists(b.testBytes)))
            case IsNullPred(_) => s.forall(_.hasNull)
            case IsNotNullPred(_) => s.forall(_.numValues > 0)
          }
        }
    }
}

object StatsPredicate {
  val True: StatsPredicate = StatsPredicate(Nil)

  /** Per-unit bloom probes are O(list), so they only run for lists at or
    * under this size; larger lists prune on the range envelope alone.
    */
  val MaxBloomProbes = 256

  /** Some sorted value in [lo, hi]? One binary search. */
  def anyInLong(sorted: Array[Long], lo: Long, hi: Long): Boolean = {
    if (lo > hi) return false
    var i = java.util.Arrays.binarySearch(sorted, lo)
    if (i < 0) i = -i - 1 // insertion point = first value >= lo
    i < sorted.length && sorted(i) <= hi
  }

  /** Some sorted (unsigned-bytewise) value in [lo, hi]? */
  def anyInBytes(sorted: Array[Array[Byte]], lo: Array[Byte], hi: Array[Byte]): Boolean = {
    if (ColStats.compareBytes(lo, hi) > 0) return false
    // lowest index with value >= lo
    var l = 0
    var r = sorted.length
    while (l < r) {
      val m = (l + r) >>> 1
      if (ColStats.compareBytes(sorted(m), lo) < 0) l = m + 1 else r = m
    }
    l < sorted.length && ColStats.compareBytes(sorted(l), hi) <= 0
  }
}

/** MOTH file reader — tail parse per
  * /root/reference/pkg/store/MothReader.go:43-93, stripe iteration with
  * file/stripe/row-group stats + bloom pruning per MothRecordReader.go and
  * StripeReader.go:272-293.
  */
final class MothFileReader(src: ByteSource, opts: ReaderOpts = ReaderOpts(),
    preParsed: ParsedTail = null) {
  import MothFileReader._

  /** IO bytes fetched so far (tail + stripes). */
  def bytesRead: Long = src.bytesRead

  /** The parsed tail: the given one, else parsed from `src`. */
  val tail: ParsedTail = if (preParsed != null) preParsed else parseTail(src)
  def postScript: Meta.PostScriptMsg = tail.postScript
  def footer: Meta.FooterMsg = tail.footer

  val compression: CompressionKind.Value = CompressionKind(postScript.compression)
  def schema: MothType.TStruct = tail.schema
  def rowCount: Long = footer.numberOfRows
  def fileStats: Seq[ColStats] = footer.statistics
  def userMetadata: Map[String, String] = tail.userMetadata
  def writerVersion: Int = tail.writerVersion
  def trustDoubleStats: Boolean = tail.trustDoubleStats
  def columnIdOf(name: String): Option[Int] = tail.columnIdOf(name)

  /** Iterate ColVec batches over the projected top-level fields.
    * @param includedFields None = all fields
    * @param split optional [start,end) byte range — a stripe belongs to the
    *   split owning its first byte (Spark split semantics,
    *   MothRecordReader.go splitContainsStripe)
    */
  def batches(includedFields: Option[Seq[String]] = None,
      predicate: StatsPredicate = StatsPredicate.True,
      batchSize: Int = 8192,
      split: Option[(Long, Long)] = None): Iterator[ColVec] = {
    val fields = includedFields.getOrElse(schema.fields.map(_._1))
    batchesProjected(MothType.TStruct(schema.fields.filter(f => fields.contains(f._1))),
      predicate, batchSize, split)
  }

  /** Iterate batches over an arbitrary NESTED projection (name-matched
    * against the file schema at every struct level — the reference's
    * NameBasedProjectedLayout, MothReader.go:184-230): only the projected
    * subtrees' streams are fetched and decoded. Struct subfields prune at
    * any depth; lists/maps prune their element/value subtrees.
    */
  def batchesProjected(projected: MothType.TStruct,
      predicate: StatsPredicate = StatsPredicate.True,
      batchSize: Int = 8192,
      split: Option[(Long, Long)] = None): Iterator[ColVec] =
    batchesProjectedWithPos(projected, predicate, batchSize, split).map(_._1)

  /** Like [[batchesProjected]] but each batch carries the FILE ROW ORDINAL
    * of its first row (0-based over the whole file, counting rows in units
    * skipped by pruning/splits) — row-level provenance for metadata columns.
    */
  def batchesProjectedWithPos(projected: MothType.TStruct,
      predicate: StatsPredicate = StatsPredicate.True,
      batchSize: Int = 8192,
      split: Option[(Long, Long)] = None): Iterator[(ColVec, Long)] = {
    val includedIds = MothFileReader.projectedIds(schema, projected, 0)

    if (!tail.mayMatch(predicate)) return Iterator.empty

    // file row ordinal of each stripe's first row
    val stripeStartRows = footer.stripes.scanLeft(0L)(_ + _.numberOfRows)

    footer.stripes.iterator.zipWithIndex.flatMap { case (stripe, si) =>
      val owned = split.forall { case (s, e) => stripe.offset >= s && stripe.offset < e }
      val stripeOk = owned && predicate.matches(columnIdOf,
        c => tail.stripeStats.lift(si).flatMap(_.lift(c)), _ => None,
        trustDoubleStats)
      if (!stripeOk) Iterator.empty
      else readStripe(stripe, projected, includedIds, predicate, batchSize,
        stripeStartRows(si))
    }
  }

  private def readStripe(stripe: Meta.StripeInfo, projected: MothType.TStruct,
      includedIds: Set[Int], predicate: StatsPredicate, batchSize: Int,
      stripeStartRow: Long): Iterator[(ColVec, Long)] = {
    // stripe footer first: it tells WHERE each stream lives, so IO can be
    // restricted to the projected columns' byte ranges (the reference's
    // ReadFully2/DiskRange path) instead of the whole stripe
    val sfRaw = src.read(stripe.offset + stripe.indexLength + stripe.dataLength,
      stripe.footerLength.toInt)
    val sf = Meta.readStripeFooter(Chunked.decompress(compression, sfRaw, 0,
      stripe.footerLength.toInt, postScript.compressionBlockSize.toInt))

    // index streams (ROW_INDEX / bloom) are only useful when there is a
    // predicate to prune with — never fetch them for a plain scan
    val needIndex = predicate.preds.nonEmpty

    // locate wanted streams: (column, kind, offset-in-stripe, length)
    var pos = 0L
    val wanted = ArrayBuffer[(Int, Int, Long, Long)]()
    sf.streams.foreach { s =>
      val isIndex = s.kind == StreamKind.RowIndex || s.kind == StreamKind.BloomFilterUtf8
      if (includedIds.contains(s.column) && (!isIndex || needIndex))
        wanted += ((s.column, s.kind, pos, s.length))
      pos += s.length
    }

    // fetch plan: tiny stripes in one read (seeks would cost more than the
    // skipped bytes), larger stripes via merged ranged reads of only the
    // wanted streams (≤1MB gaps coalesce, reads capped at 8MB)
    val stripeBodyLen = stripe.indexLength + stripe.dataLength
    val locate: (Long, Long) => (Array[Byte], Int) =
      if (stripeBodyLen <= opts.tinyStripeThreshold) {
        val whole = src.read(stripe.offset, stripeBodyLen.toInt)
        (off, _) => (whole, off.toInt)
      } else {
        val merged = DiskRanges.merge(wanted.map(w => (w._3, w._4)).toSeq,
          opts.maxMergeDistance, opts.maxReadSize)
        val bufs = merged.map { case (o, l) => (o, l, src.read(stripe.offset + o, l.toInt)) }
        (off, len) => {
          val (o, _, buf) = bufs.find(b => off >= b._1 && off + len <= b._1 + b._2)
            .getOrElse(sys.error(s"stream range [$off,+$len) not covered by fetch plan"))
          (buf, (off - o).toInt)
        }
      }

    val streamMap = scala.collection.mutable.Map[(Int, Int), Array[Byte]]()
    val rowIndexRaw = scala.collection.mutable.Map[Int, Array[Byte]]()
    val bloomRaw = scala.collection.mutable.Map[Int, Array[Byte]]()
    wanted.foreach { case (column, kind, off, len) =>
      val (buf, bufOff) = locate(off, len)
      val bytes = Chunked.decompress(compression, buf, bufOff, len.toInt,
        postScript.compressionBlockSize.toInt)
      kind match {
        case StreamKind.RowIndex => rowIndexRaw(column) = bytes
        case StreamKind.BloomFilterUtf8 => bloomRaw(column) = bytes
        case k => streamMap((column, k)) = bytes
      }
    }
    val encodings = sf.columns.zipWithIndex.map { case (e, c) => c -> e }.toMap
    val streams = new StripeStreams(streamMap.toMap, encodings)

    // row-group selection
    val stride = math.max(footer.rowIndexStride, 1)
    val nGroups = ((stripe.numberOfRows + stride - 1) / stride).toInt
    val perColEntries: Map[Int, Seq[RowGroupIndexEntry]] =
      if (predicate.preds.isEmpty || nGroups <= 1) Map.empty
      else rowIndexRaw.map { case (c, b) => c -> Meta.readRowIndex(b) }.toMap
    val selected: Array[Boolean] =
      if (predicate.preds.isEmpty || nGroups <= 1) Array.fill(math.max(nGroups, 1))(true)
      else {
        val perColBlooms = bloomRaw.map { case (c, b) => c -> Meta.readBloomIndex(b) }
        Array.tabulate(nGroups) { g =>
          predicate.matches(columnIdOf,
            c => perColEntries.get(c).flatMap(_.lift(g)).map(_.stats),
            c => perColBlooms.get(c).flatMap(_.lift(g)), trustDoubleStats)
        }
      }

    // checkpoint seeks need every included column's ROW_INDEX for every group
    // (root struct id 0 included); decode-skip is the fallback
    val canSeek = includedIds.forall(c =>
      perColEntries.get(c).exists(_.lengthCompare(nGroups) >= 0))

    val reader = MothFileReader.projectedReader(schema, projected, 0)
    reader.startStripe(streams)

    new Iterator[(ColVec, Long)] {
      private var group = 0
      private var rowInGroup = 0L
      // Adaptive batch sizing (MothRecordReader.go:63,195-197,222-249):
      // grow 1 → batchSize doubling per batch, and cap so one batch's
      // decoded bytes stay under maxBlockBytes — wide text rows would
      // otherwise make a full-size batch arbitrarily large.
      private var nextBatch = 1
      private var adaptiveMax = batchSize
      advance()

      private def groupRows(g: Int): Long =
        math.min(stride.toLong, stripe.numberOfRows - g.toLong * stride)

      private def advance(): Unit = {
        val from = group
        while (group < nGroups && !selected(group)) {
          group += 1
          rowInGroup = 0
        }
        if (group > from && group < nGroups) {
          if (canSeek) reader.seek(c => perColEntries(c)(group).positions)
          else {
            var g = from
            while (g < group) { reader.skip(groupRows(g)); g += 1 }
          }
        }
      }

      def hasNext: Boolean = group < nGroups
      def next(): (ColVec, Long) = {
        val pos = stripeStartRow + group.toLong * stride + rowInGroup
        val remainingInGroup = groupRows(group) - rowInGroup
        val cur = math.min(nextBatch, adaptiveMax)
        nextBatch = math.min(cur * 2, batchSize)
        val n = math.min(cur.toLong, remainingInGroup).toInt
        val v = reader.read(n)
        if (n > 0) {
          val bytesPerRow = v.approxBytes / n
          if (bytesPerRow > 0)
            adaptiveMax = math.max(1,
              math.min(batchSize.toLong, opts.maxBlockBytes / bytesPerRow).toInt)
        }
        rowInGroup += n
        if (rowInGroup >= groupRows(group)) { group += 1; rowInGroup = 0; advance() }
        (v, pos)
      }
    }
  }

  def close(): Unit = src.close()
}

/** A file's parsed tail (postscript, footer, per-stripe stats) and the
  * facts derived from it. Immutable and shared through the per-JVM tail
  * cache, so the derived values are computed once per file.
  */
final case class ParsedTail(postScript: Meta.PostScriptMsg, footer: Meta.FooterMsg,
    stripeStats: Seq[Seq[ColStats]]) {
  lazy val schema: MothType.TStruct = Meta.unflattenTypes(footer.types) match {
    case s: MothType.TStruct => s
    case other => MothType.TStruct(Seq(("value", other)))
  }

  lazy val userMetadata: Map[String, String] =
    footer.userMetadata.map { case (k, v) => k -> new String(v, "UTF-8") }

  /** Engine writer version recorded in the footer (1 when absent). Version 2
    * is the first whose double stats are NaN-sound (DoubleStatsBuilder drops
    * min/max on NaN); double-range pruning is only applied at >= 2.
    */
  lazy val writerVersion: Int =
    userMetadata.get("graft.writer.version").flatMap(_.toIntOption).getOrElse(1)
  /** Whether stats-based pruning may trust this file's double min/max. */
  def trustDoubleStats: Boolean = writerVersion >= 2

  /** Column ids of a top-level field subtree, for projection. */
  private lazy val fieldColumnRanges: Seq[(String, Range)] = {
    var next = 1
    schema.fields.map { case (name, t) =>
      val start = next
      next += MothType.columnCount(t)
      (name, start until next)
    }
  }

  def columnIdOf(name: String): Option[Int] = fieldColumnRanges.find(_._1 == name).map(_._2.start)

  /** File-level stats gate: false only when the footer statistics refute
    * the predicate, so the whole file can be skipped.
    */
  def mayMatch(predicate: StatsPredicate): Boolean =
    predicate.matches(columnIdOf, footer.statistics.lift, _ => None, trustDoubleStats)
}

object MothFileReader {
  def fromBytes(bytes: Array[Byte], opts: ReaderOpts = ReaderOpts()): MothFileReader =
    new MothFileReader(new ArraySource(bytes), opts)
  /** Open by path or URI — any registered Hadoop FileSystem scheme. */
  def fromPath(path: String, opts: ReaderOpts = ReaderOpts()): MothFileReader =
    new MothFileReader(Sources.forPath(path), opts)

  /** Parse the tail. Every length is bounds-checked against the file, so a
    * truncated or corrupt tail fails with an IOException instead of an
    * index error deep in the parser.
    */
  def parseTail(src: ByteSource): ParsedTail = {
    def corrupt(msg: String): Nothing = throw new java.io.IOException(s"corrupt moth tail: $msg")
    val size = src.size
    if (size < 2) corrupt(s"file of $size bytes has no postscript")
    val tailLen = math.min(size, 16384L).toInt
    var tail = src.read(size - tailLen, tailLen)
    val psLen = tail(tail.length - 1) & 0xff
    if (psLen == 0 || psLen + 1 > tail.length)
      corrupt(s"postscript length $psLen does not fit a $size-byte file")
    val ps = Meta.readPostScript(tail, tail.length - 1 - psLen, psLen)
    if (ps.magic != "MOTH") corrupt(s"bad magic '${ps.magic}'")
    val kind = CompressionKind(ps.compression)
    val need = ps.footerLength + ps.metadataLength + psLen + 1
    if (ps.footerLength < 0 || ps.metadataLength < 0 || need > math.min(size, Int.MaxValue))
      corrupt(s"footer ${ps.footerLength} + metadata ${ps.metadataLength} bytes " +
        s"exceed the $size-byte file")
    if (need > tail.length) tail = src.read(size - need, need.toInt)
    val footerStart = tail.length - 1 - psLen - ps.footerLength.toInt
    val footerBytes = Chunked.decompress(kind, tail, footerStart, ps.footerLength.toInt,
      ps.compressionBlockSize.toInt)
    val f = Meta.readFooter(footerBytes)
    val metaStart = footerStart - ps.metadataLength.toInt
    val metaBytes = Chunked.decompress(kind, tail, metaStart, ps.metadataLength.toInt,
      ps.compressionBlockSize.toInt)
    ParsedTail(ps, f, Meta.readMetadata(metaBytes))
  }

  /** Per-JVM LRU of parsed file tails keyed (path, size, mtime) — the
    * reference's CachingMothDataSource analog for the planning-heavy part:
    * a DSv2 query otherwise re-reads and re-parses each file tail for
    * schema inference, split planning, statistics and every partition
    * reader. Thread-safe; bounded at 1024 entries (tails are a few KB).
    *
    * ASSUMES IMMUTABLE FILES: an in-place overwrite that preserves length
    * within filesystem mtime granularity would serve a stale footer. The
    * engine's own writers never do this (output is always a fresh name
    * renamed into place); foreign writers mutating .moth files in place are
    * unsupported.
    */
  private val tailCache =
    new java.util.LinkedHashMap[String, ParsedTail](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ParsedTail]): Boolean = size() > 1024
    }

  private def keyOf(path: String, size: Long, mtime: Long): String = s"$path:$size:$mtime"

  private def cachedTail(key: String): Option[ParsedTail] =
    tailCache.synchronized(Option(tailCache.get(key)))

  /** The one place a named file's tail is parsed and cached: a tail that
    * does not parse fails with an IOException naming the file.
    */
  private def loadTail(path: String, key: String, src: ByteSource): ParsedTail = {
    val parsed =
      try parseTail(src)
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new java.io.IOException(s"cannot read the tail of moth file $path: $e", e)
      }
    tailCache.synchronized(tailCache.put(key, parsed))
    parsed
  }

  /** The tail of `path` as of the (size, mtime) a directory listing
    * returned: a cache hit opens no file.
    */
  def tailOf(path: String, size: Long, mtime: Long): ParsedTail = {
    val key = keyOf(path, size, mtime)
    cachedTail(key).getOrElse {
      val src = Sources.forPath(path)
      try loadTail(path, key, src) finally src.close()
    }
  }

  /** Open a file reader, serving the tail from the cache; on a miss the
    * tail is parsed through the reader's own source (no second open).
    */
  def fromPathCached(path: String, opts: ReaderOpts = ReaderOpts()): MothFileReader = {
    val (size, mtime) = Sources.status(path)
    val key = keyOf(path, size, mtime)
    val src = Sources.forPath(path)
    val tail =
      try cachedTail(key).getOrElse(loadTail(path, key, src))
      catch { case e: Throwable => src.close(); throw e }
    new MothFileReader(src, opts, tail)
  }

  /** Column ids covered by a nested projection: struct levels keep only the
    * name-matched subfields (types come from the FILE schema — the
    * projection only carries shape/names); lists/maps recurse into
    * element/value; any other node includes its whole subtree.
    */
  private[file] def projectedIds(full: MothType, proj: MothType, id: Int): Set[Int] =
    (full, proj) match {
      case (fs: MothType.TStruct, ps: MothType.TStruct) =>
        var out = Set(id)
        var next = id + 1
        fs.fields.foreach { case (name, ft) =>
          val myId = next
          next += MothType.columnCount(ft)
          ps.fields.find(_._1 == name).foreach { case (_, pt) =>
            out ++= projectedIds(ft, pt, myId)
          }
        }
        out
      case (fl: MothType.TList, pl: MothType.TList) =>
        Set(id) ++ projectedIds(fl.elem, pl.elem, id + 1)
      case (fm: MothType.TMap, pm: MothType.TMap) =>
        val keyId = id + 1
        val valId = keyId + MothType.columnCount(fm.key)
        Set(id) ++ projectedIds(fm.key, pm.key, keyId) ++ projectedIds(fm.value, pm.value, valId)
      case (t, _) => (id until id + MothType.columnCount(t)).toSet
    }

  /** Reader tree for a nested projection: original ids, projected order. */
  private[file] def projectedReader(full: MothType, proj: MothType, id: Int): ColumnReader =
    (full, proj) match {
      case (fs: MothType.TStruct, ps: MothType.TStruct) =>
        var next = id + 1
        val kids = fs.fields.map { case (name, ft) =>
          val myId = next
          next += MothType.columnCount(ft)
          (name, ft, myId)
        }
        val children = ps.fields.map { case (pname, pt) =>
          val (_, ft, cid) = kids.find(_._1 == pname).getOrElse(
            sys.error(s"projected field '$pname' not in file schema"))
          projectedReader(ft, pt, cid)
        }
        new StructColumnReader(id, children)
      case (fl: MothType.TList, pl: MothType.TList) =>
        new ListColumnReader(id, projectedReader(fl.elem, pl.elem, id + 1))
      case (fm: MothType.TMap, pm: MothType.TMap) =>
        val keyId = id + 1
        val valId = keyId + MothType.columnCount(fm.key)
        new MapColumnReader(id, projectedReader(fm.key, pm.key, keyId),
          projectedReader(fm.value, pm.value, valId))
      case (t, _) => ColumnReader.createTree(t, id)
    }
}
