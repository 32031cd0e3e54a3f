package graft.spark.source

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import graft.core.columns.WriterOpts
import graft.core.compress.CompressionKind
import graft.core.file.{AndPred, DecimalRangePred, DoubleRangePred, IsNotNullPred, IsNullPred, LongEqPred, LongInPred, LongRangePred, MothFileReader, OrPred, ParsedTail, StatsPredicate, StringEqPred, StringInPred, StringRangePred}
import graft.spark.SparkBridge

/** Merges the Spark session/executor `spark.hadoop.*` settings into the
  * engine's process-wide Hadoop configuration — so s3a credentials etc.
  * configured the standard Spark way reach every moth FileSystem. Every
  * moth entry point (schema inference, reader/writer factories, streaming)
  * calls ensure() first. Keyed to the live SparkConf identity, NOT a
  * one-shot JVM latch: a call before SparkEnv exists applies nothing (and
  * latches nothing), and a new SparkContext's settings re-merge.
  */
object HadoopConfSync {
  @volatile private var appliedFor: AnyRef = null
  def ensure(): Unit = {
    val env = org.apache.spark.SparkEnv.get
    if (env != null && (appliedFor ne env.conf)) synchronized {
      if (appliedFor ne env.conf) {
        val c = graft.core.file.Sources.conf
        env.conf.getAll.foreach { case (k, v) =>
          if (k.startsWith("spark.hadoop.")) c.set(k.stripPrefix("spark.hadoop."), v)
        }
        appliedFor = env.conf
      }
    }
  }
}

/** DataSourceV2 "moth" format: `spark.read.format("moth").load(dir)`.
  *
  * Spark-native read integration for the engine's file format —
  * the Catalyst-facing face of the reader in graft.core.file:
  *  - schema inference from the file footer (MothReader.go:43-93 analog)
  *  - column pruning pushed to the stream level (only projected columns'
  *    streams are read — StripeReader.go:334-345 semantics)
  *  - filter pushdown into file/stripe/row-group statistics + bloom
  *    pruning (MothPredicate.go semantics). Pruning is CONSERVATIVE, so
  *    every filter is also returned as a residual for Spark to re-apply —
  *    exactly how ORC SearchArguments behave.
  *  - one input partition per ~128MB of stripes (`maxPartitionBytes`):
  *    small files stay whole, large files split by stripe ranges, a stripe
  *    belonging to the split that owns its first byte
  *    (MothRecordReader.go splitContainsStripe)
  *  - statistics reporting from footers so Catalyst can size joins
  *    (broadcast decisions) without scanning.
  *  - one directory listing per scan ([[MothFileSet]]): every planning
  *    decision reads the same files and their cached tails.
  */
class MothDataSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "moth"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "moth source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    HadoopConfSync.ensure()
    MothTable.schemaOf(MothTable.listFiles(pathOf(options)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new MothTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = true
}

/** One file of a table listing: its path and parsed tail. */
final case class MothFile(path: String, tail: ParsedTail)

/** The files one scan sees: ONE listing of the table directory, each file
  * with its parsed tail, taken on first use and then read by every
  * planning decision of the scan (pushdowns, reported order and
  * partitioning, split planning, statistics). Within one query execution a
  * scan therefore sees the files listed when its builder was created, as
  * Spark's own file sources do; the next action re-lists. A streaming scan
  * never touches it, so a stream may start over an empty directory.
  */
final class MothFileSet(path: String) {
  lazy val files: IndexedSeq[MothFile] = MothTable.listing(path)
  lazy val sortTag: Option[Seq[String]] = MothTable.commonSortTag(files)
  lazy val bucketLayout: Option[MothTable.BucketLayout] = MothTable.bucketLayout(files)
}

object MothTable {
  /** List via Hadoop FileSystem: any registered scheme (hdfs://, s3a://,
    * file:, scheme-less local) — the storage-agnostic face of the table.
    * Each entry is (path, size, mtime).
    */
  def listFiles(path: String): Seq[(String, Long, Long)] = {
    HadoopConfSync.ensure()
    val files = graft.core.file.Sources.listMothSized(path)
    require(files.nonEmpty, s"no .moth files at $path")
    files
  }

  /** Nil ONLY for a genuinely empty or absent table directory; every other
    * failure (malformed URI, auth, throttling) propagates — callers that
    * treat "empty" as a soft case must not silently swallow real errors.
    */
  def listMothOrEmpty(path: String): Seq[(String, Long, Long)] = {
    HadoopConfSync.ensure()
    try graft.core.file.Sources.listMothSized(path)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** One listing of `path` with every file's tail. Tails come from the
    * per-JVM cache keyed by the listed (size, mtime), so a warm table opens
    * no file; cold tails are read in parallel (planning a 100k-file table
    * must not serialize a footer wave).
    */
  def listing(path: String): IndexedSeq[MothFile] = {
    import scala.collection.parallel.CollectionConverters._
    val par = listFiles(path).toIndexedSeq.par
    par.tasksupport = new scala.collection.parallel.ExecutionContextTaskSupport(
      scala.concurrent.ExecutionContext.global)
    par.map { case (f, size, mtime) => MothFile(f, MothFileReader.tailOf(f, size, mtime)) }
      .toIndexedSeq
  }

  /** Spark schema of the first listed file. */
  def schemaOf(files: Seq[(String, Long, Long)]): StructType = {
    val (f, size, mtime) = files.head
    SparkBridge.toSparkSchema(MothFileReader.tailOf(f, size, mtime).schema)
  }

  private def tagCols(v: String): Seq[String] = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** The sort tag all files agree on, if any (columns of
    * [[graft.spark.MothSpark.SortedByKey]]).
    */
  def commonSortTag(files: Seq[MothFile]): Option[Seq[String]] = {
    def tag(f: MothFile) = f.tail.userMetadata.get(graft.spark.MothSpark.SortedByKey).map(tagCols)
    tag(files.head).filter(cols => cols.nonEmpty && files.forall(tag(_).contains(cols)))
  }

  /** Verified bucket layout of a table: every file carries the SAME
    * (cols, count) tag plus its own bucket id. `idOf` maps file → bucket.
    */
  final case class BucketLayout(cols: Seq[String], count: Int, idOf: Map[String, Int]) {
    def distinctIds: Int = idOf.values.toSet.size
  }

  /** The table's bucket layout. One untagged or disagreeing file disables
    * it — the table then joins with a shuffle.
    */
  def bucketLayout(files: Seq[MothFile]): Option[BucketLayout] = {
    val probed = files.map { f =>
      val m = f.tail.userMetadata
      for {
        cols <- m.get(MothBucket.ColsKey)
        n <- m.get(MothBucket.CountKey).flatMap(_.toIntOption)
        id <- m.get(MothBucket.IdKey).flatMap(_.toIntOption)
      } yield (f.path, cols, n, id)
    }
    if (probed.exists(_.isEmpty)) None
    else {
      val ps = probed.map(_.get)
      val (c0, n0) = (ps.head._2, ps.head._3)
      if (n0 > 0 && ps.forall(p => p._2 == c0 && p._3 == n0))
        Some(BucketLayout(tagCols(c0), n0, ps.map(p => p._1 -> p._4).toMap))
      else None
    }
  }
}

/** Row-level provenance (metadata) columns, selectable by name but hidden
  * from `SELECT *`: `_moth_file` = the file providing the row, `_moth_pos`
  * = the row's 0-based ordinal within that file (counting rows in pruned
  * units, so it is a stable file coordinate). Together they complete the
  * lineage story the manifests start: any output row can be traced to an
  * exact (file, position) — the audit primitive a 100 TB pipeline needs.
  */
object MothMeta {
  val FileCol = "_moth_file"
  val PosCol = "_moth_pos"
  val names: Set[String] = Set(FileCol, PosCol)

  import org.apache.spark.sql.connector.catalog.MetadataColumn
  val columns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable(): Boolean = false
      override def comment(): String = "moth file providing the row"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable(): Boolean = false
      override def comment(): String = "0-based row ordinal within the moth file"
    })
}

class MothTable(path: String, tableSchema: StructType) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"moth:$path"
  override def schema(): StructType = tableSchema
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = MothMeta.columns
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // ranged-IO tuning reaches every partition reader: on an object store
    // the right merge distance / read cap differ from local-disk defaults
    def longOpt(k: String, dflt: Long): Long =
      Option(options.get(k)).map(_.toLong).getOrElse(dflt)
    val dfltOpts = graft.core.file.ReaderOpts()
    val readerOpts = graft.core.file.ReaderOpts(
      maxMergeDistance = longOpt("mergeDistance", dfltOpts.maxMergeDistance),
      maxReadSize = longOpt("maxReadSize", dfltOpts.maxReadSize),
      tinyStripeThreshold = longOpt("tinyStripeThreshold", dfltOpts.tinyStripeThreshold),
      maxBlockBytes = longOpt("maxBlockBytes", dfltOpts.maxBlockBytes))
    new MothScanBuilder(path, tableSchema,
      longOpt("maxPartitionBytes", 128L << 20),
      MothStreamOpts(
        maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        cleanSource = Option(options.get("cleanSource")).map(_.toLowerCase)
          .getOrElse("off"),
        archiveDir = Option(options.get("sourceArchiveDir")),
        compactInterval = Option(options.get("logCompactInterval")).map(_.toInt)
          .getOrElse(MothStreamLog.DefaultCompactInterval),
        maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
        latestFirst = Option(options.get("latestFirst")).exists(_.toBoolean)),
      readerOpts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MothWriteBuilder(path, info.schema(), info.queryId(),
      Option(info.options.get("codec")).map(c => CompressionKind.withName(c.toUpperCase))
        .getOrElse(CompressionKind.ZLIB),
      // `option("sortedBy", "a,b")`: verify-and-tag — each task checks its
      // rows really arrive non-decreasing on these keys and records the
      // order in the footer; unsorted input is written fine, just untagged
      Option(info.options.get("sortedBy")).map(_.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
      // `option("bucketBy", "n;a,b")`: verify-and-tag bucket layout — each
      // task checks every row hashes to ONE bucket (MothBucket semantics)
      // and records (cols, count, id) in the footer; mixed-bucket input is
      // written fine, just untagged (and the table then joins with a
      // shuffle like any other)
      Option(info.options.get("bucketBy")).flatMap { v =>
        v.split(";", 2) match {
          case Array(n, cols) =>
            val c = cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
            n.trim.toIntOption.filter(_ > 0).filter(_ => c.nonEmpty).map((_, c))
          case _ => None
        }
      })
}

/** DSv2 write: `df.write.format("moth").mode("append"|"overwrite").save(dir)`.
  * One MOTH file per task; task commit renames the attempt-private tmp file
  * (Spark's commit coordinator admits one attempt per partition), overwrite
  * clears prior .moth files at job commit. The reference exposes writes only
  * through its writer API; this is the engine's Catalyst-facing face.
  */
class MothWriteBuilder(path: String, schema: StructType, queryId: String,
    codec: CompressionKind.Value, sortedBy: Seq[String] = Nil,
    bucketBy: Option[(Int, Seq[String])] = None)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new MothWrite(path, schema, queryId, codec, doTruncate, sortedBy, bucketBy)
}

class MothWrite(path: String, schema: StructType, queryId: String,
    codec: CompressionKind.Value, truncate: Boolean, sortedBy: Seq[String] = Nil,
    bucketBy: Option[(Int, Seq[String])] = None)
    extends Write with BatchWrite {
  import org.apache.hadoop.fs.Path
  import graft.core.file.Sources
  override def toBatch: BatchWrite = this

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new MothRetainedPeakMetric, new MothBytesWrittenMetric)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val fs = Sources.fileSystemOf(path)
    fs.mkdirs(new Path(path))
    if (!truncate) {
      // append into a non-empty dir only with an identical schema: the scan
      // infers the table schema from one footer
      val existing = MothTable.listMothOrEmpty(path)
      if (existing.nonEmpty) {
        // nullability is not encoded in MOTH (PRESENT is per-stripe), so
        // compare modulo nullable flags
        val have = MothTable.schemaOf(Seq(existing.head))
        def norm(s: StructType): Seq[(String, String)] =
          s.fields.toSeq.map(f => (f.name, f.dataType.catalogString))
        require(norm(have) == norm(schema),
          s"moth append schema mismatch: dir has $have, writing $schema")
      }
    }
    // qualified once here, so the executors' create/rename/delete resolve a
    // scheme-less path to the same FileSystem as mkdirs and the listings
    MothDataWriterFactory(fs.makeQualified(new Path(path)).toString, schema, queryId,
      codec, sortedBy, bucketBy)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (truncate) {
      val keep = messages.collect { case MothCommit(f) => f }.toSet
      val fs = Sources.fileSystemOf(path)
      MothTable.listMothOrEmpty(path).foreach { case (f, _, _) =>
        val p = new Path(f)
        if (!keep.contains(p.getName)) fs.delete(p, false)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = Sources.fileSystemOf(path)
    messages.foreach {
      case MothCommit(f) => fs.delete(new Path(path, f), false)
      case _ =>
    }
  }
}

case class MothCommit(fileName: String) extends WriterCommitMessage

case class MothDataWriterFactory(path: String, schema: StructType, queryId: String,
    codec: CompressionKind.Value, sortedBy: Seq[String] = Nil,
    bucketBy: Option[(Int, Seq[String])] = None) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    HadoopConfSync.ensure()
    new MothDataWriter(path, schema, queryId, codec, partitionId, taskId, sortedBy, bucketBy)
  }
}

class MothDataWriter(path: String, schema: StructType, queryId: String,
    codec: CompressionKind.Value, partitionId: Int, taskId: Long,
    sortedBy: Seq[String] = Nil, bucketBy: Option[(Int, Seq[String])] = None)
    extends DataWriter[InternalRow] {
  import org.apache.hadoop.fs.Path
  import graft.core.file.Sources
  // attempt-private tmp, published at task commit the way writeFiles
  // publishes (Sources.atomicRename: an atomic move on local paths)
  private val fileName = f"part-$partitionId%05d-$queryId.moth"
  private val tmp = new Path(path, s"$fileName.$taskId.tmp").toString
  private val out = new java.io.BufferedOutputStream(Sources.createOutput(tmp), 1 << 16)
  // sortedBy naming a missing column leaves the file untagged
  private val enc = new graft.spark.MothSpark.TaskEncoder(schema, out, codec, WriterOpts(),
    if (sortedBy.forall(schema.fieldNames.contains)) sortedBy else Nil)
  private val bucketCheck = bucketBy match {
    case Some((n, cols)) if cols.forall(schema.fieldNames.contains) &&
        cols.forall(c => MothBucket.eligible(schema(schema.fieldIndex(c)).dataType)) =>
      new MothBucket.Verifier(n,
        cols.map(c => (schema.fieldIndex(c), schema(schema.fieldIndex(c)).dataType)).toArray)
    case _ => null
  }

  override def write(row: InternalRow): Unit = {
    if (bucketCheck != null) bucketCheck.update(row)
    enc.add(row)
  }

  override def commit(): WriterCommitMessage = {
    if (bucketCheck != null && bucketCheck.ok) {
      val (n, cols) = bucketBy.get
      enc.writer.addUserMetadata(MothBucket.ColsKey, cols.mkString(","))
      enc.writer.addUserMetadata(MothBucket.CountKey, n.toString)
      // an EMPTY file verified vacuously: tag it with the task's partition
      // id — under MothSpark.writeBucketed placement partition id == bucket
      // id, and for foreign placements an empty file's tag constrains
      // nothing (a bucket group gaining an empty file stays correct).
      // Clamped to the bucket domain: a foreign placement with more tasks
      // than buckets must not mint a phantom bucket id >= n (the scan would
      // then report a KeyGroupedPartitioning key bucket(n, cols) can never
      // produce).
      enc.writer.addUserMetadata(MothBucket.IdKey,
        (if (bucketCheck.observed >= 0) bucketCheck.observed else partitionId % n).toString)
    }
    enc.close()
    out.close()
    // replaces a lost earlier attempt's file: this attempt won the commit
    Sources.atomicRename(tmp, new Path(path, fileName).toString)
    MothCommit(fileName)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Exception => }
    Sources.delete(tmp)
  }
  override def close(): Unit = ()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(MothTaskMetric("mothRetainedPeak",
        math.max(enc.writer.peakRetainedBytes, enc.writer.bufferedBytes)),
      // Spark's last metric poll precedes commit() (which flushes the file
      // tail), so count buffered-but-unflushed bytes as produced output
      MothTaskMetric("mothBytesWritten", enc.writer.bytesWritten + enc.writer.bufferedBytes))
}

class MothScanBuilder(path: String, fullSchema: StructType,
    maxPartitionBytes: Long = 128L << 20,
    streamOpts: MothStreamOpts = MothStreamOpts(),
    readerOpts: graft.core.file.ReaderOpts = graft.core.file.ReaderOpts())
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private val fileSet = new MothFileSet(path)
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPush: Option[(StructType, Array[Long])] = None
  private var limit: Option[Int] = None

  /** `df.limit(n)` probes — the constant pattern of interactive data
    * inspection — cap the PLANNED task wave using footer/stripe row counts
    * instead of scanning a full wave and discarding. Partial pushdown:
    * Spark keeps its own Limit operator, the scan just plans no more
    * stripes than needed to cover n rows. Spark only pushes a limit when
    * no post-scan filter sits below it; since every moth filter is
    * residual, that means no filter at all — exactly when footer counts
    * are authoritative (belt-and-braces guard anyway).
    */
  override def pushLimit(n: Int): Boolean =
    if (pushed.nonEmpty) false
    else { limit = Some(n); true }

  private var topN: Option[Int] = None

  // both limit and topN pushdowns are PARTIAL: Spark keeps its own
  // Limit/TakeOrderedAndProject over the candidate rows the scan returns
  override def isPartiallyPushed(): Boolean = true

  /** `orderBy(keys).limit(n)` over a table whose files carry a VERIFIED
    * sort tag matching the requested order (ascending, nulls first, a
    * prefix of the tag): each file is sorted on those keys, so its first
    * n rows contain its global-top-n candidates — the scan plans only the
    * leading stripes covering n rows PER FILE instead of a full wave.
    * Partial pushdown: Spark's TakeOrderedAndProject still does the final
    * merge-sort+limit over the candidate set.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (pushed.nonEmpty || orders.isEmpty) return false
    val ok = fileSet.sortTag.exists { cols =>
      orders.length <= cols.length && orders.zip(cols).forall { case (o, c) =>
        o.expression match {
          case nr: NamedReference =>
            nr.fieldNames.length == 1 && nr.fieldNames.head == c &&
              o.direction == SortDirection.ASCENDING &&
              o.nullOrdering == NullOrdering.NULLS_FIRST
          case _ => false
        }
      }
    }
    if (ok) topN = Some(n)
    ok
  }

  /** COUNT(*) / COUNT(col) / MIN / MAX answered from file footers — zero
    * data bytes scanned. Only COMPLETE pushdown (one exact row), only when
    * no filter reached the scan (file stats describe unfiltered files), and
    * only over types whose stats are exact: the integer family and DATE.
    * String min/max is NOT eligible — the 64-byte stats truncation
    * (MothWriterOptions.go:9) makes it a bound, not a value.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    computeMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggPush = computeMemo(agg)
    aggPush.isDefined
  }

  // Spark probes supportCompletePushDown then pushes the same Aggregation —
  // fold the footers once, not twice
  private var aggMemo: Option[(AnyRef, Option[(StructType, Array[Long])])] = None
  private def computeMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Long])] = aggMemo match {
    case Some((k, r)) if k eq agg => r
    case _ =>
      val r = computeAgg(agg)
      aggMemo = Some((agg, r))
      r
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Long])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None

    def topLevel(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    def statType(name: String): Option[org.apache.spark.sql.types.DataType] =
      fullSchema.find(_.name == name).map(_.dataType).filter {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case _ => false
      }

    sealed trait Req
    case object CountAll extends Req
    case class CountCol(name: String) extends Req
    case class MinMax(name: String, dt: org.apache.spark.sql.types.DataType, isMin: Boolean) extends Req
    case class SumCol(name: String) extends Req

    val reqs: Array[Option[(Req, org.apache.spark.sql.types.DataType)]] =
      agg.aggregateExpressions.map {
        case _: CountStar => Some((CountAll, LongType))
        case c: Count if !c.isDistinct =>
          topLevel(c.column).map(n => (CountCol(n), LongType))
        case m: Min =>
          for (n <- topLevel(m.column); dt <- statType(n)) yield (MinMax(n, dt, isMin = true), dt)
        case m: Max =>
          for (n <- topLevel(m.column); dt <- statType(n)) yield (MinMax(n, dt, isMin = false), dt)
        // SUM over the integer family: IntStats.sum is overflow-guarded
        // (None on overflow → bail to a real scan, which reproduces Spark's
        // own wrap/ANSI behavior). DOUBLE sums are excluded — FP addition
        // order differs from Spark's and the result would not be bit-exact.
        case s: Sum if !s.isDistinct =>
          for (n <- topLevel(s.column); dt <- statType(n) if dt != DateType)
            yield (SumCol(n), LongType)
        case _ => None
      }
    if (reqs.exists(_.isEmpty)) return None

    // fold footers; bail if any file lacks exact stats for a requested column
    val perFile = fileSet.files.map { f =>
      val t = f.tail
      def statsOf(n: String) = t.columnIdOf(n).flatMap(t.footer.statistics.lift)
      val hasVals = reqs.map(_.get._1).map {
        case CountCol(n) => statsOf(n).exists(_.numValues > 0)
        case MinMax(n, _, _) => statsOf(n).exists(_.numValues > 0)
        case SumCol(n) => statsOf(n).exists(_.numValues > 0)
        case CountAll => t.footer.numberOfRows > 0
      }
      val vals = reqs.map(_.get._1).map {
        case CountAll => Some(t.footer.numberOfRows)
        case CountCol(n) => statsOf(n).map(_.numValues)
        case MinMax(n, dt, isMin) =>
          statsOf(n).flatMap { s =>
            if (s.numValues == 0) None // all-null file: no bound to offer
            else dt match {
              case DateType => s.dateStats.map(d => (if (isMin) d._1 else d._2).toLong)
              case _ => s.intStats.map(i => if (isMin) i.min else i.max)
            }
          }
        case SumCol(n) =>
          statsOf(n).flatMap { s =>
            if (s.numValues == 0) Some(0L) // all-null file adds nothing
            else s.intStats.flatMap(_.sum) // None = overflow → bail
          }
      }
      (vals, hasVals)
    }

    val out = new Array[Long](reqs.length)
    reqs.map(_.get._1).zipWithIndex.foreach { case (req, i) =>
      req match {
        case CountAll | _: CountCol =>
          val vs = perFile.map(_._1(i))
          if (vs.exists(_.isEmpty)) return None
          out(i) = vs.map(_.get).sum
        case MinMax(_, _, isMin) =>
          // an all-null FILE contributes no bound and is fine to skip (nulls
          // never win min/max); a column null in EVERY file would need a
          // NULL result — leave that case to the normal scan
          val vs = perFile.flatMap(_._1(i))
          if (vs.isEmpty) return None
          out(i) = if (isMin) vs.min else vs.max
        case SumCol(_) =>
          val vs = perFile.map(_._1(i))
          if (vs.exists(_.isEmpty)) return None // overflow somewhere: real scan
          // SUM over zero non-null values is NULL in SQL — normal scan
          if (!perFile.exists(_._2(i))) return None
          var acc = 0L
          vs.flatten.foreach { v =>
            val next = acc + v
            // overflow across files also bails (Spark would wrap or throw)
            if (((acc ^ next) & (v ^ next)) < 0) return None
            acc = next
          }
          out(i) = acc
      }
    }
    val schema = StructType(reqs.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", r.get._2, nullable = false)
    })
    Some((schema, out))
  }

  /** Accept what the stats/bloom pruner understands; EVERYTHING stays a
    * residual (return all) because stats pruning only skips impossible
    * units, it does not filter rows.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.flatMap(f => MothFilters.toPreds(fullSchema, f).map(_ => f))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggPush match {
    case Some((schema, values)) => new MothAggScan(path, schema, values)
    case None =>
      new MothScan(path, fileSet, required,
        StatsPredicate(pushed.flatMap(f => MothFilters.toPreds(fullSchema, f)).toSeq),
        maxPartitionBytes, streamOpts, readerOpts,
        limit = if (pushed.isEmpty) limit else None,
        topN = if (pushed.isEmpty) topN else None)
  }
}

/** Scan for a completely-pushed aggregate: one partition, one exact row,
  * values already folded from file footers — zero data bytes read.
  */
class MothAggScan(path: String, aggSchema: StructType, values: Array[Long])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"MothAggScan(path=$path, aggs=${aggSchema.fieldNames.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MothAggPartition(aggSchema, values))
  override def createReaderFactory(): PartitionReaderFactory = MothAggReaderFactory
}

case class MothAggPartition(schema: StructType, values: Array[Long]) extends InputPartition

object MothAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MothAggPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = {
        val vals: Array[Any] = p.schema.fields.zip(p.values).map {
          case (f, v) => f.dataType match {
            case LongType => v
            case IntegerType | DateType => v.toInt
            case ShortType => v.toShort
            case ByteType => v.toByte
            case dt => throw new IllegalStateException(s"unexpected agg type $dt")
          }
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
  }
}

/** Spark Filter → engine ColPredicate (conservative subset). */
object MothFilters {
  import graft.core.file.ColPredicate

  /** Largest `isin` value list converted to an Or-of-Eq pruning predicate
    * (bloom-tested per value). Larger lists up to [[MaxInListSorted]] use
    * the sorted binary-search membership predicate instead.
    */
  val MaxInListPushdown = 256

  /** Largest `isin`/DPP value list that still prunes (as a sorted-membership
    * predicate); beyond this even holding the sorted copy per task is a
    * planning-memory concern, so pruning is skipped entirely.
    */
  val MaxInListSorted = 65536

  /** Types whose predicates can prune against file/stripe/group stats —
    * the columns worth advertising for runtime (DPP) filtering.
    */
  def statsEligible(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType | TimestampNTZType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  private def isIntFamily(schema: StructType, col: String): Boolean =
    schema.find(_.name == col).exists(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  private def isString(schema: StructType, col: String): Boolean =
    schema.find(_.name == col).exists(_.dataType == StringType)

  private def isTimestamp(schema: StructType, col: String): Boolean =
    schema.find(_.name == col).exists(f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType)

  private def isDate(schema: StructType, col: String): Boolean =
    schema.find(_.name == col).exists(_.dataType == DateType)

  private def isFloating(schema: StructType, col: String): Boolean =
    schema.find(_.name == col).exists(f =>
      f.dataType == org.apache.spark.sql.types.DoubleType ||
        f.dataType == org.apache.spark.sql.types.FloatType)

  private def isDecimal(schema: StructType, col: String): Boolean =
    schema.find(_.name == col).exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])

  private def longOf(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  /** Date filter value → epoch days (exact — dates ARE integers, so the
    * ±1-day trick gives exact exclusive bounds). Both the legacy
    * java.sql.Date and the java8 LocalDate surface forms are accepted.
    */
  private def daysOf(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Float values upcast exactly; double compare against double stats. */
  private def dblOf(v: Any): Option[Double] = v match {
    case d: java.lang.Double => Some(d.doubleValue())
    case f: java.lang.Float => Some(f.doubleValue())
    case _ => None
  }

  private def decOf(v: Any): Option[BigDecimal] = v match {
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: BigDecimal => Some(d)
    case _ => None
  }

  /** Timestamp filter value → epoch millis (the stats granularity).
    * Truncation toward -∞ keeps lower bounds conservative; upper bounds
    * add 1ms to stay conservative under sub-millisecond values.
    */
  private def millisOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case l: java.time.LocalDateTime =>
      Some(l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    case _ => None
  }

  def toPreds(schema: StructType, f: Filter): Seq[ColPredicate] = f match {
    case EqualTo(c, v) if isIntFamily(schema, c) =>
      longOf(v).map(LongEqPred(c, _)).toSeq
    case EqualTo(c, v: String) if isString(schema, c) =>
      Seq(StringEqPred(c, v))
    case GreaterThan(c, v) if isIntFamily(schema, c) =>
      longOf(v).map(x => LongRangePred(c, Some(x + 1), None)).toSeq
    case GreaterThanOrEqual(c, v) if isIntFamily(schema, c) =>
      longOf(v).map(x => LongRangePred(c, Some(x), None)).toSeq
    case LessThan(c, v) if isIntFamily(schema, c) =>
      longOf(v).map(x => LongRangePred(c, None, Some(x - 1))).toSeq
    case LessThanOrEqual(c, v) if isIntFamily(schema, c) =>
      longOf(v).map(x => LongRangePred(c, None, Some(x))).toSeq
    // timestamp ranges prune against per-group millis min/max stats
    case GreaterThan(c, v) if isTimestamp(schema, c) =>
      millisOf(v).map(x => LongRangePred(c, Some(x), None)).toSeq
    case GreaterThanOrEqual(c, v) if isTimestamp(schema, c) =>
      millisOf(v).map(x => LongRangePred(c, Some(x), None)).toSeq
    case LessThan(c, v) if isTimestamp(schema, c) =>
      millisOf(v).map(x => LongRangePred(c, None, Some(x + 1))).toSeq
    case LessThanOrEqual(c, v) if isTimestamp(schema, c) =>
      millisOf(v).map(x => LongRangePred(c, None, Some(x + 1))).toSeq
    case EqualTo(c, v) if isTimestamp(schema, c) =>
      millisOf(v).map(x => LongRangePred(c, Some(x), Some(x + 1))).toSeq
    // DATE predicates prune against exact per-group day min/max stats —
    // the most common pruning filter in time-partitioned pipeline data
    case EqualTo(c, v) if isDate(schema, c) =>
      daysOf(v).map(LongEqPred(c, _)).toSeq
    case GreaterThan(c, v) if isDate(schema, c) =>
      daysOf(v).map(x => LongRangePred(c, Some(x + 1), None)).toSeq
    case GreaterThanOrEqual(c, v) if isDate(schema, c) =>
      daysOf(v).map(x => LongRangePred(c, Some(x), None)).toSeq
    case LessThan(c, v) if isDate(schema, c) =>
      daysOf(v).map(x => LongRangePred(c, None, Some(x - 1))).toSeq
    case LessThanOrEqual(c, v) if isDate(schema, c) =>
      daysOf(v).map(x => LongRangePred(c, None, Some(x))).toSeq
    // DOUBLE/FLOAT ranges against double stats (inclusive-flagged bounds;
    // NaN-bearing groups carry no stats, see DoubleStatsBuilder)
    case EqualTo(c, v) if isFloating(schema, c) =>
      dblOf(v).map(x => DoubleRangePred(c, Some((x, true)), Some((x, true)))).toSeq
    case GreaterThan(c, v) if isFloating(schema, c) =>
      dblOf(v).map(x => DoubleRangePred(c, Some((x, false)), None)).toSeq
    case GreaterThanOrEqual(c, v) if isFloating(schema, c) =>
      dblOf(v).map(x => DoubleRangePred(c, Some((x, true)), None)).toSeq
    case LessThan(c, v) if isFloating(schema, c) =>
      dblOf(v).map(x => DoubleRangePred(c, None, Some((x, false)))).toSeq
    case LessThanOrEqual(c, v) if isFloating(schema, c) =>
      dblOf(v).map(x => DoubleRangePred(c, None, Some((x, true)))).toSeq
    // DECIMAL ranges against exact decimal stats
    case EqualTo(c, v) if isDecimal(schema, c) =>
      decOf(v).map(x => DecimalRangePred(c, Some((x, true)), Some((x, true)))).toSeq
    case GreaterThan(c, v) if isDecimal(schema, c) =>
      decOf(v).map(x => DecimalRangePred(c, Some((x, false)), None)).toSeq
    case GreaterThanOrEqual(c, v) if isDecimal(schema, c) =>
      decOf(v).map(x => DecimalRangePred(c, Some((x, true)), None)).toSeq
    case LessThan(c, v) if isDecimal(schema, c) =>
      decOf(v).map(x => DecimalRangePred(c, None, Some((x, false)))).toSeq
    case LessThanOrEqual(c, v) if isDecimal(schema, c) =>
      decOf(v).map(x => DecimalRangePred(c, None, Some((x, true)))).toSeq
    // string ranges: stats min/max are exact when present, so bounds prune
    case GreaterThan(c, v: String) if isString(schema, c) =>
      Seq(StringRangePred(c, Some((v, false)), None))
    case GreaterThanOrEqual(c, v: String) if isString(schema, c) =>
      Seq(StringRangePred(c, Some((v, true)), None))
    case LessThan(c, v: String) if isString(schema, c) =>
      Seq(StringRangePred(c, None, Some((v, false))))
    case LessThanOrEqual(c, v: String) if isString(schema, c) =>
      Seq(StringRangePred(c, None, Some((v, true))))
    // IN → bloom-tested Eq disjunction (the most common pruning-relevant
    // filter in pipeline code); nulls in the value list never match a row,
    // so dropping them keeps the disjunction conservative. CAPPED: each
    // branch is evaluated per file/stripe/row-group during planning, so an
    // unbounded isin (100k ids from a collected dim table) would turn
    // planning quadratic. Beyond the cap, int-family/date/string lists —
    // exactly the runtime (DPP) key sets that matter at 100 TB — convert to
    // ONE sorted-membership predicate evaluated by binary search per unit
    // (O(log k)); other types simply don't prune.
    case In(c, vs) if vs.length > MaxInListPushdown && vs.length <= MaxInListSorted =>
      val nn = vs.filter(_ != null)
      if (isIntFamily(schema, c)) {
        val longs = nn.flatMap(longOf)
        if (longs.length == nn.length)
          Seq(LongInPred(c, longs.sorted.distinct.toArray)) else Nil
      } else if (isDate(schema, c)) {
        val days = nn.flatMap(daysOf)
        if (days.length == nn.length)
          Seq(LongInPred(c, days.sorted.distinct.toArray)) else Nil
      } else if (isString(schema, c)) {
        val strs = nn.collect { case s: String => s }
        if (strs.length == nn.length)
          Seq(StringInPred(c, strs.distinct.map(_.getBytes("UTF-8")).sortWith(
            graft.core.stats.ColStats.compareBytes(_, _) < 0).toArray))
        else Nil
      } else Nil
    case In(c, vs) if vs.length > MaxInListSorted => Nil
    case In(c, vs) =>
      val branches = vs.filter(_ != null).map(v => toPreds(schema, EqualTo(c, v)))
      if (branches.isEmpty || branches.exists(_.isEmpty)) Nil
      else Seq(OrPred(branches.toSeq.map(andOf)))
    case IsNull(c) => Seq(IsNullPred(c))
    case IsNotNull(c) => Seq(IsNotNullPred(c))
    case And(l, r) => toPreds(schema, l) ++ toPreds(schema, r)
    // OR prunes only when BOTH branches convert: an unconstrainable branch
    // could match anywhere
    case Or(l, r) =>
      val (pl, pr) = (toPreds(schema, l), toPreds(schema, r))
      if (pl.isEmpty || pr.isEmpty) Nil
      else Seq(OrPred(Seq(andOf(pl), andOf(pr))))
    case _ => Nil
  }

  private def andOf(ps: Seq[ColPredicate]): ColPredicate =
    if (ps.size == 1) ps.head else AndPred(ps)
}

class MothScan(path: String, fileSet: MothFileSet, required: StructType,
    predicate: StatsPredicate,
    maxPartitionBytes: Long = 128L << 20,
    streamOpts: MothStreamOpts = MothStreamOpts(),
    readerOpts: graft.core.file.ReaderOpts = graft.core.file.ReaderOpts(),
    limit: Option[Int] = None, topN: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportOrdering
    with SupportsReportPartitioning {

  override def readSchema(): StructType = required

  /** Bucket layout usable for THIS scan: the verified table layout, and
    * every bucket column survives projection (Catalyst drops a reported
    * partitioning whose references left the output).
    */
  private lazy val bucketing: Option[MothTable.BucketLayout] =
    fileSet.bucketLayout.filter(_.cols.forall(c => required.fieldNames.contains(c)))

  /** Storage-partitioned joins: the scan reports its files' VERIFIED
    * bucket layout as a KeyGroupedPartitioning over `bucket(n, cols)`.
    * With spark.sql.sources.v2.bucketing.enabled, two moth tables
    * co-bucketed on their join keys then sort-merge/hash join with NO
    * shuffle on either side — at 100 TB the single largest shuffle
    * elision available to a fact⋈fact join. The transform resolves
    * through [[MothCatalog]]'s `bucket` function, so this fires for
    * catalog-loaded tables (path reads have no function catalog and
    * fall back to shuffles, correct either way).
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketing match {
      case Some(bl) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            bl.count, bl.cols: _*)),
          bl.distinctIds)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Split constructor: bucket-tagged tables emit key-carrying splits so
    * Spark can group them per bucket. The layout and the planned files
    * come from the same file set, so every planned file has its id.
    */
  private def mkSplit(f: String, s: Long, e: Long): InputPartition =
    bucketing match {
      case Some(bl) => MothBucketedPartition(f, s, e, bl.idOf(f))
      case None => MothInputPartition(f, s, e)
    }

  /** Per-partition ordering from the files' verified footer sort tags.
    * Every split — whole file or stripe range — is a contiguous prefix/run
    * of a sorted file, so the intra-file order IS the partition order.
    * Reported only when EVERY file carries the identical tag, projected to
    * the longest prefix of sort columns present in the read schema. Spark
    * then elides per-partition sorts (sortWithinPartitions, SMJ sides)
    * over data the encode pipeline already ordered.
    */
  private lazy val reportedOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    fileSet.sortTag match {
      case Some(cols) =>
        cols.takeWhile(c => required.fieldNames.contains(c))
          .map(c => Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
          .toArray
      case None => Array.empty
    }
  }

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = reportedOrdering
  override def toBatch: Batch = this
  override def description(): String =
    s"MothScan(path=$path, cols=${required.fieldNames.mkString(",")}, " +
      s"preds=${predicate.preds.size})"

  /** Runtime (DPP-style) filtering: at 100 TB the dominant pruning signal
    * is often the JOIN KEY SET from a broadcast dimension table, not a
    * static predicate. Spark hands the collected key set here as an `In`
    * filter after the broadcast materializes; it folds into the same
    * stats/bloom predicate tree used for planning-time file pruning, so
    * moth files whose footers refute the key set never become tasks, and
    * surviving tasks still prune stripes/row-groups with it. The `In` cap
    * (MothFilters.MaxInListPushdown) bounds planning cost for huge key sets.
    */
  @volatile private var runtimePreds: Seq[graft.core.file.ColPredicate] = Nil
  private def effectivePredicate: StatsPredicate =
    if (runtimePreds.isEmpty) predicate
    else StatsPredicate(predicate.preds ++ runtimePreds)

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.collect {
      case f if !MothMeta.names(f.name) && MothFilters.statsEligible(f.dataType) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit =
    runtimePreds = filters.toSeq.flatMap(f => MothFilters.toPreds(required, f))

  private def stripeLen(s: graft.core.file.Meta.StripeInfo): Long =
    s.indexLength + s.dataLength + s.footerLength

  /** One split per leading stripe of `f`, in file order, until the
    * stripes' footer row counts cover n (a stripeless file is one whole
    * split); also returns the rows covered.
    */
  private def leadingSplits(f: MothFile, n: Long): (Seq[InputPartition], Long) = {
    val stripes = f.tail.footer.stripes
    if (stripes.isEmpty) (Seq(mkSplit(f.path, 0L, Long.MaxValue)), f.tail.footer.numberOfRows)
    else {
      val taken = stripes.zip(stripes.scanLeft(0L)(_ + _.numberOfRows))
        .takeWhile(_._2 < n).map(_._1)
      (taken.map(s => mkSplit(f.path, s.offset, s.offset + stripeLen(s))),
        taken.map(_.numberOfRows).sum)
    }
  }

  /** Limit probes: leading stripes across files, in file order, until they
    * cover n rows — a `limit(10)` on a 100k-file table launches one task
    * over one stripe instead of a full wave. Only valid with no predicate
    * (a filter makes row counts non-authoritative; the builder never
    * pushes a limit alongside filters, and a runtime filter arriving later
    * disables the capped plan too).
    */
  private def planLimited(n: Int): Array[InputPartition] = {
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    var acc = 0L
    val files = fileSet.files.iterator
    while (acc < n && files.hasNext) {
      val (splits, rows) = leadingSplits(files.next(), n - acc)
      out ++= splits
      acc += rows
    }
    out.toArray
  }

  /** One partition per ~128MB of stripes: large files split by stripe
    * ranges (a stripe belongs to the split owning its first byte —
    * MothRecordReader.go splitContainsStripe), small files stay whole.
    * At 100TB this is what fans a few thousand files out to every core.
    *
    * Top-N over the verified sort order plans each file's FIRST stripes
    * covering n rows (files are sorted on the requested keys, so those
    * stripes hold the file's top-n candidates); Spark's final sort+limit
    * merges them. Limit probes plan [[planLimited]].
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val pred = effectivePredicate
    (topN, limit) match {
      case (Some(n), _) if pred.preds.isEmpty =>
        fileSet.files.flatMap(leadingSplits(_, n)._1).toArray
      case (_, Some(n)) if pred.preds.isEmpty => planLimited(n)
      case _ => fileSet.files.flatMap(f => stripeGroupSplits(f, pred)).toArray
    }
  }

  private def stripeGroupSplits(f: MothFile, pred: StatsPredicate): Seq[InputPartition] = {
    val stripes = f.tail.footer.stripes
    // file-level pruning at PLANNING time: a file whose footer stats refute
    // the predicate never becomes a task (at 100k files this is the
    // difference between launching and not launching the tasks)
    if (!f.tail.mayMatch(pred)) Nil
    else if (stripes.isEmpty) Seq(mkSplit(f.path, 0L, Long.MaxValue))
    else {
      val groups = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var start = stripes.head.offset
      var acc = 0L
      var end = start
      stripes.foreach { s =>
        val len = stripeLen(s)
        if (acc > 0 && acc + len > maxPartitionBytes) {
          groups += ((start, end))
          start = s.offset
          acc = 0
        }
        acc += len
        end = s.offset + len
      }
      groups += ((start, Long.MaxValue)) // last split owns the tail
      groups.map { case (s, e) => mkSplit(f.path, s, e) }.toSeq
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MothReaderFactory(required, effectivePredicate, readerOpts)

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new MothBytesReadMetric)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MothMicroBatchStream(path, required, predicate, streamOpts,
      checkpointLocation, readerOpts = readerOpts)

  /** Footer-derived stats — lets Catalyst see table size without a scan
    * (broadcast-join thresholds at 100TB depend on this).
    */
  override def estimateStatistics(): Statistics = {
    val files = fileSet.files
    val (r, b) = (files.map(_.tail.footer.numberOfRows).sum,
      files.map(_.tail.footer.contentLength).sum)
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(b)
      override def numRows() = java.util.OptionalLong.of(r)
    }
  }
}

/** A split of a moth file: whole file or a [start,end) stripe byte range. */
sealed trait MothSplit extends InputPartition {
  def file: String
  def start: Long
  def end: Long
}

case class MothInputPartition(file: String, start: Long, end: Long)
    extends MothSplit

/** Split of a bucket-tagged file: carries the bucket id as its partition
  * key so Spark groups co-bucket splits into one task per bucket
  * (KeyGroupedPartitioning) — the storage-partitioned join unit.
  */
case class MothBucketedPartition(file: String, start: Long, end: Long, bucketId: Int)
    extends MothSplit with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
}

case class MothReaderFactory(required: StructType, predicate: StatsPredicate,
    readerOpts: graft.core.file.ReaderOpts = graft.core.file.ReaderOpts())
    extends PartitionReaderFactory {
  // vectorized scan only: hand Spark whole ColumnarBatch views over decoded
  // ColVec batches; Catalyst's codegen'd ColumnarToRow materializes rows
  // only where the plan needs them (parquet-reader style). Every partition
  // is columnar, so Spark never asks for a row reader.
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "moth scans are columnar-only: use createColumnarReader")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    HadoopConfSync.ensure()
    val p = partition.asInstanceOf[MothSplit]
    new MothColumnarPartitionReader(p, required, predicate, readerOpts)
  }
}

class MothColumnarPartitionReader(part: MothSplit, required: StructType,
    predicate: StatsPredicate,
    readerOpts: graft.core.file.ReaderOpts = graft.core.file.ReaderOpts())
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
  private val reader = MothFileReader.fromPathCached(part.file, readerOpts)
  // metadata columns (`_moth_file`/`_moth_pos`) are synthesized here, not
  // read: strip them from the moth projection, splice vectors back in at
  // the positions the required schema asks for
  private val dataSchema = StructType(required.fields.filterNot(f => MothMeta.names(f.name)))
  private val fileUtf8 =
    org.apache.spark.unsafe.types.UTF8String.fromString(part.file)
  private val vecs = reader.batchesProjectedWithPos(
    if (dataSchema.isEmpty)
      graft.core.columns.MothType.TStruct(Seq(reader.schema.fields.head))
    else SparkBridge.toMothStruct(dataSchema),
    predicate = predicate,
    split = Some((part.start, part.end)))

  private var current: ColumnarBatch = _
  override def next(): Boolean = {
    if (!vecs.hasNext) return false
    val (v, pos) = vecs.next()
    val cols: Array[ColumnVector] =
      if (required.isEmpty) Array.empty
      else {
        var di = 0
        required.fields.map { f =>
          f.name match {
            case MothMeta.FileCol => new MothConstStringVector(fileUtf8): ColumnVector
            case MothMeta.PosCol => new MothPosVector(pos): ColumnVector
            case _ =>
              val c = new MothVector(f.dataType, v.children(di)): ColumnVector
              di += 1
              c
          }
        }.toArray
      }
    current = new ColumnarBatch(cols, v.len)
    true
  }
  override def get(): ColumnarBatch = current
  override def close(): Unit = reader.close()
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(MothTaskMetric("mothBytesRead", reader.bytesRead))
}
