package graft.spark

import java.io.ByteArrayOutputStream
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import graft.core.columns.WriterOpts
import graft.core.compress.CompressionKind
import graft.core.file._
import graft.spark.SparkBridge._
import graft.spark.source.MothVector

/** Spark-facing operators of the engine. All encode/decode work happens
  * inside mapPartitions on executors (SURVEY.md §3.1 re-architecture):
  * Catalyst handles projection/partitioning upstream; one single-threaded
  * encoder instance per task.
  */
object MothSpark {
  /** Rows per encoded batch. Fixed: batch boundaries can move row-group
    * flush points, so changing it changes output bytes.
    */
  val BatchSize: Int = 1024

  /** Footer userMetadata key carrying a VERIFIED intra-file sort order
    * ("colA,colB"). The DSv2 scan reports it as `SupportsReportOrdering`
    * so downstream per-partition sorts (sort-merge join sides,
    * sortWithinPartitions) are elided instead of re-sorting data the
    * encode pipeline already ordered.
    */
  val SortedByKey = "moth.sorted.by"

  /** Key-column types the sort tag supports: fixed-width families compare
    * via their ColVec long/double slots; strings/binary compare as
    * unsigned bytes (Spark's own binary ordering). Wide decimals (>18
    * digits) are excluded — their varint bytes are not order-preserving.
    */
  def sortTagEligible(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType | FloatType |
           DoubleType | StringType | BinaryType => true
      case d: DecimalType => d.precision <= 18
      case _ => false
    }
  }

  /** Streaming verifier that batches arrive non-decreasing on the key
    * columns — ascending, NULLS FIRST (Spark's default asc ordering) —
    * across batch boundaries. O(rows·keys), no allocation except one
    * stashed key per batch boundary.
    */
  final class SortChecker(keyIdx: Array[Int]) {
    private var seen = false
    private var _ok = true
    def ok: Boolean = _ok
    private val pNull = new Array[Boolean](keyIdx.length)
    private val pLong = new Array[Long](keyIdx.length)
    private val pDouble = new Array[Double](keyIdx.length)
    private val pBytes = new Array[Array[Byte]](keyIdx.length)

    private def bytesAt(c: graft.core.columns.ColVec, row: Int): (Array[Byte], Int, Int) =
      if (c.packed != null) (c.packed, c.binOff(row), c.binLen(row))
      else (c.bins(row), 0, c.bins(row).length)

    /** key(a) compared to key(b) within one vec. */
    private def cmpRows(v: graft.core.columns.ColVec, a: Int, b: Int): Int = {
      var i = 0
      while (i < keyIdx.length) {
        val c = v.children(keyIdx(i))
        val (na, nb) = (c.isNull(a), c.isNull(b))
        val r =
          if (na && nb) 0
          else if (na) -1
          else if (nb) 1
          else if (c.longs != null) java.lang.Long.compare(c.longs(a), c.longs(b))
          else if (c.doubles != null) java.lang.Double.compare(c.doubles(a), c.doubles(b))
          else {
            val (ba, oa, la) = bytesAt(c, a)
            val (bb, ob, lb) = bytesAt(c, b)
            graft.core.stats.ColStats.compareSlices(ba, oa, la, bb, ob, lb)
          }
        if (r != 0) return r
        i += 1
      }
      0
    }

    /** stashed previous-batch key compared to key(row). */
    private def cmpPrev(v: graft.core.columns.ColVec, row: Int): Int = {
      var i = 0
      while (i < keyIdx.length) {
        val c = v.children(keyIdx(i))
        val cur = c.isNull(row)
        val r =
          if (pNull(i) && cur) 0
          else if (pNull(i)) -1
          else if (cur) 1
          else if (c.longs != null) java.lang.Long.compare(pLong(i), c.longs(row))
          else if (c.doubles != null) java.lang.Double.compare(pDouble(i), c.doubles(row))
          else {
            val (bb, ob, lb) = bytesAt(c, row)
            graft.core.stats.ColStats.compareSlices(pBytes(i), 0, pBytes(i).length, bb, ob, lb)
          }
        if (r != 0) return r
        i += 1
      }
      0
    }

    def update(v: graft.core.columns.ColVec): Unit = {
      if (!_ok || v.len == 0) return
      if (seen && cmpPrev(v, 0) > 0) { _ok = false; return }
      var row = 1
      while (row < v.len) {
        if (cmpRows(v, row - 1, row) > 0) { _ok = false; return }
        row += 1
      }
      val last = v.len - 1
      var i = 0
      while (i < keyIdx.length) {
        val c = v.children(keyIdx(i))
        pNull(i) = c.isNull(last)
        if (!pNull(i)) {
          if (c.longs != null) pLong(i) = c.longs(last)
          else if (c.doubles != null) pDouble(i) = c.doubles(last)
          else {
            val (b, o, l) = bytesAt(c, last)
            pBytes(i) = java.util.Arrays.copyOfRange(b, o, o + l)
          }
        }
        i += 1
      }
      seen = true
    }
  }

  /** One task's InternalRows as one moth file on `out` — the only
    * row-to-file path (writeFiles, roundtrip, the DSv2 writer). Rows are
    * batched [[BatchSize]] at a time through [[InternalBridge.VecBuilder]].
    * With `keyCols`, each built batch updates the first/last key bounds and,
    * when every key is [[sortTagEligible]], a [[SortChecker]]; close() tags
    * the footer with [[SortedByKey]] if the rows arrived sorted. The caller
    * owns `out`: close() flushes it but does not close it.
    */
  final class TaskEncoder(schema: StructType, out: java.io.OutputStream,
      compression: CompressionKind.Value, opts: WriterOpts, keyCols: Seq[String] = Nil) {
    /** The file writer, for metrics and extra footer tags before close(). */
    val writer = new MothFileWriter(out, toMothStruct(schema), compression, opts)
    private val batch = new InternalBridge.VecBuilder(schema, BatchSize)
    private val keyIdx = keyCols.map(schema.fieldIndex).toArray
    private val checker =
      if (keyIdx.isEmpty || !keyIdx.forall(i => sortTagEligible(schema(i).dataType))) null
      else new SortChecker(keyIdx)
    /** Key columns of the first and last row, as the manifest's "a|b". */
    var firstKey: Option[String] = None
    var lastKey: Option[String] = None

    def add(row: InternalRow): Unit = {
      batch.add(row)
      if (batch.count == BatchSize) flush()
    }

    private def flush(): Unit = {
      val v = batch.build()
      if (keyIdx.nonEmpty) {
        if (firstKey.isEmpty) firstKey = Some(keyOf(keyIdx, v, 0))
        lastKey = Some(keyOf(keyIdx, v, v.len - 1))
      }
      if (checker != null) checker.update(v)
      writer.write(v)
    }

    def close(): FileWriteResult = {
      if (batch.count > 0) flush()
      if (checker != null && checker.ok) writer.addUserMetadata(SortedByKey, keyCols.mkString(","))
      writer.close()
    }

    /** add() every row, then close(). */
    def encode(rows: Iterator[InternalRow]): FileWriteResult = {
      while (rows.hasNext) add(rows.next())
      close()
    }
  }

  /** Render key columns of one batch row as the manifest's "a|b" string. */
  private def keyOf(keyIdx: Array[Int], v: graft.core.columns.ColVec, row: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < keyIdx.length) {
      if (i > 0) sb.append('|')
      val c = v.children(keyIdx(i))
      if (c.isNull(row)) sb.append("null")
      else if (c.packed != null)
        sb.append(new String(c.packed, c.binOff(row), c.binLen(row),
          java.nio.charset.StandardCharsets.UTF_8))
      else if (c.bins != null)
        sb.append(new String(c.bins(row), java.nio.charset.StandardCharsets.UTF_8))
      else if (c.longs != null) sb.append(c.longs(row))
      else if (c.doubles != null) sb.append(c.doubles(row))
      else sb.append('?')
      i += 1
    }
    sb.toString
  }

  /** Distributed encode→decode identity operator: every partition round-trips
    * through the full engine in memory. The correctness oracle for the
    * driver's DuckDB compare (identity SQL).
    *
    * Decoded batches reach Spark as the DSv2 scan's [[MothVector]] rows, fed
    * to a private[sql] internalCreateDataFrame, so no external
    * String/Timestamp/Row object is built per cell.
    */
  def roundtrip(df: DataFrame,
      compression: CompressionKind.Value = CompressionKind.ZLIB,
      opts: WriterOpts = WriterOpts()): DataFrame = {
    val schema = df.schema
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val bos = new ByteArrayOutputStream()
        new TaskEncoder(schema, bos, compression, opts).encode(rows)
        MothVector.rows(schema, MothFileReader.fromBytes(bos.toByteArray).batches())
      }
    }
    org.apache.spark.sql.GraftBridge.internalDf(df.sparkSession, rdd, schema)
  }

  /** Writes one MOTH file per partition + a manifest JSON carrying lineage
    * (snapshot id, key bounds, stripe offsets/codecs, metrics). Partitions
    * whose manifest already exists and matches the snapshot are skipped —
    * the north rule's resumable checkpointing. A failing task removes its
    * tmp file before rethrowing.
    * @return per-partition manifests (read back from disk).
    */
  def writeFiles(df: DataFrame, outDir: String, snapshotId: String,
      compression: CompressionKind.Value = CompressionKind.ZLIB,
      opts: WriterOpts = WriterOpts(),
      firstKeyCols: Seq[String] = Nil): Seq[Manifest] = {
    Sources.mkdirs(outDir)
    val schema = df.schema
    firstKeyCols.foreach(schema.fieldIndex) // fail on the driver, not per task
    val counts = df.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val mPath = Manifest.path(outDir, pid)
      val existing = Manifest.readIfValid(mPath, snapshotId)
      if (existing.isDefined) {
        // resume: drain without encoding (upstream compute is unavoidable;
        // encode + IO are skipped)
        while (rows.hasNext) rows.next()
        Iterator.single(pid.toLong)
      } else if (!rows.hasNext) {
        Manifest(pid, snapshotId, 0, 0, 0, null, Nil, None, None).write(mPath)
        Iterator.single(pid.toLong)
      } else {
        val file = f"part-$pid%05d.moth"
        // tmp name carries the task ATTEMPT id: concurrent speculative or
        // zombie attempts for the same partition then write distinct files
        // and the atomic rename decides the winner (no byte interleaving)
        val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
        val tmp = s"$outDir/$file.$attempt.tmp"
        val fos = new java.io.BufferedOutputStream(Sources.createOutput(tmp), 1 << 16)
        try {
          val enc = new TaskEncoder(schema, fos, compression, opts, firstKeyCols)
          val res = enc.encode(rows)
          fos.close()
          Sources.atomicRename(tmp, s"$outDir/$file")
          Manifest(pid, snapshotId, res.rows, res.stripes.map(_.rawBytes).sum, res.bytes,
            file, res.stripes, enc.firstKey, enc.lastKey).write(mPath)
        } catch {
          case t: Throwable =>
            try fos.close() catch { case e: Exception => t.addSuppressed(e) }
            try Sources.delete(tmp) catch { case e: Exception => t.addSuppressed(e) }
            throw t
        }
        Iterator.single(pid.toLong)
      }
    }.collect()
    counts.sorted.toSeq.map(pid => Manifest.read(Manifest.path(outDir, pid.toInt)))
  }

  /** Writes a HASH-BUCKETED moth table: rows are placed so that partition k
    * holds exactly bucket k (`bucket(n, cols) = pmod(xxhash64(cols), n)`,
    * identity-remapped through precomputed murmur3 probe values so Spark's
    * HashPartitioning puts bucket k literally on partition k), each task
    * verify-and-tags its footer with (cols, n, id), and the DSv2 scan then
    * reports KeyGroupedPartitioning over `bucket(n, cols)` — two tables
    * written this way with the same (cols-types, n) JOIN WITHOUT A SHUFFLE
    * on either side when loaded through [[graft.spark.source.MothCatalog]]
    * with spark.sql.sources.v2.bucketing.enabled. Placement is fully
    * content-deterministic (byte-identical resume, like EncodeJob hash
    * mode).
    */
  def writeBucketed(df: DataFrame, dir: String, cols: Seq[String], buckets: Int,
      codec: CompressionKind.Value = CompressionKind.ZLIB,
      sortWithin: Seq[String] = Nil, saveMode: String = "overwrite"): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && buckets > 0)
    val remap = EncodeJob.identityProbeValues(buckets)
    val bucketExpr =
      pmod(xxhash64(cols.map(col): _*), lit(buckets)).cast("int")
    var placed = df
      .withColumn("__rp", element_at(lit(remap), bucketExpr + 1))
      .repartition(buckets, col("__rp"))
      .drop("__rp")
    if (sortWithin.nonEmpty)
      placed = placed.sortWithinPartitions(sortWithin.map(col): _*)
    val w = placed.write.format("moth").mode(saveMode)
      .option("codec", codec.toString)
      .option("bucketBy", s"$buckets;${cols.mkString(",")}")
    (if (sortWithin.nonEmpty) w.option("sortedBy", sortWithin.mkString(","))
     else w).save(dir)
  }

  /** Reads a directory of MOTH files back as a DataFrame. Delegates to the
    * DataSourceV2 scan so projection pushdown, stats/bloom pruning,
    * stripe-range splits and reader lifecycle (close-on-task-end) all apply
    * — the RDD-based predecessor leaked file handles and read every column.
    */
  def readFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("moth").load(dir)
}

/** Per-partition lineage record (north rule: input snapshot id, stripe
  * offsets/codec choices, metrics). Written as hand-rolled JSON, read back
  * with Jackson (on Spark's classpath).
  */
final case class Manifest(partition: Int, snapshotId: String, rows: Long,
    rawBytes: Long, fileBytes: Long, file: String,
    stripes: Seq[StripeMetrics], firstKey: Option[String], lastKey: Option[String]) {

  def write(path: String): Unit = {
    val tmp = path + ".tmp"
    val out = Sources.createOutput(tmp)
    try out.write(Manifest.toJson(this).getBytes("UTF-8")) finally out.close()
    Sources.atomicRename(tmp, path)
  }
}

object Manifest {
  def path(dir: String, pid: Int): String = f"$dir/manifest-$pid%05d.json"

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def toJson(m: Manifest): String = {
    val stripes = m.stripes.map { s =>
      s"""{"rows":${s.rows},"rawBytes":${s.rawBytes},"compressedBytes":${s.compressedBytes},""" +
        s""""flushReason":${q(s.flushReason)},"encodings":{${
          s.encodings.toSeq.sortBy(_._1).map { case (c, e) => s"${q(c.toString)}:${q(e)}" }.mkString(",")
        }}}"""
    }.mkString("[", ",", "]")
    s"""{"partition":${m.partition},"snapshotId":${q(m.snapshotId)},"rows":${m.rows},""" +
      s""""rawBytes":${m.rawBytes},"fileBytes":${m.fileBytes},""" +
      s""""file":${if (m.file == null) "null" else q(m.file)},""" +
      s""""firstKey":${m.firstKey.map(q).getOrElse("null")},""" +
      s""""lastKey":${m.lastKey.map(q).getOrElse("null")},""" +
      s""""complete":true,"stripes":$stripes}"""
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Reads back the scalar fields [[toJson]] wrote (not the stripes). */
  def read(path: String): Manifest = {
    val j = mapper.readTree(Sources.readAllBytes(path))
    def longOf(k: String): Long = {
      val n = j.get(k)
      require(n != null && n.isIntegralNumber, s"missing $k in $path")
      n.asLong
    }
    def strOf(k: String): Option[String] =
      Option(j.get(k)).filter(_.isTextual).map(_.asText)
    Manifest(longOf("partition").toInt, strOf("snapshotId").getOrElse(""),
      longOf("rows"), longOf("rawBytes"), longOf("fileBytes"),
      strOf("file").orNull, Nil, strOf("firstKey"), strOf("lastKey"))
  }

  def readIfValid(path: String, snapshotId: String): Option[Manifest] = {
    if (!Sources.exists(path)) None
    else {
      try {
        val m = read(path)
        if (m.snapshotId == snapshotId) Some(m) else None
      } catch { case _: Exception => None }
    }
  }
}
