package graftbench

import java.io.ByteArrayOutputStream
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import graft.core.columns.{ColVec, MothType}
import graft.core.compress.CompressionKind
import graft.core.file.{MothFileReader, MothFileWriter}
import graft.spark.{InternalBridge, SparkBridge, TranscriptGen}
import Workload._

/** The engine without Spark: set-up loads the TPC-H sf0.1 `lineitem` table
  * and a seeded transcripts slice into one ColVec per thread and table
  * (through `InternalBridge.VecBuilder`), then stops Spark. One op has every thread
  * encode its slices with `MothFileWriter` (LZ4) into memory and decode them
  * with `MothFileReader.fromBytes(..).batches()`; after the op, the check
  * decodes the same bytes again and compares them with the input value for
  * value.
  */
final class EngineWorkload(ctx: Ctx) extends Workload(ctx) {
  import EngineWorkload._
  val name = "engine_lz4"

  /** `raw(i)` is slice i's raw size by the benchmark's own rule ([[Data.RawSize]]). */
  private final case class Table(name: String, schema: StructType, moth: MothType.TStruct,
      slices: IndexedSeq[ColVec], raw: IndexedSeq[Long], sample: Kernels.Sample)

  private var spark = Data.session(ctx.cores, ctx.work)
  private var tables: Seq[Table] = Nil
  private lazy val pool = Executors.newFixedThreadPool(ctx.cores)
  private var lastFiles: Seq[Array[Byte]] = Nil
  private var lastOp: Option[OpRec] = None

  def setup(rep: Int): Unit = {
    tables = Nil // let the previous repetition's vecs go first
    tables = Seq(
      load("lineitem", Data.lineitem(spark, ctx.lineitem)),
      load("transcripts", TranscriptGen.transcripts(spark, ctx.cores * TurnsPerThread, ctx.seed)))
  }

  /** Collects `df` and splits it into one contiguous slice per thread. */
  private def load(name: String, df: DataFrame): Table = {
    val rows: Array[InternalRow] = df.queryExecution.toRdd.map(_.copy()).collect()
    val per = (rows.length + ctx.cores - 1) / ctx.cores
    val parts = rows.grouped(per).toIndexedSeq
    val slices = parts.map { part =>
      val b = new InternalBridge.VecBuilder(df.schema, part.length)
      part.foreach(b.add)
      b.build()
    }
    val size = new Data.RawSize(df.schema)
    Table(name, df.schema, SparkBridge.toMothStruct(df.schema), slices,
      parts.map(_.map(size.of).sum), Kernels.Sample(df.schema, rows.take(SampleRows)))
  }

  override def beforeOps(): Unit = { spark.stop(); spark = null }

  def warmupOps: Int = 4
  def memoryOps: Int = 1

  private final case class Written(t: Table, slice: Int, bytes: Array[Byte],
      stripes: Seq[graft.core.file.StripeMetrics], retained: Long) {
    def raw: Long = t.raw(slice)
  }

  /** Encodes then decodes one thread's slice of every table. */
  private def roundTrip(slice: Int, op: Long, parent: Long): (Map[String, Double], Seq[Written]) =
    Trace.span("engine.slice", op, parent) {
      val cpu0 = Threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      var enc, dec, write, close, open, decode = 0L
      val written = tables.map { t =>
        val vec = t.slices(slice)
        val a = System.nanoTime()
        val bos = new ByteArrayOutputStream(1 << 20)
        val w = new MothFileWriter(bos, t.moth, CompressionKind.LZ4)
        Trace.span("file.write")(w.write(vec))
        val b = System.nanoTime()
        val res = Trace.span("file.close")(w.close())
        val c = System.nanoTime()
        val bytes = bos.toByteArray
        val d = System.nanoTime()
        val rd = Trace.span("file.open")(MothFileReader.fromBytes(bytes))
        val e = System.nanoTime()
        // drained, not kept: a reader's consumer processes batches as they come
        Trace.span("file.decode")(rd.batches().foreach(_ => ()))
        val f = System.nanoTime()
        write += b - a; close += c - b; enc += c - a
        open += e - d; decode += f - e; dec += f - d
        Written(t, slice, bytes, res.stripes, w.peakRetainedBytes)
      }
      val wall = System.nanoTime() - t0
      (Map("wall" -> wall.toDouble, "enc" -> enc.toDouble, "dec" -> dec.toDouble,
        "write" -> write.toDouble, "close" -> close.toDouble, "open" -> open.toDouble,
        "decode" -> decode.toDouble, "opens" -> written.size.toDouble,
        "cpu" -> (Threads.getCurrentThreadCpuTime - cpu0).toDouble,
        "raw" -> written.map(_.raw).sum.toDouble,
        "bytes" -> written.map(_.bytes.length.toLong).sum.toDouble), written)
    }

  private def parallel[T](n: Int)(f: Int => T): Seq[T] =
    (0 until n).map(i => pool.submit(new Callable[T] { def call(): T = f(i) })).map(_.get)

  def op(id: Long): OpRec = {
    val start = Trace.now()
    val t0 = System.nanoTime()
    val results = Trace.op("op.roundtrip", id) { span =>
      parallel(ctx.cores)(i => roundTrip(i, id, span))
    }
    val wall = System.nanoTime() - t0
    val written = results.flatMap(_._2)
    // the check decodes the op's bytes again, comparing batch by batch
    val error = parallel(written.size) { i =>
      val w = written(i)
      Check.sameValues(w.t.schema, w.t.slices(w.slice), MothFileReader.fromBytes(w.bytes).batches())
        .map(e => s"${w.t.name} slice ${w.slice}: $e")
    }.flatten.headOption
    lastFiles = written.map(_.bytes)
    val flush = written.flatMap(_.stripes.map(_.flushReason))
    val rec = OpRec(id, "roundtrip", start, wall, error,
      Map("raw" -> written.map(_.raw).sum.toDouble,
        "raw_writer" -> written.flatMap(_.stripes.map(_.rawBytes)).sum.toDouble,
        "bytes" -> written.map(_.bytes.length.toLong).sum.toDouble,
        "files" -> written.size.toDouble,
        "retained" -> written.map(_.retained).max.toDouble) ++
        fileLayers(written.size, flush) ++
        encodingLayers(written.flatMap(w =>
          w.stripes.map(s => (s.encodings, stringColumns(w.t.schema))))),
      results.map(_._1))
    lastOp = Some(rec)
    rec
  }

  private def threadSum(o: OpRec, k: String): Double = o.parts.map(_(k)).sum

  def endToEnd(ops: Seq[OpRec]): Map[String, Double] = Map(
    "throughput_mb_per_s" -> median(ops.map(o => o.v("raw") / 1e6 / (o.wallNs / 1e9))),
    "latency_p50_ms" -> percentile(ops.flatMap(_.parts.map(_("wall") / 1e6)), 50),
    "latency_p90_ms" -> percentile(ops.flatMap(_.parts.map(_("wall") / 1e6)), 90),
    "compression_ratio" -> median(ops.map(o => o.v("raw") / o.v("bytes"))))

  def report(e2e: Map[String, Double], ops: Seq[OpRec]): Seq[(String, Double, String)] = Seq(
    ("engine_encode_mb_per_s",
      median(ops.map(o => o.parts.map(p => p("raw") / 1e6 / (p("enc") / 1e9)).sum)), "MB/s"),
    ("engine_decode_mb_per_s",
      median(ops.map(o => o.parts.map(p => p("raw") / 1e6 / (p("dec") / 1e9)).sum)), "MB/s"))

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val perOp = Seq("file.stripes_per_file", "file.flush_max_bytes", "file.flush_dictionary_full",
      "columns.dict_cols", "columns.direct_cols", "columns.fsst_cols", "columns.fsst_accept_frac")
    IdleLayers ++ perOp.map(k => k -> median(ops.map(_.v(k)))) ++ Map(
      "file.write_s" -> median(ops.map(threadSum(_, "write") / 1e9)),
      "file.close_s" -> median(ops.map(threadSum(_, "close") / 1e9)),
      "file.open_ms" -> median(ops.map(o => threadSum(o, "open") / threadSum(o, "opens") / 1e6)),
      "file.decode_s" -> median(ops.map(threadSum(_, "decode") / 1e9)),
      "file.retained_peak_mb" -> ops.map(_.v("retained")).max / 1e6,
      // the op's threads play the part of one Spark stage's tasks
      "spark.task_skew" -> median(ops.map(o => skew(o.parts.map(_("wall"))))),
      "spark.cpu_util" -> median(ops.map(o => threadSum(o, "cpu") / (o.wallNs.toDouble * ctx.cores)))) ++
      Kernels.replay(tables.map(_.sample), lastFiles)
  }

  def inputs: Seq[(String, Double)] = tables.flatMap { t =>
    Seq(s"${t.name}_rows" -> t.slices.map(_.len.toDouble).sum,
      s"${t.name}_slices" -> t.slices.size.toDouble)
  } ++ lastOp.toSeq.flatMap(o => Seq("raw_bytes" -> o.v("raw"),
    "raw_bytes_writer" -> o.v("raw_writer"), "files" -> o.v("files"),
    "stripes_per_file" -> o.v("file.stripes_per_file")))

  def close(): Unit = {
    pool.shutdownNow()
    if (spark != null) spark.stop()
  }
}

object EngineWorkload {
  val TurnsPerThread = 12000L
  val SampleRows = 20000
  private val Threads = java.lang.management.ManagementFactory.getThreadMXBean
}
