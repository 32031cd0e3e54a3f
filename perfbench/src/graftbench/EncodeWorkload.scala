package graftbench

import java.io.File
import org.apache.spark.sql.functions.col
import graft.spark.EncodeJob
import Workload._

/** `EncodeJob.run` over a staged transcripts parquet table, each op into a
  * fresh output directory (an existing manifest would make resume skip the
  * encode). Every op's output is read back and compared with the input.
  */
final class EncodeWorkload(ctx: Ctx) extends Workload(ctx) {
  import EncodeWorkload._
  val name = "encode_transcripts"

  private val spark = Data.session(ctx.cores, ctx.work)
  private val trace = new SparkTrace
  private var input: String = _
  private var expected: Data.Digest = _
  private var rawBytes = 0L
  private var lastOutput: Option[Data.Output] = None

  def setup(rep: Int): Unit = {
    val dir = s"${ctx.work}/setup-$rep"
    if (rep > 0) Data.deleteTree(new File(s"${ctx.work}/setup-${rep - 1}"))
    Data.stageTranscripts(spark, Turns, ctx.seed, s"$dir/input")
    val staged = spark.read.parquet(s"$dir/input").select(Data.TranscriptCols.map(col): _*)
    expected = Data.digest(staged)
    rawBytes = Data.rawBytes(staged)
    input = s"$dir/input"
  }

  def warmupOps: Int = 4
  def memoryOps: Int = 1

  def op(id: Long): OpRec = {
    val out = s"${ctx.work}/ops/op-$id"
    val start = Trace.now()
    val t0 = System.nanoTime()
    Trace.op("op.encode", id) { span =>
      SparkTrace.tag(spark.sparkContext, id, span) {
        EncodeJob.run(spark, Map("out" -> out, "input" -> input,
          "partitions" -> ctx.cores.toString, "seed" -> ctx.seed.toString))
      }
    }
    val wall = System.nanoTime() - t0
    val o = Data.readOutput(out)
    val error =
      if (o.rows != expected.rows) Some(s"manifests hold ${o.rows} rows, input ${expected.rows}")
      else Check.digest("read-back", expected,
        Data.digest(spark.read.format("moth").load(out).select(Data.TranscriptCols.map(col): _*)))
    lastOutput.foreach(p => Data.deleteTree(new File(p.dir)))
    lastOutput = Some(o)
    OpRec(id, "encode", start, wall, error, Map("file" -> o.fileBytes.toDouble))
  }

  def endToEnd(ops: Seq[OpRec]): Map[String, Double] = Map(
    "throughput_mb_per_s" -> median(ops.map(o => rawBytes / 1e6 / (o.wallNs / 1e9))),
    "latency_p50_ms" -> percentile(ops.map(_.wallNs / 1e6), 50),
    "latency_p90_ms" -> percentile(ops.map(_.wallNs / 1e6), 90),
    "compression_ratio" -> median(ops.map(o => rawBytes / o.v("file"))))

  def report(e2e: Map[String, Double], ops: Seq[OpRec]): Seq[(String, Double, String)] = Seq(
    ("encode_turns_per_s", e2e("throughput_mb_per_s") * 1e6 / rawBytes * expected.rows, "turns/s"))

  override def startTrace(): Unit = spark.sparkContext.addSparkListener(trace)

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    trace.spans().foreach(Trace.add)
    val perOp = ops.map(o => SparkLayers.encode(trace, o, expected.rows, ctx.cores))
    val sparkLayers = perOp.head.keys.map(k => k -> median(perOp.map(_(k)))).toMap
    val out = lastOutput.get
    val sample = Kernels.sample(
      spark.read.parquet(input).select(Data.TranscriptCols.map(col): _*), SampleRows)
    val files = out.paths.map(p => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    IdleLayers ++ sparkLayers ++
      fileLayers(out.files.size, out.stripes.map(_.flushReason)) ++
      encodingLayers(out.stripes.map(s => (s.encodings, stringColumns(sample.schema)))) ++
      Kernels.replay(Seq(sample), files)
  }

  def inputs: Seq[(String, Double)] =
    Seq("turns" -> expected.rows.toDouble, "raw_bytes" -> rawBytes.toDouble) ++
    lastOutput.toSeq.flatMap(o => Seq("raw_bytes_writer" -> o.rawBytes.toDouble,
      "files" -> o.files.size.toDouble,
      "stripes_per_file" -> o.stripes.size.toDouble / math.max(1, o.files.size)))

  def close(): Unit = spark.stop()
}

object EncodeWorkload {
  /** Requested turns; the generator's conversation lengths give ~1.17x. */
  val Turns = 70000L
  val SampleRows = 50000
}

/** Layer metrics of Spark ops, from the listener's job/stage/task records. */
object SparkLayers {
  import SparkTrace._

  /** The encode job runs as separate jobs: a footer read for the parquet
    * schema, the range-sampling job (reads the input, writes no shuffle),
    * the shuffle map stage (scans and shuffles the input) and the result
    * stage (sorts and encodes).
    */
  def encode(t: SparkTrace, op: OpRec, inputRows: Long, cores: Int): Map[String, Double] = {
    val stages = t.stagesOf(op.id)
    val tasks = t.tasksOf(op.id)
    def reads(s: StageRec) = t.tasksOfStage(s).exists(_.recordsRead > 0)
    def shuffles(s: StageRec) = t.tasksOfStage(s).exists(_.shuffleBytes > 0)
    val mapStages = stages.filter(shuffles)
    val sampleStages = stages.filter(s => reads(s) && !shuffles(s))
    val result = t.jobsOf(op.id).lastOption.flatMap(j => stages.filter(_.job == j).lastOption)
    Map(
      "spark.sample_s" -> sampleStages.map(_.seconds).sum,
      "spark.input_read_ratio" -> tasks.map(_.recordsRead).sum.toDouble / inputRows,
      "spark.map_stage_s" -> mapStages.map(_.seconds).sum,
      "spark.shuffle_write_s" -> tasks.map(_.shuffleWriteNs).sum / 1e9,
      "spark.shuffle_mb" -> tasks.map(_.shuffleBytes).sum / 1e6,
      "spark.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "spark.result_stage_s" -> result.fold(0.0)(_.seconds),
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.task_skew" -> Workload.skew(result.toSeq.flatMap(t.tasksOfStage).map(_.ms.toDouble)),
      "spark.cpu_util" -> tasks.map(_.cpuNs).sum.toDouble / (op.wallNs.toDouble * cores))
  }

  /** A DSv2 query op: its first stage reads the source. */
  def scanStage(t: SparkTrace, op: OpRec): Option[StageRec] = t.stagesOf(op.id).headOption

  /** Driver time before the op's first job starts: planning, listing, pruning. */
  def planMs(t: SparkTrace, op: OpRec): Double =
    t.jobsOf(op.id).headOption.fold(op.wallNs / 1e6)(j => (j.start * 1000000L - op.start) / 1e6)
}
