package graftbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, lit}
import graft.spark.EncodeJob
import graft.spark.source.MothSplit
import Workload._

/** Reads through the DSv2 source over ZLIB files that set-up writes once
  * with EncodeJob. A fixed sequence runs one full scan, then
  * [[ReadWorkload.LookupsPerScan]] point lookups from a seeded key list, and
  * repeats. A scan and a lookup are both the digest query (row count and
  * row-hash sum over all six columns), compared with set-up's digests of
  * the staged input.
  */
final class ReadWorkload(ctx: Ctx) extends Workload(ctx) {
  import ReadWorkload._
  val name = "read_transcripts"

  private val spark = Data.session(ctx.cores, ctx.work)
  private val trace = new SparkTrace
  private var input: String = _
  private var data: Data.Output = _
  private var expected: Data.Digest = _
  private var rawBytes = 0L
  private var keys: IndexedSeq[String] = _
  private var expectedByKey: Map[String, Data.Digest] = _
  private var lookups = 0L

  def setup(rep: Int): Unit = {
    val dir = s"${ctx.work}/setup-$rep"
    if (rep > 0) Data.deleteTree(new File(s"${ctx.work}/setup-${rep - 1}"))
    input = s"$dir/input"
    Data.stageTranscripts(spark, EncodeWorkload.Turns, ctx.seed, input)
    EncodeJob.run(spark, Map("out" -> s"$dir/data", "input" -> input,
      "partitions" -> (FilesPerCore * ctx.cores).toString, "seed" -> ctx.seed.toString))
    data = Data.readOutput(s"$dir/data")
    val staged = spark.read.parquet(input).select(Data.TranscriptCols.map(col): _*)
    expected = Data.digest(staged)
    rawBytes = Data.rawBytes(staged)
    keys = lookupKeys(data, ctx.seed)
    expectedByKey = Data.digestByKey(staged, "conv_id", keys)
  }

  def warmupOps: Int = 5 * cycle
  def memoryOps: Int = cycle

  override def cycle: Int = LookupsPerScan + 1

  def op(id: Long): OpRec =
    if ((id - 1) % (LookupsPerScan + 1) == 0) scan(id)
    else { lookups += 1; lookup(id, keys(((lookups - 1) % keys.size).toInt)) }

  private def table: DataFrame =
    spark.read.format("moth").load(data.dir).select(Data.TranscriptCols.map(col): _*)

  private def timed(id: Long, kind: String, query: => DataFrame)
      (check: Data.Digest => Option[String]): OpRec = {
    val start = Trace.now()
    val t0 = System.nanoTime()
    val (q, result) = Trace.op(s"op.$kind", id) { span =>
      SparkTrace.tag(spark.sparkContext, id, span) {
        val q = query
        (q, Data.digestOfResult(q))
      }
    }
    val wall = System.nanoTime() - t0
    val layer = if (!Trace.enabled) Map.empty[String, Double] else {
      val scans = PlanProbe.scans(q)
      Map("bytes" -> scans.flatMap(_.metrics.get("mothBytesRead")).map(_.value).sum.toDouble,
        "files" -> scans.flatMap(_.inputPartitions.collect { case s: MothSplit => s.file })
          .distinct.size.toDouble)
    }
    OpRec(id, kind, start, wall, check(result), layer)
  }

  private def scan(id: Long): OpRec =
    timed(id, "scan", Data.digestQuery(table))(Check.digest("scan", expected, _))

  private def lookup(id: Long, key: String): OpRec =
    timed(id, "lookup", Data.digestQuery(table.where(col("conv_id") === lit(key))))(
      Check.digest(s"lookup $key", expectedByKey(key), _))

  private def scans(ops: Seq[OpRec]) = ops.filter(_.kind == "scan")
  private def lookupOps(ops: Seq[OpRec]) = ops.filter(_.kind == "lookup")

  def endToEnd(ops: Seq[OpRec]): Map[String, Double] = Map(
    "throughput_mb_per_s" -> median(scans(ops).map(o => rawBytes / 1e6 / (o.wallNs / 1e9))),
    "latency_p50_ms" -> percentile(lookupOps(ops).map(_.wallNs / 1e6), 50),
    "latency_p90_ms" -> percentile(lookupOps(ops).map(_.wallNs / 1e6), 90),
    "compression_ratio" -> rawBytes.toDouble / data.fileBytes)

  def report(e2e: Map[String, Double], ops: Seq[OpRec]): Seq[(String, Double, String)] = Seq(
    ("scan_turns_per_s", e2e("throughput_mb_per_s") * 1e6 / rawBytes * expected.rows, "turns/s"),
    ("lookup_p50_ms", e2e("latency_p50_ms"), "ms"),
    ("lookup_p90_ms", e2e("latency_p90_ms"), "ms"),
    ("scans", scans(ops).size.toDouble, "count"),
    ("lookups", lookupOps(ops).size.toDouble, "count"))

  override def startTrace(): Unit = spark.sparkContext.addSparkListener(trace)

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    trace.spans().foreach(Trace.add)
    val sc = scans(ops)
    val lk = lookupOps(ops)
    val scanStages = sc.flatMap(o => SparkLayers.scanStage(trace, o).map(s => (o, s)))
    val sample = Kernels.sample(
      spark.read.parquet(input).select(Data.TranscriptCols.map(col): _*), EncodeWorkload.SampleRows)
    val files = data.paths.map(p => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    IdleLayers ++ Map(
      "spark.scan_stage_s" -> medianOr0(scanStages.map(_._2.seconds)),
      "spark.input_read_ratio" ->
        medianOr0(sc.map(o => trace.tasksOf(o.id).map(_.recordsRead).sum.toDouble / data.rows)),
      "spark.gc_s" -> medianOr0(sc.map(o => trace.tasksOf(o.id).map(_.gcMs).sum / 1e3)),
      "spark.task_skew" ->
        medianOr0(scanStages.map(s => skew(trace.tasksOfStage(s._2).map(_.ms.toDouble)))),
      "spark.cpu_util" -> medianOr0(sc.map(o =>
        trace.tasksOf(o.id).map(_.cpuNs).sum.toDouble / (o.wallNs.toDouble * ctx.cores))),
      "spark.lookup_plan_ms" -> medianOr0(lk.map(o => SparkLayers.planMs(trace, o))),
      "spark.lookup_tasks" -> medianOr0(lk.map(o => trace.tasksOf(o.id).size.toDouble)),
      "source.scan_bytes_read_mb" -> medianOr0(sc.map(_.v("bytes") / 1e6)),
      "source.lookup_bytes_read_kb" -> medianOr0(lk.map(_.v("bytes") / 1e3)),
      "source.lookup_files_read" -> medianOr0(lk.map(_.v("files")))) ++
      fileLayers(data.files.size, data.stripes.map(_.flushReason)) ++
      encodingLayers(data.stripes.map(s => (s.encodings, stringColumns(sample.schema)))) ++
      Kernels.replay(Seq(sample), files)
  }

  def inputs: Seq[(String, Double)] = Seq(
    "turns" -> expected.rows.toDouble, "raw_bytes" -> rawBytes.toDouble,
    "raw_bytes_writer" -> data.rawBytes.toDouble,
    "files" -> data.files.size.toDouble,
    "stripes_per_file" -> data.stripes.size.toDouble / math.max(1, data.files.size),
    "lookup_keys" -> keys.size.toDouble)

  def close(): Unit = spark.stop()
}

object ReadWorkload {
  val LookupsPerScan = 3
  /** Files per Spark core, so a full scan's tasks balance over the cores. */
  val FilesPerCore = 4
  val Keys = 64

  /** Seeded lookup keys: mostly existing conversation ids (ids run densely
    * from 0 to the largest one), plus keys that sort between two files'
    * key ranges and so match no row.
    */
  def lookupKeys(data: Data.Output, seed: Long): IndexedSeq[String] = {
    def conv(key: String) = key.takeWhile(_ != '|')
    val bounds = data.files.flatMap(f => f.firstKey.map(conv).zip(f.lastKey.map(conv)))
      .sortBy(_._1)
    val between = bounds.zip(bounds.drop(1)).collect {
      case ((_, last), (next, _)) if last + "~" < next => last + "~"
    }
    val maxId = bounds.map(b => b._2.stripPrefix("conv-").toLong).max
    val r = new scala.util.Random(seed)
    IndexedSeq.tabulate(Keys) { i =>
      if (i % 8 == 7 && between.nonEmpty) between(r.nextInt(between.size))
      else f"conv-${(r.nextDouble() * (maxId + 1)).toLong}%012d"
    }
  }
}

/** Finds the DSv2 scan nodes of an executed query, through adaptive stages. */
object PlanProbe extends AdaptiveSparkPlanHelper {
  def scans(q: DataFrame): Seq[BatchScanExec] =
    collect(q.queryExecution.executedPlan) { case b: BatchScanExec => b }
}
