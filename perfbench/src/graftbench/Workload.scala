package graftbench

import org.apache.spark.sql.types.{StringType, StructType}

/** One timed op. `wallNs` covers only the call under test; the output check
  * runs after it. `parts` holds per-thread records where an op fans out.
  */
final case class OpRec(id: Long, kind: String, start: Long, wallNs: Long,
    error: Option[String], values: Map[String, Double] = Map.empty,
    parts: Seq[Map[String, Double]] = Nil) {
  def ok: Boolean = error.isEmpty
  def v(k: String): Double = values(k)
}

final case class Ctx(seed: Long, seconds: Double, trace: Boolean, cores: Int, work: String,
    lineitem: String)

/** A workload: set-up (repeated, the last repetition is kept), warm-up
  * ops, then ops in a closed loop until the time is up.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Set-up repetitions; `setup_s` is their median. */
  def setupReps: Int = 3
  def setup(rep: Int): Unit
  /** Runs after the set-up repetitions and before the warm-up; untimed. */
  def beforeOps(): Unit = ()
  /** Untimed (but checked) ops before measuring; op times settle only
    * after the JIT has compiled the op's hot paths. A count, not a time, so
    * a slow host does not enter the measured ops with less compiled code.
    */
  def warmupOps: Int
  def op(id: Long): OpRec
  /** Ops per repeating pattern of op kinds. */
  def cycle: Int = 1
  /** Ops run after the measured ones while [[Memory]] samples the live heap. */
  def memoryOps: Int
  /** Gated end-to-end metrics (every workload reports the same names). */
  def endToEnd(ops: Seq[OpRec]): Map[String, Double]
  /** Results under this workload's own names, for the console: the
    * end-to-end metrics `e2e` restated, plus a few that only it has.
    */
  def report(e2e: Map[String, Double], ops: Seq[OpRec]): Seq[(String, Double, String)]
  /** Starts recording Spark events for traced ops (Spark workloads). */
  def startTrace(): Unit = ()
  def layers(ops: Seq[OpRec]): Map[String, Double]
  /** Input sizes for the run header; `raw_bytes` is the benchmark's own
    * count (the throughput numerator), `raw_bytes_writer` the writer's
    * manifests' count of the same rows, kept only as a cross-check.
    */
  def inputs: Seq[(String, Double)]
  def close(): Unit
}

object Workload {

  def create(name: String, ctx: Ctx): Workload = name match {
    case "encode_transcripts" => new EncodeWorkload(ctx)
    case "read_transcripts" => new ReadWorkload(ctx)
    case "engine_lz4" => new EngineWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks; NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Median over ops, 0 when there are none (a layer idle on this workload). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def skew(durations: Seq[Double]): Double =
    if (durations.isEmpty || median(durations) <= 0) 0.0 else durations.max / median(durations)

  /** Column ids (flat schema: field i is column i + 1) of string fields. */
  def stringColumns(schema: StructType): Set[Int] =
    schema.fields.zipWithIndex.collect { case (f, i) if f.dataType == StringType => i + 1 }.toSet

  /** Column-stripe counts by encoding, from each stripe's writer encodings
    * and the column ids of its string fields.
    */
  def encodingLayers(stripes: Seq[(Map[Int, String], Set[Int])]): Map[String, Double] = {
    val cols = stripes.flatMap { case (enc, strings) =>
      enc.toSeq.collect { case (c, e) if c > 0 => (strings(c), e) }
    }
    val dict = cols.count(_._2.startsWith("DICTIONARY"))
    val fsst = cols.count(_._2 == "DIRECT_FSST")
    val leftDict = cols.count { case (isString, e) => isString && !e.startsWith("DICTIONARY") }
    Map(
      "columns.dict_cols" -> dict.toDouble,
      "columns.fsst_cols" -> fsst.toDouble,
      "columns.direct_cols" -> (cols.size - dict - fsst).toDouble,
      "columns.fsst_accept_frac" -> (if (leftDict == 0) 0.0 else fsst.toDouble / leftDict))
  }

  /** Stripe and flush counts of written files (flush reasons per stripe). */
  def fileLayers(files: Int, flushReasons: Seq[String]): Map[String, Double] = Map(
    "file.stripes_per_file" -> (if (files == 0) 0.0 else flushReasons.size.toDouble / files),
    "file.flush_max_bytes" -> flushReasons.count(_ == "MAX_BYTES").toDouble,
    "file.flush_dictionary_full" -> flushReasons.count(_ == "DICTIONARY_FULL").toDouble)

  /** Per-layer metrics that only some workloads' ops exercise; the others
    * report them as 0.
    */
  val IdleLayers: Map[String, Double] = Seq(
    "spark.sample_s", "spark.input_read_ratio", "spark.map_stage_s", "spark.shuffle_write_s",
    "spark.shuffle_mb", "spark.fetch_wait_s", "spark.result_stage_s", "spark.spill_mb",
    "spark.gc_s", "spark.task_skew", "spark.cpu_util", "spark.scan_stage_s",
    "spark.lookup_plan_ms", "spark.lookup_tasks", "source.scan_bytes_read_mb",
    "source.lookup_bytes_read_kb", "source.lookup_files_read", "file.write_s", "file.close_s",
    "file.open_ms", "file.decode_s", "file.retained_peak_mb").map(_ -> 0.0).toMap
}
