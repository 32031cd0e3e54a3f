package graftbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Inputs, expected results and output manifests. Every generator is
  * seeded and content-deterministic: the same seed gives the same rows
  * whatever the partitioning.
  */
object Data {
  val TranscriptCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-insensitive digest of a row set: the row count and the exact sum
    * of a 64-bit hash over every column of each row. A dropped, duplicated
    * or altered row changes it.
    */
  final case class Digest(rows: Long, hashSum: BigDecimal) {
    override def toString: String = s"rows=$rows hashSum=$hashSum"
  }

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.toSeq.map(df.col): _*).cast(DecimalType(38, 0))

  private def digestOf(rows: Long, sum: java.math.BigDecimal): Digest =
    Digest(rows, if (sum == null) BigDecimal(0) else BigDecimal(sum))

  /** The digest query; it reads every column of `df`. */
  def digestQuery(df: DataFrame): DataFrame = df.agg(count(lit(1)), sum(rowHash(df)))

  /** Runs a [[digestQuery]]; `collect` executes `df`'s own plan, so its
    * metrics can be read afterwards.
    */
  def digestOfResult(df: DataFrame): Digest = {
    val r = df.collect().head
    digestOf(r.getLong(0), r.getDecimal(1))
  }

  def digest(df: DataFrame): Digest = digestOfResult(digestQuery(df))

  /** Digest per key value of `key`; keys without rows map to an empty digest. */
  def digestByKey(df: DataFrame, key: String, keys: Seq[String]): Map[String, Digest] = {
    val found = df.where(col(key).isin(keys.distinct: _*)).groupBy(col(key))
      .agg(count(lit(1)), sum(rowHash(df))).collect()
      .map(r => r.getString(0) -> digestOf(r.getLong(1), r.getDecimal(2))).toMap
    keys.map(k => k -> found.getOrElse(k, Digest(0, BigDecimal(0)))).toMap
  }

  /** Stages the transcripts table as parquet (the EncodeJob input). */
  def stageTranscripts(spark: SparkSession, turns: Long, seed: Long, path: String): Unit =
    graft.spark.TranscriptGen.transcripts(spark, turns, seed)
      .write.mode("overwrite").parquet(path)

  /** The TPC-H sf0.1 `lineitem` table (600k rows), a copy of the repository's
    * TPC-H test data kept in the benchmark's directory.
    */
  def lineitem(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** The benchmark's own raw-size rule for flat rows, independent of the
    * writer's accounting: 1, 2, 4 or 8 bytes per value of a fixed-width
    * type (null or not; decimals and timestamps count 8) and the UTF-8
    * bytes of each non-null string.
    */
  final class RawSize(schema: StructType) extends Serializable {
    private val widths: Array[Int] = schema.fields.map(_.dataType match {
      case StringType => -1
      case BooleanType | ByteType => 1
      case ShortType => 2
      case IntegerType | FloatType | DateType => 4
      case LongType | DoubleType | TimestampType | TimestampNTZType | _: DecimalType => 8
      case t => throw new IllegalArgumentException(s"no raw size for $t")
    })

    def of(r: InternalRow): Long = {
      var total = 0L
      var i = 0
      while (i < widths.length) {
        total += (if (widths(i) >= 0) widths(i) else if (r.isNullAt(i)) 0
          else r.getUTF8String(i).numBytes)
        i += 1
      }
      total
    }
  }

  /** Raw bytes of `df` by [[RawSize]]. */
  def rawBytes(df: DataFrame): Long = {
    val size = new RawSize(df.schema)
    df.queryExecution.toRdd.map(size.of).fold(0L)(_ + _)
  }

  final case class StripeInfo(rows: Long, flushReason: String, encodings: Map[Int, String])
  final case class FileInfo(file: String, rows: Long, rawBytes: Long, fileBytes: Long,
      firstKey: Option[String], lastKey: Option[String], stripes: Seq[StripeInfo])

  /** The files of an EncodeJob output directory, read from its manifests. */
  final case class Output(dir: String, files: Seq[FileInfo]) {
    def rows: Long = files.map(_.rows).sum
    def rawBytes: Long = files.map(_.rawBytes).sum
    def fileBytes: Long = files.map(_.fileBytes).sum
    def paths: Seq[String] = files.map(f => s"$dir/${f.file}")
    def stripes: Seq[StripeInfo] = files.flatMap(_.stripes)
  }

  /** JSON reading and writing (Scala maps and sequences included). */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readOutput(dir: String): Output = {
    val manifests = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("manifest-") && f.getName.endsWith(".json"))
      .sortBy(_.getName)
    Output(dir, manifests.map(f => Json.readTree(f)).filter(m => !m.get("file").isNull).map {
      m =>
        def opt(k: String) = Option(m.get(k)).filterNot(_.isNull).map(_.asText)
        FileInfo(m.get("file").asText, m.get("rows").asLong, m.get("rawBytes").asLong,
          m.get("fileBytes").asLong, opt("firstKey"), opt("lastKey"),
          m.get("stripes").elements().asScala.map { s =>
            StripeInfo(s.get("rows").asLong, s.get("flushReason").asText,
              s.get("encodings").fields().asScala.map(e =>
                e.getKey.toInt -> e.getValue.asText).toMap)
          }.toSeq)
    })
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

}
