package graftbench

import java.io.{ByteArrayOutputStream, RandomAccessFile}
import org.apache.spark.sql.functions.{col, lit, not}
import graft.core.columns.ColVec
import graft.core.compress.CompressionKind
import graft.core.file.{ColVecOps, MothFileReader, MothFileWriter}
import graft.spark.{EncodeJob, InternalBridge, SparkBridge}

/** Shows that the output checks catch a damaged file and a dropped row.
  * The intact output must pass each check and every damaged one must fail
  * it (by a reported difference or by the reader throwing). Exits 1 when a
  * check misses a fault.
  *
  * Usage: SelfTest --work DIR --lineitem FILE
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val work = a("work")
    val spark = Data.session(2, work)
    var missed = 0

    def expect(name: String, fails: Boolean)(check: => Option[String]): Unit = {
      val result = try check catch {
        case e: Exception => Some(s"threw ${e.getClass.getSimpleName}")
      }
      val ok = result.isDefined == fails
      if (!ok) missed += 1
      println(s"perfbench selftest ${if (ok) "ok  " else "MISS"} $name: " +
        result.getOrElse("passes"))
    }

    /** XORs 16 bytes in the middle of the first stripe's data streams. */
    def damageAt(footerOf: => MothFileReader): (Long, Array[Byte] => Array[Byte]) = {
      val s = footerOf.footer.stripes.head
      val at = s.offset + s.indexLength + s.dataLength / 2
      (at, b => b.map(x => (x ^ 0x5a).toByte))
    }

    try {
      // engine_lz4: decoded batches against the input, value for value
      val df = Data.lineitem(spark, a("lineitem")).limit(20000)
      val rows = df.queryExecution.toRdd.map(_.copy()).collect()
      val builder = new InternalBridge.VecBuilder(df.schema, rows.length)
      rows.foreach(builder.add)
      val vec = builder.build()
      val moth = SparkBridge.toMothStruct(df.schema)
      val bos = new ByteArrayOutputStream()
      val w = new MothFileWriter(bos, moth, CompressionKind.LZ4)
      w.write(vec)
      w.close()
      val bytes = bos.toByteArray
      def decode(b: Array[Byte]): Iterator[ColVec] = MothFileReader.fromBytes(b).batches()
      expect("engine_lz4 check, intact file", fails = false)(
        Check.sameValues(df.schema, vec, decode(bytes)))
      val (at, flip) = damageAt(MothFileReader.fromBytes(bytes))
      val damaged = bytes.clone()
      flip(damaged.slice(at.toInt, at.toInt + 16)).copyToArray(damaged, at.toInt)
      expect("engine_lz4 check, corrupt file", fails = true)(
        Check.sameValues(df.schema, vec, decode(damaged)))
      val dropped = {
        val b = decode(bytes).toVector
        (b.init :+ ColVecOps.slice(moth, b.last, 0, b.last.len - 1)).iterator
      }
      expect("engine_lz4 check, dropped row", fails = true)(
        Check.sameValues(df.schema, vec, dropped))

      // encode_transcripts / read_transcripts: digest of the read-back
      val cols = Data.TranscriptCols.map(col)
      val input = s"$work/input"
      val out = s"$work/out"
      Data.stageTranscripts(spark, 20000, 7, input)
      EncodeJob.run(spark, Map("out" -> out, "input" -> input, "partitions" -> "2"))
      val expected = Data.digest(spark.read.parquet(input).select(cols: _*))
      def readBack = spark.read.format("moth").load(out).select(cols: _*)
      expect("transcripts check, intact output", fails = false)(
        Check.digest("read-back", expected, Data.digest(readBack)))
      expect("transcripts check, dropped row", fails = true)(
        Check.digest("read-back", expected, Data.digest(readBack.where(
          not(col("conv_id") === lit("conv-000000000000") && col("turn_idx") === lit(0))))))
      val file = Data.readOutput(out).paths.head
      val (pos, flipFile) = damageAt(MothFileReader.fromPath(file))
      val raf = new RandomAccessFile(file, "rw")
      try {
        val b = new Array[Byte](16)
        raf.seek(pos)
        raf.readFully(b)
        raf.seek(pos)
        raf.write(flipFile(b))
      } finally raf.close()
      expect("transcripts check, corrupt file", fails = true)(
        Check.digest("read-back", expected, Data.digest(readBack)))
    } finally spark.stop()
    println(s"perfbench selftest: ${if (missed == 0) "all checks caught their faults"
      else s"$missed check(s) missed a fault"}")
    System.exit(if (missed == 0) 0 else 1)
  }
}
