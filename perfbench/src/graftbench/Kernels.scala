package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import graft.core.columns.{ColVec, DictionaryBuilder}
import graft.core.compress.{Chunked, CompressionKind}
import graft.core.file.MothFileReader
import graft.core.fsst.Fsst
import graft.core.io.{BitCodec, ByteBuf, ByteRd}
import graft.core.rle.{RleV2, RleV2Writer}
import graft.core.stats.{BloomFilter, StringStatsBuilder}
import graft.spark.InternalBridge

/** Replays of single layers on a workload's own data: rows of one input
  * partition and the files the workload wrote. Each replay runs a few
  * times and reports the median.
  */
object Kernels {
  final case class Sample(schema: StructType, rows: Array[InternalRow])

  private val Reps = 3
  private val CompressReplayBytes = 24L << 20

  /** Copies up to `max` rows of the first partition of `df`. */
  def sample(df: DataFrame, max: Int): Sample = {
    val rows = df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      if (i == 0) it.take(max).map(_.copy()) else Iterator.empty
    }.collect()
    Sample(df.schema, rows)
  }

  private def medianNs(body: => Unit): Long = {
    val ts = (0 until Reps).map { _ =>
      val t0 = System.nanoTime(); body; System.nanoTime() - t0
    }
    ts.sorted.apply(Reps / 2)
  }

  private def build(s: Sample): ColVec = {
    val b = new InternalBridge.VecBuilder(s.schema, s.rows.length)
    s.rows.foreach(b.add)
    b.build()
  }

  /** (bytes, offset, length) of the non-null values of a string column. */
  private def strings(v: ColVec): IndexedSeq[(Array[Byte], Int, Int)] =
    (0 until v.len).filterNot(v.isNull).map(i => (v.packed, v.binOff(i), v.binLen(i)))

  private def integers(v: ColVec): Array[Long] =
    (0 until v.len).filterNot(v.isNull).map(v.longs(_)).toArray

  private val IntegerTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, DateType, TimestampType, TimestampNTZType)

  def replay(samples: Seq[Sample], files: Seq[Array[Byte]]): Map[String, Double] = {
    val vecs = samples.map(s => (s, build(s)))
    val strs = vecs.flatMap { case (s, v) =>
      s.schema.fields.indices.filter(i => s.schema(i).dataType == StringType)
        .map(i => strings(v.children(i)))
    }
    val ints = vecs.flatMap { case (s, v) =>
      s.schema.fields.indices.filter(i => IntegerTypes(s.schema(i).dataType))
        .map(i => integers(v.children(i)))
    }
    val text = vecs.flatMap { case (s, v) =>
      s.schema.fields.indices.find(i => s.schema(i).name == "text").map(i => strings(v.children(i)))
    }.headOption.getOrElse(IndexedSeq.empty)
    bridge(samples) ++ dictionary(strs) ++ stats(strs) ++ rle(ints) ++ bitpack(ints) ++
      fsst(text) ++ compress(files)
  }

  private def perValue(ns: Long, n: Long): Double = if (n == 0) 0.0 else ns.toDouble / n
  private def mbPerS(bytes: Long, ns: Long): Double = if (ns == 0) 0.0 else bytes / 1e6 / (ns / 1e9)

  private def bridge(samples: Seq[Sample]): Map[String, Double] = {
    val ns = samples.map { s =>
      medianNs {
        val b = new InternalBridge.VecBuilder(s.schema, 1024)
        s.rows.foreach { r => b.add(r); if (b.count == 1024) b.build() }
        b.build()
      }
    }.sum
    Map("bridge.build_ns_per_row" -> perValue(ns, samples.map(_.rows.length.toLong).sum))
  }

  private def dictionary(cols: Seq[IndexedSeq[(Array[Byte], Int, Int)]]): Map[String, Double] = {
    val ns = cols.map(c => medianNs {
      val d = new DictionaryBuilder()
      c.foreach { case (a, o, l) => d.putIfAbsent(a, o, l) }
      d.sortedOrder()
    }).sum
    Map("columns.dict_build_ns_per_value" -> perValue(ns, cols.map(_.size.toLong).sum))
  }

  private def stats(cols: Seq[IndexedSeq[(Array[Byte], Int, Int)]]): Map[String, Double] = {
    val n = cols.map(_.size.toLong).sum
    val statNs = cols.map(c => medianNs {
      val b = new StringStatsBuilder()
      c.foreach { case (a, o, l) => b.add(a, o, l) }
      b.build()
    }).sum
    // one filter per 10k-row group, as the writer sizes them
    val bloomNs = cols.map(c => medianNs {
      c.grouped(10000).foreach { g =>
        val f = BloomFilter(10000, 0.05)
        g.foreach { case (a, o, l) => f.addBytes(a, o, l) }
      }
    }).sum
    Map("stats.string_ns_per_value" -> perValue(statNs, n),
      "stats.bloom_ns_per_value" -> perValue(bloomNs, n))
  }

  private def rle(cols: Seq[Array[Long]]): Map[String, Double] = {
    var encNs, decNs, bytes = 0L
    cols.filter(_.nonEmpty).foreach { values =>
      var out: ByteBuf = null
      encNs += medianNs {
        val w = new RleV2Writer(true, new ByteBuf(values.length))
        values.foreach(w.writeLong)
        w.flush()
        out = w.out
      }
      val dst = new Array[Long](values.length)
      decNs += medianNs(RleV2.read(new ByteRd(out.array, 0, out.size), true, dst, 0, dst.length))
      require(java.util.Arrays.equals(dst, values), "RLEv2 replay did not round-trip")
      bytes += out.size
    }
    val n = cols.map(_.length.toLong).sum
    Map("rle.v2_encode_ns_per_value" -> perValue(encNs, n),
      "rle.v2_decode_ns_per_value" -> perValue(decNs, n),
      "rle.v2_bytes_per_value" -> (if (n == 0) 0.0 else bytes.toDouble / n))
  }

  private def bitpack(cols: Seq[Array[Long]]): Map[String, Double] = {
    var encNs, decNs = 0L
    cols.filter(_.nonEmpty).foreach { values =>
      val zz = values.map(BitCodec.zigzag)
      val bits = BitCodec.findClosestNumBits(zz.reduce((a, b) =>
        if (java.lang.Long.compareUnsigned(a, b) >= 0) a else b))
      var out: ByteBuf = null
      encNs += medianNs {
        out = new ByteBuf(zz.length * 8)
        BitCodec.writeInts(zz, 0, zz.length, bits, out)
      }
      val dst = new Array[Long](zz.length)
      decNs += medianNs(BitCodec.readInts(dst, 0, dst.length, bits, new ByteRd(out.array, 0, out.size)))
      require(java.util.Arrays.equals(dst, zz), "bit-packing replay did not round-trip")
    }
    val n = cols.map(_.length.toLong).sum
    Map("io.bitpack_encode_ns_per_value" -> perValue(encNs, n),
      "io.bitpack_decode_ns_per_value" -> perValue(decNs, n))
  }

  private def fsst(values: IndexedSeq[(Array[Byte], Int, Int)]): Map[String, Double] = {
    if (values.isEmpty) return Map("fsst.train_ms" -> 0.0, "fsst.encode_mb_per_s" -> 0.0,
      "fsst.decode_mb_per_s" -> 0.0, "fsst.ratio" -> 0.0)
    val sample = Fsst.sampleOf(values.iterator.map { case (a, o, l) =>
      java.util.Arrays.copyOfRange(a, o, o + l) })
    val trainNs = medianNs(Fsst.train(sample))
    val table = Fsst.train(sample)
    val raw = values.map(_._3.toLong).sum
    val ends = new Array[Int](values.size)
    var enc: ByteBuf = null
    val encNs = medianNs {
      enc = new ByteBuf(raw.toInt / 2 + 64)
      var i = 0
      while (i < values.size) {
        val (a, o, l) = values(i)
        table.encode(a, o, l, enc)
        ends(i) = enc.size
        i += 1
      }
    }
    var dec: ByteBuf = null
    val decNs = medianNs {
      dec = new ByteBuf(raw.toInt + 64)
      var i = 0
      var from = 0
      while (i < values.size) {
        table.decode(enc.array, from, ends(i) - from, dec)
        from = ends(i)
        i += 1
      }
    }
    require(dec.size == raw, "FSST replay did not round-trip")
    Map("fsst.train_ms" -> trainNs / 1e6, "fsst.encode_mb_per_s" -> mbPerS(raw, encNs),
      "fsst.decode_mb_per_s" -> mbPerS(raw, decNs),
      "fsst.ratio" -> (if (enc.size == 0) 0.0 else raw.toDouble / enc.size))
  }

  /** Decompresses whole stripes of the written files (a stripe's index,
    * data and footer streams are back-to-back chunk sequences), then
    * recompresses those bytes with each codec.
    */
  private def compress(files: Seq[Array[Byte]]): Map[String, Double] = {
    val raw = new ByteBuf(1 << 20)
    var chunk = Chunked.DefaultChunkSize
    val it = files.iterator
    while (raw.size < CompressReplayBytes && it.hasNext) {
      val bytes = it.next()
      val rd = MothFileReader.fromBytes(bytes)
      chunk = rd.postScript.compressionBlockSize.toInt
      rd.footer.stripes.takeWhile(_ => raw.size < CompressReplayBytes).foreach { s =>
        val len = (s.indexLength + s.dataLength + s.footerLength).toInt
        raw.writeBytes(Chunked.decompress(rd.compression, bytes, s.offset.toInt, len, chunk))
      }
    }
    val data = raw.toArray
    def codec(kind: CompressionKind.Value, label: String): Map[String, Double] = {
      var comp: ByteBuf = null
      val cNs = medianNs {
        comp = new ByteBuf(data.length / 2 + 64)
        Chunked.compress(kind, data, 0, data.length, comp, chunk)
      }
      var back: Array[Byte] = null
      val dNs = medianNs { back = Chunked.decompress(kind, comp.array, 0, comp.size, chunk) }
      require(java.util.Arrays.equals(back, data), s"$label replay did not round-trip")
      Map(s"compress.${label}_compress_mb_per_s" -> mbPerS(data.length, cNs),
        s"compress.${label}_decompress_mb_per_s" -> mbPerS(data.length, dNs))
    }
    codec(CompressionKind.ZLIB, "zlib") ++ codec(CompressionKind.LZ4, "lz4")
  }
}
