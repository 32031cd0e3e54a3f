package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, Row}
import org.apache.spark.sql.functions._
import graft.core.compress.CompressionKind
import graft.core.columns.WriterOpts

/** Spark-level gate (BASELINE.json input_hint: "verify with sbt -batch
  * test"): per-turn text equality under stable (conv_id, turn_idx)
  * ordering, deterministic output, kill-and-resume, skew salting.
  */
class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true") // TIME is preview in 4.1
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-suite").toString

  test("streaming encode: readStream -> foreachBatch MOTH sink, decode equals input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val turnEnc: org.apache.spark.sql.Encoder[TranscriptGen.Turn] =
      org.apache.spark.sql.Encoders.product[TranscriptGen.Turn]
    val input = MemoryStream[TranscriptGen.Turn]
    val out = tmpDir()
    val query = StreamingEncode.sink(input.toDF(), out, partitions = 2,
      keyCols = Seq("conv_id", "turn_idx"))
      .option("checkpointLocation", tmpDir()) // epoch ids survive restarts
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val turns = TranscriptGen.transcripts(spark, 5000, seed = 9L, partitions = 2)
      .as[TranscriptGen.Turn].collect().toSeq
    val (b1, b2) = turns.splitAt(turns.length / 2)
    input.addData(b1)
    val q1 = query.start()
    q1.awaitTermination()
    input.addData(b2)
    val q2 = query.start()
    q2.awaitTermination()
    val batchDirs = new java.io.File(out).listFiles().filter(_.isDirectory).sorted
    assert(batchDirs.length >= 2, s"expected >=2 micro-batch dirs, got ${batchDirs.length}")
    val back = batchDirs.map(d => MothSpark.readFiles(spark, d.getAbsolutePath))
      .reduce(_ unionAll _)
    val a = turns.sortBy(t => (t.conv_id, t.turn_idx))
    val b = back.as[TranscriptGen.Turn].collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row mismatch: $x vs $y") }
  }

  test("DataSourceV2: spark.read.format(moth) with projection + filter pushdown") {
    val d = tmpDir()
    EncodeJob.run(spark, Map("out" -> d, "turns" -> "30000", "partitions" -> "4"))
    val df = spark.read.format("moth").load(d)
    val direct = MothSpark.readFiles(spark, d)
    assert(df.count() == direct.count())
    // projection: only requested columns come back
    assert(df.select("conv_id", "turn_idx").columns.toSeq == Seq("conv_id", "turn_idx"))
    // filter pushdown shows in the plan and results stay exact
    val q = df.filter(col("turn_idx") >= 40).select("conv_id", "turn_idx", "role")
    val expected = direct.filter(col("turn_idx") >= 40).count()
    assert(q.count() == expected)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("MothScan"), s"expected MothScan in plan:\n$plan")
    // string equality predicate (bloom-backed) stays exact
    val r = df.filter(col("role") === "system").count()
    assert(r == direct.filter(col("role") === "system").count())
    // full-row equality against the direct reader
    val a = df.orderBy("conv_id", "turn_idx").collect()
    val b = direct.orderBy("conv_id", "turn_idx").collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // Catalyst sees footer statistics (sizeInBytes) without scanning
    val stats = q.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0)
  }

  test("DataSourceV2: stripe-range splits cover every row exactly once") {
    val d = tmpDir()
    // tiny stripes => many stripes per file, tiny maxPartitionBytes => splits
    val df = TranscriptGen.transcripts(spark, 30000, seed = 5L, partitions = 2)
    MothSpark.writeFiles(df, d, "split-test",
      graft.core.compress.CompressionKind.ZLIB,
      graft.core.columns.WriterOpts(
        stripeMinBytes = 1 << 16, stripeMaxBytes = 1 << 17,
        rowGroupMaxRowCount = 1000))
    val whole = spark.read.format("moth").load(d)
    val split = spark.read.format("moth").option("maxPartitionBytes", (1 << 17).toString).load(d)
    assert(split.rdd.getNumPartitions > whole.rdd.getNumPartitions,
      s"expected more split partitions (${split.rdd.getNumPartitions}) than files (${whole.rdd.getNumPartitions})")
    assert(split.count() == whole.count())
    val a = whole.orderBy("conv_id", "turn_idx").collect()
    val b = split.orderBy("conv_id", "turn_idx").collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("DataSourceV2 write: df.write.format(moth) roundtrip, append + overwrite") {
    val d = tmpDir() + "/w"
    // DSv2 TableProvider writes support Append/Overwrite (ErrorIfExists
    // requires a catalog); append into an empty dir = initial write
    val df = TranscriptGen.transcripts(spark, 5000, seed = 9)
    df.write.format("moth").mode("append").save(d)
    val back = spark.read.format("moth").load(d)
    assert(back.count() == df.count())
    val a = df.orderBy("conv_id", "turn_idx").collect().toSeq
    val b = back.orderBy("conv_id", "turn_idx").collect().toSeq
    assert(a == b, "moth DSv2 write/read roundtrip mismatch")
    // append doubles the rows
    df.write.format("moth").mode("append").save(d)
    assert(spark.read.format("moth").load(d).count() == 2 * df.count())
    // overwrite replaces everything, honoring the codec option
    df.limit(100).write.format("moth").mode("overwrite").option("codec", "zstd").save(d)
    assert(spark.read.format("moth").load(d).count() == 100)
    // append with a different schema is rejected
    val err = intercept[Exception] {
      df.select(col("conv_id")).write.format("moth").mode("append").save(d)
    }
    assert(err.getMessage != null)
  }

  test("DataSourceV2 nested schema pruning: struct subfield select is correct") {
    val d = tmpDir() + "/nested"
    val df = TranscriptGen.transcripts(spark, 2000, seed = 3)
      .withColumn("meta", struct(col("role").as("r"), col("tool").as("t"),
        length(col("text")).as("n")))
      .select("conv_id", "turn_idx", "meta")
    df.write.format("moth").mode("append").save(d)
    val back = spark.read.format("moth").load(d)
      .select(col("conv_id"), col("meta.n").as("n"))
      .orderBy("conv_id")
    val expect = df.select(col("conv_id"), col("meta.n").as("n")).orderBy("conv_id")
    assert(back.collect().toSeq == expect.collect().toSeq)
    // the scan itself must carry the PRUNED nested schema (meta.n only) —
    // i.e. Catalyst's nested schema pruning reached our ScanBuilder
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = back.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().catalogString
    }
    assert(scans.nonEmpty, "expected a moth BatchScanExec in the plan")
    info(s"scan readSchema: ${scans.head}")
    assert(scans.head.contains("n:int") && !scans.head.contains("r:string"),
      s"scan should read only meta.n, got ${scans.head}")
  }

  test("minhash de-skew: a pathological all-identical bucket is dropped, planted pairs survive") {
    val s = spark
    import s.implicits._
    // 10k identical docs would previously materialize a 10k-element
    // collect_list before the size filter; the count pre-pass drops the
    // bucket first. Two planted near-dup docs must still be found.
    val spam = (0L until 10000L).map(i => (i, "identical spam text that lands in one bucket " * 8))
    val pair = Seq(
      (20001L, "a genuinely unique document about graft encoders " * 10),
      (20002L, "a genuinely unique document about graft encoders " * 10 + " tail"))
    val docs = (spam ++ pair).toDF("doc_id", "text")
    val pairs = TextOps.minHashPairs(spark, docs).collect()
    assert(pairs.exists(r => r.getLong(0) == 20001L && r.getLong(1) == 20002L),
      "planted near-dup pair must be recovered")
    assert(!pairs.exists(r => r.getLong(0) < 10000L),
      "spam bucket (size 10000 > cap) must contribute no pairs")
  }

  test("aggregate pushdown: count/min/max answered from footers, zero data scan") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val rows = (0 until 5000).map(i => (i.toLong, 10000 - i, if (i % 7 == 0) null else s"d-$i"))
    rows.toDF("id", "score", "tag").repartition(3)
      .write.format("moth").mode("append").save(dir)
    val df = spark.read.format("moth").load(dir)
    val q = df.agg(count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"),
      min("score").as("min_s"), max("score").as("max_s"), count("tag").as("n_tag"),
      sum("id").as("sum_id"), sum("score").as("sum_s"))
    val row = q.head()
    assert(row.getLong(0) == 5000L && row.getLong(1) == 0L && row.getLong(2) == 4999L)
    assert(row.getInt(3) == 5001 && row.getInt(4) == 10000)
    assert(row.getLong(5) == rows.count(_._3 != null))
    assert(row.getLong(6) == rows.map(_._1).sum)
    assert(row.getLong(7) == rows.map(_._2.toLong).sum)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("MothAggScan"), s"expected footer-only agg scan:\n$plan")
    // with a filter the stats no longer describe the scanned rows — the
    // pushdown must NOT fire and the answer must come from a real scan
    val qf = df.filter(col("id") >= 4000L).agg(count(lit(1)), max("score"))
    val rf = qf.head()
    assert(rf.getLong(0) == 1000L && rf.getInt(1) == 6000)
    assert(!qf.queryExecution.executedPlan.toString.contains("MothAggScan"))
    // string min/max is stats-truncated (64B limit) — must not push
    val qs = df.agg(min("tag"))
    assert(!qs.queryExecution.executedPlan.toString.contains("MothAggScan"))
    assert(qs.head().getString(0) == rows.flatMap(r => Option(r._3)).min)
  }

  test("stateful streaming: watermarked windowed agg + flatMapGroupsWithState sessionizer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val turnEnc: org.apache.spark.sql.Encoder[TranscriptGen.Turn] =
      org.apache.spark.sql.Encoders.product[TranscriptGen.Turn]
    val s = spark
    import s.implicits._
    def turn(conv: String, idx: Int, role: String, tsSec: Long) =
      TranscriptGen.Turn(conv, idx, role, s"text-$idx", "", new java.sql.Timestamp(tsSec * 1000))
    val t0 = 1700000000L // fixed epoch base

    // windowed agg: roles split across two 5-min windows; a later batch
    // advances the watermark past window 1 so append mode emits it
    val in1 = MemoryStream[TranscriptGen.Turn]
    val q1 = StreamingOps.turnsPerWindow(in1.toDF())
      .writeStream.format("memory").queryName("win_agg").outputMode("append").start()
    in1.addData(turn("c1", 0, "user", t0), turn("c1", 1, "assistant", t0 + 10),
      turn("c2", 0, "user", t0 + 20))
    q1.processAllAvailable()
    in1.addData(turn("c3", 0, "user", t0 + 3600)) // 1h later: watermark passes window 1
    q1.processAllAvailable()
    in1.addData(turn("c3", 1, "user", t0 + 3610)) // watermark applies next batch
    q1.processAllAvailable()
    q1.stop()
    val win = spark.sql("SELECT role, turns FROM win_agg ORDER BY role").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(win == Seq(("assistant", 1L), ("user", 2L)),
      s"window-1 counts per role, got $win")

    // sessionizer: conv closes after a 60s event-time gap, summary emitted
    // once with exact turn count and bounds
    val in2 = MemoryStream[TranscriptGen.Turn]
    val q2 = StreamingOps.sessionize(spark, in2.toDF(), gapMs = 60000L)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    in2.addData(turn("cA", 0, "user", t0), turn("cA", 1, "assistant", t0 + 5),
      turn("cB", 0, "user", t0 + 2))
    q2.processAllAvailable()
    in2.addData(turn("cC", 0, "user", t0 + 600)) // 10 min later
    q2.processAllAvailable()
    in2.addData(turn("cC", 1, "user", t0 + 610)) // lets the new watermark fire timeouts
    q2.processAllAvailable()
    q2.stop()
    val sess = spark.sql("SELECT conv_id, turns FROM sessions ORDER BY conv_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sess == Seq(("cA", 2L), ("cB", 1L)), s"closed conversations, got $sess")
  }

  test("DSv2 reader IO options: forced ranged-read path decodes identically") {
    val d = tmpDir() + "/ioopts"
    val df = TranscriptGen.transcripts(spark, 8000, seed = 21)
    df.write.format("moth").mode("overwrite").save(d)
    val dflt = spark.read.format("moth").load(d)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    // tinyStripeThreshold=0 forbids whole-stripe reads, mergeDistance=0
    // forbids gap coalescing, a small read cap forces many ranged reads —
    // the exact fetch plan an object-store deployment would tune toward
    val ranged = spark.read.format("moth")
      .option("tinyStripeThreshold", "0")
      .option("mergeDistance", "0")
      .option("maxReadSize", (256 * 1024).toString)
      .option("maxBlockBytes", (1 << 20).toString)
      .load(d)
    assert(ranged.orderBy("conv_id", "turn_idx").collect().toSeq == dflt)
    // with a predicate (index streams fetched over the ranged path too)
    assert(ranged.filter(col("turn_idx") >= 10).count() ==
      df.filter(col("turn_idx") >= 10).count())
  }

  test("custom metrics: encoder retained-peak + bytes written/read surface in plan metrics") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val d = tmpDir() + "/metrics"
    val df = TranscriptGen.transcripts(spark, 5000, seed = 11)
    // write metrics: captured from the V2 write exec node via listener
    val captured = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("moth").mode("overwrite").save(d)
      def findMetrics() = {
        import scala.jdk.CollectionConverters._
        captured.asScala.flatMap(_.executedPlan.collectFirst {
          case p if p.metrics.contains("mothRetainedPeak") => p.metrics
        }).headOption
      }
      val deadline = System.nanoTime() + 10_000_000_000L
      while (findMetrics().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val wm = findMetrics()
      assert(wm.isDefined,
        s"no write node with moth metrics among ${captured.size()} captured plans")
      assert(wm.get("mothRetainedPeak").value > 0, "retained-peak metric not populated")
      assert(wm.get("mothBytesWritten").value > 0, "bytes-written metric not populated")
    } finally spark.listenerManager.unregister(listener)
    // scan metrics: AQE off so the executed node objects are the planned ones
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.read.format("moth").load(d).select("conv_id")
      q.collect()
      val sm = q.queryExecution.executedPlan.collectFirst {
        case p if p.metrics.contains("mothBytesRead") => p.metrics
      }
      assert(sm.isDefined, "no scan node with mothBytesRead")
      val read = sm.get("mothBytesRead").value
      assert(read > 0, "bytes-read metric not populated")
      // sanity: fetched bytes stay within file bytes + tail parses (these
      // tiny test stripes take the whole-stripe read path; the stream-level
      // projection saving itself is asserted in FileSpec's IO tests)
      val total = new java.io.File(d).listFiles((_, n) => n.endsWith(".moth"))
        .map(_.length()).sum
      assert(read <= total + (64 << 10), s"read $read of $total on-disk bytes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("streaming offset log: O(1) offset, bounded checkpoint dir at 10k files, restart reconstructs") {
    import graft.spark.source.{MothStreamLog, MothLogOffset}
    import org.apache.hadoop.fs.Path
    val dir = new Path(tmpDir(), "moth-file-log")
    val log = new MothStreamLog(dir, compactInterval = 10)
    var seen = Set.empty[String]
    var idx = 0L
    // 10k-file backlog drained as 1000 batches of 10
    (1 to 1000).foreach { b =>
      val names = (0 until 10).map(j => f"part-${b * 10 + j}%07d.moth")
      idx = log.append(b.toLong, names, seen)
      seen ++= names
    }
    assert(seen.size == 10000)
    // the offset Spark persists per batch stays O(1) in processed-file count
    assert(MothLogOffset(idx).json().length < 32)
    // compaction bounds the log dir (one interval of deltas + 2 compacts),
    // vs 1000 entries (or a 10k-name offset rewrite per batch) without it
    val files = new java.io.File(dir.toString).listFiles()
      .filterNot(_.getName.startsWith("."))
    assert(files.length <= 24, s"log dir grew unbounded: ${files.length} files")
    // a fresh instance (= restarted query) reconstructs the exact seen set
    val log2 = new MothStreamLog(dir, 10)
    assert(log2.lastIndex() == 1000L)
    assert(log2.seenAt(1000L) == seen)
    // replanning the last batch reads exactly its delta
    assert(log2.deltasBetween(999L, 1000L) ==
      (0 until 10).map(j => f"part-${10000 + j}%07d.moth"))
    // legacy name-set offsets migrate into a compact snapshot
    val migrated = Set("old-1.moth", "old-2.moth", "new.moth")
    val mi = log2.appendMigrated(migrated)
    assert(new MothStreamLog(dir, 10).seenAt(mi) == migrated)
    assert(MothLogOffset.parse("""{"i":42}""") == 42L)
  }

  test("streaming moth source: new files per micro-batch, exactly-once across restart") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val ckpt = tmpDir()
    val b1 = (0 until 1000).map(i => (i.toLong, s"turn-$i"))
    b1.toDF("id", "text").repartition(2).write.format("moth").mode("append").save(dir)
    val schema = spark.read.format("moth").load(dir).schema
    // memory sink can't recover from a checkpoint; foreachBatch can
    def runOnce(): Seq[Long] = {
      val buf = new scala.collection.mutable.ArrayBuffer[Long]()
      val q = spark.readStream.format("moth").schema(schema).load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0))
          buf.synchronized { buf ++= ids }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq.sorted)
    }
    val got1 = runOnce()
    assert(got1 == (0L until 1000L), s"first run: all initial rows once, got ${got1.length}")
    // second file batch; a restart from the same checkpoint must read ONLY
    // the new files (exactly-once per file across restarts)
    val b2 = (1000 until 1500).map(i => (i.toLong, s"turn-$i"))
    b2.toDF("id", "text").repartition(1).write.format("moth").mode("append").save(dir)
    val got2 = runOnce()
    assert(got2 == (1000L until 1500L),
      s"restart must deliver only the new files' rows, got ${got2.length}")
    // offset round-trip survives exotic file names
    val names = Seq("a\"b\\c.moth", "plain.moth")
    assert(graft.spark.source.MothStreamOffset.parse(
      graft.spark.source.MothStreamOffset(names).json()) == names)
    // admission control: maxFilesPerTrigger=1 over 3 files drains as 3
    // bounded micro-batches even under AvailableNow
    val dir2 = tmpDir()
    (0 until 300).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .repartition(3).write.format("moth").mode("append").save(dir2)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("moth").schema(schema)
      .option("maxFilesPerTrigger", "1").load(dir2)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }; ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() == 3, s"expected 3 single-file micro-batches, got ${batches.get()}")
    assert(rows.get() == 300L)
  }

  test("embedding-cosine de-skew: hot LSH bucket contributes no pairs, planted dup recovered") {
    val s = spark
    import s.implicits._
    // 3000 identical spam embeddings (ids < 10000) land in the same bucket
    // of every LSH table; without the bucket cap the self-join generates
    // ~9M candidate pairs from that one bucket
    val spamVec = Array.fill(16)(0.5f)
    val rnd = new scala.util.Random(5)
    val distinct = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val rows =
      (0 until 3000).map(i => (i.toLong, spamVec)) ++
        Seq((20001L, distinct), (20002L, distinct.clone())) ++
        (0 until 50).map(i => (30000L + i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = TextOps.embeddingCosinePairs(spark, emb).collect()
    assert(pairs.exists(r => r.getLong(0) == 20001L && r.getLong(1) == 20002L),
      "planted exact-dup pair must be recovered")
    assert(!pairs.exists(r => r.getLong(0) < 10000L),
      "hot bucket (size 3000 > cap) must contribute no pairs")
  }

  test("VecDot expression: bit-identical to composed built-ins, null-safe, codegen") {
    val s = spark
    import s.implicits._
    import graft.spark.functions.VecDot
    val rnd = new scala.util.Random(8)
    val df = (0 until 500).map { i =>
      val a = if (i == 7) null else Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val b = if (i == 13) null else Array.fill(64)(rnd.nextFloat() * 2 - 1)
      (i, a, b)
    }.toDF("id", "a", "b")
    val composed = expr(
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (s, v) -> s + v)")
    val out = df.select(col("id"), VecDot(col("a"), col("b")).as("fast"), composed.as("slow"))
      .collect()
    out.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2)) assert(r.isNullAt(1) == r.isNullAt(2), s"null parity at ${r.getInt(0)}")
      else assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"dot mismatch at ${r.getInt(0)}")
    }
    // the ANN plan stays inside whole-stage codegen (no non-codegen expr);
    // repartition beats ConvertToLocalRelation folding, and AQE only shows
    // codegen spans in the FINAL (executed) plan
    val q = df.repartition(2).select(VecDot(col("a"), col("b")))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // "*(n) Project [vec_dot...]" = the projection runs inside
    // WholeStageCodegen stage n
    assert(plan.contains("*(1) Project [vec_dot"), s"expected codegen span:\n$plan")
  }

  test("GraftExtensions: vec_dot SQL function + optimizer rewrite of the composed idiom") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21)
    // edge cases the rewrite must preserve: ragged pair (id 3), null element
    // (id 5), null array (id 7), empty arrays (id 9)
    val rows = (0 until 200).map { i =>
      val dim = if (i == 3) 48 else if (i == 9) 0 else 64
      val a = if (i == 7) null
              else Array.fill[java.lang.Float](64)(rnd.nextFloat() * 2 - 1)
      val b = {
        val arr = Array.fill[java.lang.Float](dim)(rnd.nextFloat() * 2 - 1)
        if (i == 5 && dim > 0) arr(17) = null
        arr
      }
      (i, a, b)
    }
    // repartition blocks ConvertToLocalRelation from eagerly folding the
    // projection — otherwise the optimized plan is a bare LocalRelation and
    // there is nothing left to rewrite
    rows.toDF("id", "a", "b").repartition(2).createOrReplaceTempView("vecs")
    val composedSql =
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (s, v) -> s + v)"
    // 1. SQL-callable vec_dot resolves via the injected function registry
    val both = spark.sql(
      s"SELECT id, vec_dot(a, b) AS fast, $composedSql AS slow FROM vecs ORDER BY id")
    both.collect().foreach { r =>
      val (fn, sn) = (r.isNullAt(1), r.isNullAt(2))
      assert(fn == sn, s"null parity at id ${r.getInt(0)}: fast=$fn slow=$sn")
      if (!fn) assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"value mismatch at id ${r.getInt(0)}")
    }
    // 2. the injected rule rewrites the composed idiom to vec_dot
    val q = spark.sql(s"SELECT id, $composedSql AS dot FROM vecs")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_dot"),
      s"expected RewriteDotProduct to fire:\n$optimized")
    assert(!optimized.contains("aggregate("),
      s"composed aggregate should be gone:\n$optimized")
    // and the rewritten plan computes the same thing
    val viaRewrite = q.orderBy("id").collect()
    val viaVecDot = spark.sql("SELECT id, vec_dot(a, b) AS dot FROM vecs ORDER BY id").collect()
    viaRewrite.zip(viaVecDot).foreach { case (x, y) =>
      assert(x.isNullAt(1) == y.isNullAt(1))
      if (!x.isNullAt(1)) assert(java.lang.Double.doubleToLongBits(x.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(y.getDouble(1)))
    }
    // 3. near-miss idioms must NOT be rewritten: nonzero init, a sum (not
    // product) element function, a subtracting merge, a non-identity finish
    Seq(
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 1D, (s, v) -> s + v)",
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) + cast(y AS double)), 0D, (s, v) -> s + v)",
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (s, v) -> s - v)",
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (s, v) -> s + v, s -> s * 2)"
    ).foreach { nearMiss =>
      val p = spark.sql(s"SELECT $nearMiss AS r FROM vecs")
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("vec_dot"), s"rewrite misfired on: $nearMiss\n$p")
    }
  }

  test("DSv2 timestamp range pushdown prunes and stays correct") {
    val d = tmpDir() + "/tsprune"
    val df = TranscriptGen.transcripts(spark, 20000, seed = 12)
      .orderBy("ts") // monotone ts ⇒ tight per-row-group ranges
    MothSpark.writeFiles(df.repartitionByRange(2, col("ts")).sortWithinPartitions("ts"),
      d, "tsprune", CompressionKind.ZLIB, WriterOpts(rowGroupMaxRowCount = 1000))
    val bounds = df.selectExpr("min(ts)", "max(ts)").collect().head
    val lo = new java.sql.Timestamp(
      bounds.getAs[java.sql.Timestamp](0).getTime + 30L * 60 * 1000)
    val back = spark.read.format("moth").load(d).filter(col("ts") >= lit(lo))
    val expect = df.filter(col("ts") >= lit(lo))
    assert(back.count() == expect.count())
    assert(back.agg(min("ts")).collect().head == expect.agg(min("ts")).collect().head)
  }

  test("Hadoop FileSystem abstraction: non-local scheme write/scan/stream-list + HadoopSource reads") {
    import graft.core.file.{Sources, HadoopSource, FileSource}
    // register a non-`file:` scheme backed by the local FS — the DSv2 write,
    // listing, tail cache and partition readers must all route through
    // Hadoop FileSystem for it to work (java.io.File would throw)
    Sources.conf.set("fs.testfs.impl", classOf[TestLocalFs].getName)
    val dir = tmpDir() + "/hfs"
    val uri = s"testfs:$dir"
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("s", concat(lit("v"), (col("id") % 7).cast("string")))
    df.write.format("moth").mode("overwrite").save(uri)
    val local = new java.io.File(dir).listFiles((_, n) => n.endsWith(".moth"))
    assert(local != null && local.nonEmpty, "write did not land under the mapped local dir")
    val back = spark.read.format("moth").load(uri)
    assert(back.count() == 5000)
    assert(back.agg(sum("id")).collect().head.getLong(0) ==
      df.agg(sum("id")).collect().head.getLong(0))
    assert(back.filter(col("id") === 42L).count() == 1)
    // HadoopSource positioned reads == direct file reads
    val f = local.head
    val hs = new HadoopSource(
      new org.apache.hadoop.fs.Path(s"testfs:${f.getAbsolutePath}"), Sources.conf)
    val ls = new FileSource(f.getAbsolutePath)
    assert(hs.size == ls.size)
    val n = math.min(hs.size, 1L << 16).toInt
    assert(java.util.Arrays.equals(hs.read(hs.size - n, n), ls.read(ls.size - n, n)))
    assert(java.util.Arrays.equals(hs.read(0, n / 2), ls.read(0, n / 2)))
    hs.close(); ls.close()
    // append through the scheme (schema check reads an existing footer)
    df.limit(10).write.format("moth").mode("append").save(uri)
    assert(spark.read.format("moth").load(uri).count() == 5010)
  }

  test("DSv2 write of a scheme-less path goes to fs.defaultFS, where the scan lists it") {
    import graft.core.file.Sources
    Sources.conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val defaultFs = Sources.conf.get("fs.defaultFS")
    Sources.conf.set("fs.defaultFS", "countfs:///")
    try {
      val dir = tmpDir() + "/dfs"
      CountingLocalFs.reset()
      spark.range(0, 3000, 1, 3).toDF("id").write.format("moth").mode("overwrite").save(dir)
      assert(CountingLocalFs.creates.get == 3,
        s"${CountingLocalFs.creates.get} of 3 task files were created through fs.defaultFS")
      assert(spark.read.format("moth").load(dir).count() == 3000)
    } finally Sources.conf.set("fs.defaultFS", defaultFs)
  }

  test("whole-file size parity: default writer <= reference-equivalent writer on transcripts") {
    // The RLE-level gate (RleSpec) proves default <= refCompat per integer
    // stream; this binds the WHOLE layout: same transcripts fixture, same
    // codec, one writer with the engine's default choices (FSST allowed,
    // DELTA-for-equal, full-precision percentileBits) vs one reproducing the
    // reference's (refCompatRle, no FSST). Every documented deviation must
    // be size-reducing END TO END, not just per stream.
    val df = TranscriptGen.transcripts(spark, 60000, seed = 7)
      .orderBy("conv_id", "turn_idx")
    val schema = df.schema
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val source = rows.toSeq.map(_.toSeq(schema))
    def encode(opts: WriterOpts): (Long, Seq[Seq[Any]]) = {
      val bos = new java.io.ByteArrayOutputStream()
      new MothSpark.TaskEncoder(schema, bos, CompressionKind.ZLIB, opts).encode(rows.iterator)
      val bytes = bos.toByteArray
      val rd = graft.core.file.MothFileReader.fromBytes(bytes)
      val decoded = graft.spark.source.MothVector.rows(schema, rd.batches())
        .map(_.toSeq(schema)).toSeq
      (bytes.length.toLong, decoded)
    }
    val (defaultBytes, defaultRows) = encode(WriterOpts())
    val (compatBytes, compatRows) = encode(
      WriterOpts(refCompatRle = true, fsstEnabled = false))
    assert(defaultBytes <= compatBytes,
      s"default file $defaultBytes B > reference-equivalent $compatBytes B")
    // both layouts decode bit-identically to the source
    assert(defaultRows == source)
    assert(compatRows == source)
  }

  test("DSv2 isin/OR/IsNull pushdown: file pruning at planning + group pruning, correct results") {
    import org.apache.spark.sql.sources.{In, IsNull, Or, EqualTo, GreaterThan}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.spark.source.{MothScanBuilder, MothScan}
    val s = spark
    import s.implicits._
    val d = tmpDir() + "/inprune"
    // two disjoint-key files: k in [0,10k) and [100k,110k); within each file
    // monotone k gives tight per-row-group ranges
    val df = ((0L until 10000L) ++ (100000L until 110000L))
      .toDF("k")
      .withColumn("tag", when(col("k") % 50 === 0, lit(null: String))
        .otherwise(concat(lit("t"), (col("k") % 10).cast("string"))))
    MothSpark.writeFiles(
      df.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      d, "inprune", CompressionKind.ZLIB, WriterOpts(rowGroupMaxRowCount = 1000))
    val schema = spark.read.format("moth").load(d).schema

    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new MothScanBuilder(d, schema)
      b.pushFilters(filters)
      b.build().asInstanceOf[MothScan].planInputPartitions().length
    }
    val all = planned(Array.empty)
    assert(all >= 2, s"expected >=2 partitions unfiltered, got $all")
    // isin on the global minimum key: only the file containing k=0 survives
    // (the range split point is sampled, but contiguous disjoint ranges mean
    // exactly one file can contain the minimum)
    assert(planned(Array(In("k", Array(0L)))) < all,
      "isin should prune non-matching files before task launch")
    // impossible disjunction (below every file's min) prunes everything
    assert(planned(Array(Or(EqualTo("k", -1L), EqualTo("k", -2L)))) == 0)
    // group-level effect: isin over two tight groups decodes far fewer rows
    // (instrument via the core reader with the same translated predicate)
    import graft.spark.source.MothFilters
    val preds = MothFilters.toPreds(schema, In("k", Array(500L, 105500L)))
    assert(preds.nonEmpty)
    val files = new java.io.File(d).listFiles((_, n) => n.endsWith(".moth")).sorted
    val decoded = files.map { f =>
      val rd = graft.core.file.MothFileReader.fromPath(f.getAbsolutePath)
      try rd.batches(predicate = graft.core.file.StatsPredicate(preds))
        .map(_.len.toLong).sum
      finally rd.close()
    }.sum
    assert(decoded <= 2 * 1000, s"isin should prune to <=1 group per file, decoded $decoded rows")
    // end-to-end correctness: residual filters re-applied by Spark
    val moth = spark.read.format("moth").load(d)
    assert(moth.filter(col("k").isin(5L, 100007L, 42L)).select("k").as[Long]
      .collect().sorted.sameElements(Array(5L, 42L, 100007L)))
    assert(moth.filter(col("k").isin(5L, 100007L, 42L)).count() == 3)
    assert(moth.filter(col("tag").isNull).count() ===
      df.filter(col("tag").isNull).count())
    assert(moth.filter(col("k") > 105000L || col("k") < 100L).count() ===
      df.filter(col("k") > 105000L || col("k") < 100L).count())
    // string range pushdown stays correct
    assert(moth.filter(col("tag") >= "t8").count() === df.filter(col("tag") >= "t8").count())
  }

  test("DSv2 date/double/decimal pushdown: file + group pruning, correct results") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    import graft.spark.source.{MothFilters, MothScan, MothScanBuilder}
    val s = spark
    import s.implicits._
    val d = tmpDir() + "/dtprune"
    // monotone k drives a date (1 day per 10 rows), a double and a decimal —
    // tight per-row-group ranges for all three stat families
    val df = (0L until 20000L).toDF("k")
      .withColumn("dt", expr("date_add(date '2020-01-01', cast(k / 10 AS int))"))
      .withColumn("x", col("k").cast("double") / 4.0)
      .withColumn("dec", expr("cast(k / 100.0 AS decimal(12,2))"))
    MothSpark.writeFiles(df.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      d, "dtprune", CompressionKind.ZLIB, WriterOpts(rowGroupMaxRowCount = 1000))
    val schema = spark.read.format("moth").load(d).schema

    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new MothScanBuilder(d, schema)
      b.pushFilters(filters)
      b.build().asInstanceOf[MothScan].planInputPartitions().length
    }
    assert(planned(Array.empty) >= 2)
    // bounds below/above every file's stats prune ALL partitions at planning
    assert(planned(Array(LessThan("dt", java.sql.Date.valueOf("2019-12-31")))) == 0,
      "date below global min must prune every file")
    assert(planned(Array(LessThan("x", -1.0))) == 0,
      "double below global min must prune every file")
    assert(planned(Array(GreaterThanOrEqual("dec",
      new java.math.BigDecimal("99999")))) == 0,
      "decimal above global max must prune every file")
    // group-level: a single-day Eq decodes at most a group per file
    val preds = MothFilters.toPreds(schema,
      EqualTo("dt", java.sql.Date.valueOf("2021-03-01")))
    assert(preds.nonEmpty, "DATE Eq must convert to a pruning predicate")
    val files = new java.io.File(d).listFiles((_, n) => n.endsWith(".moth")).sorted
    val decoded = files.map { f =>
      val rd = graft.core.file.MothFileReader.fromPath(f.getAbsolutePath)
      try rd.batches(predicate = graft.core.file.StatsPredicate(preds))
        .map(_.len.toLong).sum
      finally rd.close()
    }.sum
    assert(decoded <= 2 * 1000,
      s"one-day Eq should decode <=1 group per file, decoded $decoded rows")
    // end-to-end: results equal the source under each pushed family
    val moth = spark.read.format("moth").load(d)
    val cut = java.sql.Date.valueOf("2024-01-01")
    assert(moth.filter(col("dt") >= lit(cut)).count() ==
      df.filter(col("dt") >= lit(cut)).count())
    assert(moth.filter(col("dt") === lit(java.sql.Date.valueOf("2021-03-01"))).count() ==
      df.filter(col("dt") === lit(java.sql.Date.valueOf("2021-03-01"))).count())
    assert(moth.filter(col("x") > 4900.0).count() == df.filter(col("x") > 4900.0).count())
    assert(moth.filter(col("dec") <= lit(new java.math.BigDecimal("1.50"))).count() ==
      df.filter(col("dec") <= lit(new java.math.BigDecimal("1.50"))).count())
  }

  test("runtime filtering: broadcast join key set prunes moth files at execution") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val s = spark
    import s.implicits._
    val d = tmpDir() + "/rtf"
    // two disjoint-key files: a dim-table join touching only low keys must
    // prune the high-key file at execution time via the runtime In filter
    val fact = ((0L until 10000L) ++ (100000L until 110000L)).toDF("k")
      .withColumn("v", (col("k") % 97).cast("long"))
    MothSpark.writeFiles(
      fact.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      d, "rtf", CompressionKind.ZLIB, WriterOpts(rowGroupMaxRowCount = 1000))
    val moth = spark.read.format("moth").load(d)
    // DPP fires when the dim side carries a SELECTIVE predicate whose join
    // keys overlap the scan's filterAttributes; Range (not a LocalRelation,
    // which would fold the Filter away) keeps the predicate visible
    val dim = spark.range(0, 10000).toDF("dk").filter(col("dk") < 50)
    val joined = moth.join(broadcast(dim), col("k") === col("dk"))
    val rows = joined.collect()
    assert(rows.length == 50, s"join must return 50 rows, got ${rows.length}")
    // the executed scan must have seen the runtime filter and planned fewer
    // partitions than the unfiltered table holds (descend through AQE query
    // stages — they are leaves to .collect)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(allNodes)) ++ (p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => allNodes(q.plan)
        case _ => Nil
      })
    val scans = allNodes(joined.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.spark.source.MothScan] => b
    }
    assert(scans.nonEmpty,
      s"no moth BatchScanExec in:\n${joined.queryExecution.executedPlan}")
    val b = scans.head
    info(s"runtimeFilters=${b.runtimeFilters}")
    assert(b.runtimeFilters.nonEmpty,
      "Spark must attach a runtime (DPP) filter to the moth scan")
    val planned = b.inputRDD.getNumPartitions
    val all = spark.read.format("moth").load(d).rdd.getNumPartitions
    info(s"planned=$planned all=$all")
    assert(planned < all,
      s"runtime filter should prune files: planned $planned of $all")
    // equality against the unpruned join
    val expect = fact.join(dim, col("k") === col("dk")).collect()
    assert(rows.map(_.toString).sorted.sameElements(expect.map(_.toString).sorted))
  }

  test("limit pushdown: a small limit plans one stripe, not a full task wave") {
    import graft.spark.source.{MothScan, MothScanBuilder}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val s = spark
    import s.implicits._
    val d = tmpDir() + "/limit"
    // 6 files, several stripes each
    (0L until 60000L).toDF("k")
      .withColumn("pad", expr("repeat(cast(k % 100 AS string), 20)"))
      .repartition(6)
      .write.format("moth").mode("append").save(d)
    val schema = spark.read.format("moth").load(d).schema
    val b = new MothScanBuilder(d, schema)
    assert(b.pushLimit(10))
    val planned = b.build().asInstanceOf[MothScan].planInputPartitions()
    assert(planned.length == 1,
      s"limit(10) should plan exactly one stripe split, got ${planned.length}")
    // a limit larger than the table plans everything and still answers fully
    val b2 = new MothScanBuilder(d, schema)
    assert(b2.pushLimit(1000000))
    assert(b2.build().asInstanceOf[MothScan].planInputPartitions().length >= 6)
    // with a pushed filter the limit is refused (row counts describe the
    // unfiltered file)
    val b3 = new MothScanBuilder(d, schema)
    b3.pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("k", 100L)))
    assert(!b3.pushLimit(10))
    // end-to-end through Catalyst: plan carries a capped scan, rows exact
    val q = spark.read.format("moth").load(d).limit(10)
    assert(q.collect().length == 10)
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(allNodes)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allNodes(qs.plan)
        case _ => Nil
      })
    val scans = allNodes(q.queryExecution.executedPlan).collect {
      case bx: BatchScanExec if bx.scan.isInstanceOf[MothScan] => bx
    }
    assert(scans.nonEmpty)
    assert(scans.head.inputRDD.getNumPartitions <= 1,
      s"pushed limit should cap planned partitions, got ${scans.head.inputRDD.getNumPartitions}")
  }

  test("reported ordering: per-partition re-sort elided, global sort stays correct") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(allNodes)) ++ (p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => allNodes(q.plan)
        case _ => Nil
      })
    val d = tmpDir() + "/ord"
    // HASH-partitioned (overlapping key ranges) but sorted WITHIN partitions
    val df = TranscriptGen.transcripts(spark, 20000, seed = 4)
    MothSpark.writeFiles(
      df.repartition(3, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx"),
      d, "ord", CompressionKind.ZLIB, WriterOpts(), Seq("conv_id", "turn_idx"))
    val moth = spark.read.format("moth").load(d)
    // per-partition re-sort on the reported prefix is ELIDED
    val q1 = moth.sortWithinPartitions("conv_id", "turn_idx")
    q1.collect()
    val sorts1 = allNodes(q1.queryExecution.executedPlan).collect { case s: SortExec => s }
    assert(sorts1.isEmpty,
      s"sortWithinPartitions over reported ordering must elide the Sort:\n${q1.queryExecution.executedPlan}")
    // a DIFFERENT per-partition order still sorts
    val q2 = moth.sortWithinPartitions("turn_idx")
    assert(allNodes(q2.queryExecution.executedPlan).collect { case s: SortExec => s }.nonEmpty)
    // GLOBAL orderBy over overlapping files must still produce a true global
    // order (per-partition ordering must never be mistaken for global)
    val global = moth.orderBy("conv_id", "turn_idx")
      .select(concat_ws("#", col("conv_id"), col("turn_idx")))
      .collect().map(_.getString(0))
    val expect = df.orderBy("conv_id", "turn_idx")
      .select(concat_ws("#", col("conv_id"), col("turn_idx")))
      .collect().map(_.getString(0))
    assert(global.sameElements(expect), "global orderBy must stay globally sorted")
    // DSv2 write path: option(sortedBy) tags only truly-sorted data
    val d2 = tmpDir() + "/ord2"
    df.repartition(2, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx")
      .write.format("moth").option("sortedBy", "conv_id,turn_idx").mode("append").save(d2)
    val q3 = spark.read.format("moth").load(d2).sortWithinPartitions("conv_id", "turn_idx")
    q3.collect()
    assert(allNodes(q3.queryExecution.executedPlan).collect { case s: SortExec => s }.isEmpty,
      "sortedBy-tagged DSv2 write must report ordering")
    val d3 = tmpDir() + "/ord3"
    // UNSORTED data with the option: files must stay untagged → sort remains
    df.repartition(2).write.format("moth")
      .option("sortedBy", "conv_id,turn_idx").mode("append").save(d3)
    val q4 = spark.read.format("moth").load(d3).sortWithinPartitions("conv_id", "turn_idx")
    q4.collect()
    assert(allNodes(q4.queryExecution.executedPlan).collect { case s: SortExec => s }.nonEmpty,
      "unsorted data must not be tagged as sorted")
  }

  test("streaming cleanSource=archive: watched dir stays bounded, results complete, restart-safe") {
    val s = spark
    import s.implicits._
    val watch = tmpDir() + "/in"
    val arch = tmpDir() + "/arch"
    val ckpt = tmpDir() + "/ckpt"
    def addFile(lo: Long): Unit =
      (lo until lo + 100L).toDF("v").coalesce(1)
        .write.format("moth").mode("append").save(watch)
    (0 until 8).foreach(i => addFile(i * 100L))
    val schema = spark.read.format("moth").load(watch).schema
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = spark.readStream.format("moth").schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", arch)
        .option("logCompactInterval", "2")
        .load(watch)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.as[Long].collect().foreach(seen.add); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(seen.size == 800, s"all rows must arrive exactly once, got ${seen.size}")
    val remaining = new java.io.File(watch).listFiles((_, n) => n.endsWith(".moth"))
    val archived = new java.io.File(arch).listFiles((_, n) => n.endsWith(".moth"))
    info(s"remaining=${remaining.length} archived=${archived.length}")
    assert(archived.nonEmpty, "processed files must be archived")
    assert(remaining.length <= 4,
      s"watched dir must stay bounded (~2 compact intervals), has ${remaining.length}")
    assert(remaining.length + archived.length == 8, "no file lost or duplicated")
    // restart: new files only; archived ones are in the seen log and gone
    // from the dir — never re-admitted
    (8 until 10).foreach(i => addFile(i * 100L))
    run()
    assert(seen.size == 1000,
      s"restart must process exactly the two new files, got ${seen.size}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted == (0L until 1000L))
  }

  test("topN pushdown: orderBy(sortKey).limit over tagged files plans leading stripes only") {
    import graft.spark.source.{MothScan, MothScanBuilder}
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    val d = tmpDir() + "/topn"
    // 3 sorted+tagged files, several small stripes each
    val df = TranscriptGen.transcripts(spark, 30000, seed = 11)
    MothSpark.writeFiles(
      df.repartition(3, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx"),
      d, "topn", CompressionKind.ZLIB,
      WriterOpts(stripeMinBytes = 1 << 16, stripeMaxBytes = 1 << 17),
      Seq("conv_id", "turn_idx"))
    val schema = spark.read.format("moth").load(d).schema
    def order(c: String) = Expressions.sort(Expressions.column(c),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)
    // ascending prefix of the verified tag: accepted, plans only each
    // file's LEADING stripe — a small fraction of the table's bytes
    val b1 = new MothScanBuilder(d, schema)
    assert(b1.pushTopN(Array(order("conv_id")), 10))
    val parts = b1.build().asInstanceOf[MothScan].planInputPartitions()
      .map(_.asInstanceOf[graft.spark.source.MothInputPartition])
    assert(parts.length == 3, s"one leading stripe per file, got ${parts.length}")
    val spanned = parts.map(p => p.end - p.start).sum
    val totalBytes = new java.io.File(d).listFiles((_, n) => n.endsWith(".moth"))
      .map(_.length).sum
    assert(spanned < totalBytes / 3,
      s"topN should cover a fraction of the table: $spanned of $totalBytes bytes")
    // non-prefix / descending / untagged: refused
    val b2 = new MothScanBuilder(d, schema)
    assert(!b2.pushTopN(Array(order("turn_idx")), 10), "non-prefix order must refuse")
    val b3 = new MothScanBuilder(d, schema)
    assert(!b3.pushTopN(Array(Expressions.sort(Expressions.column("conv_id"),
      SortDirection.DESCENDING, NullOrdering.NULLS_LAST)), 10))
    // end-to-end: Catalyst drives the pushdown and the result is exact
    val moth = spark.read.format("moth").load(d)
    val got = moth.orderBy("conv_id", "turn_idx").limit(7).collect().toSeq
    val expect = df.orderBy("conv_id", "turn_idx").limit(7).collect().toSeq
    assert(got == expect, "topN result must equal the full sort+limit")
  }

  test("columnar scan: vectorized batches equal row decode, incl. nested types") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(6)
    val df = (0 until 2000).map { i =>
      val tags = if (i % 9 == 0) null else (0 to rnd.nextInt(3)).map(k => s"t$k-${rnd.nextInt(5)}")
      val m = if (i % 11 == 0) null else Map(s"k${i % 3}" -> i.toLong)
      val st = if (i % 7 == 0) null else (i.toLong * 3, s"name-$i")
      (i.toLong, s"text-$i-${rnd.nextInt(100)}", rnd.nextDouble(), tags, m, st)
    }.toDF("id", "txt", "score", "tags", "m", "st")
    val d = tmpDir() + "/col"
    df.write.format("moth").mode("append").save(d)
    val back = spark.read.format("moth").load(d)
    // plan must consume the scan columnar (ColumnarToRow over BatchScan)
    val q = back.orderBy("id")
    val rows = q.collect().toSeq
    val expect = df.orderBy("id").collect().toSeq
    assert(rows == expect, "columnar scan decode mismatch")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected columnar scan consumption:\n$plan")
    // aggregates over the columnar path too
    val agg = back.agg(sum("id"), count(lit(1))).collect().head
    assert(agg.getLong(0) == (0L until 2000L).sum && agg.getLong(1) == 2000L)
  }

  test("TIME type: Spark TimeType column roundtrips through moth write/read") {
    val df = spark.sql(
      """SELECT id,
        |  cast(concat(lpad(cast(id % 24 AS string), 2, '0'), ':',
        |              lpad(cast(id % 60 AS string), 2, '0'), ':',
        |              lpad(cast(id % 60 AS string), 2, '0'), '.123456') AS time) AS tm,
        |  CASE WHEN id % 7 = 0 THEN NULL ELSE
        |    cast(concat('0', cast(id % 10 AS string), ':30:00') AS time) END AS tm2
        |FROM range(0, 1000)""".stripMargin)
    val d = tmpDir() + "/time"
    df.write.format("moth").mode("append").save(d)
    val back = spark.read.format("moth").load(d)
    assert(back.schema("tm").dataType.typeName.startsWith("time"),
      s"expected TIME, got ${back.schema("tm").dataType}")
    val a = df.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(a == b, "TIME roundtrip mismatch")
  }

  test("simhash de-skew: spam cluster contributes no pairs, distinct near-pair survives") {
    val s = spark
    import s.implicits._
    val spam = (0L until 5000L).map(i => (i, "identical spam text for the simhash bucket " * 6))
    val pair = Seq(
      (20001L, "some distinct long document about columnar encoders and stripes " * 6),
      (20002L, "some distinct long document about columnar encoders and stripes " * 6))
    val docs = (spam ++ pair).toDF("doc_id", "text")
    val pairs = TextOps.simHashPairs(spark, docs).collect()
    assert(pairs.exists(r => r.getLong(0) == 20001L && r.getLong(1) == 20002L))
    assert(!pairs.exists(r => r.getLong(0) < 5000L),
      "spam bucket (size 5000 > cap) must contribute no pairs")
  }

  test("transcripts roundtrip: per-turn text equality under stable ordering") {
    val df = TranscriptGen.transcripts(spark, 30000, seed = 42L, partitions = 4)
    val back = MothSpark.roundtrip(df, CompressionKind.ZLIB)
    val a = df.orderBy("conv_id", "turn_idx").collect()
    val b = back.orderBy("conv_id", "turn_idx").collect()
    assert(a.length == b.length && a.length > 25000)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row mismatch: $x vs $y") }
  }

  test("roundtrip order contract: sorted multi-partition input comes back in input order") {
    // queries sort BEFORE roundtrip, so emitted order must be partition index
    // order, then row order within each partition — compared with no re-sort
    val df = TranscriptGen.transcripts(spark, 30000, seed = 42L, partitions = 4)
      .orderBy("conv_id", "turn_idx")
    val back = MothSpark.roundtrip(df, CompressionKind.ZLIB)
    assert(back.rdd.getNumPartitions >= 4, s"only ${back.rdd.getNumPartitions} partitions")
    val a = df.collect()
    val b = back.collect()
    assert(a.length == b.length && a.length > 25000)
    a.indices.foreach(i => assert(a(i) == b(i), s"row $i: ${a(i)} vs ${b(i)}"))
  }

  test("roundtrip hands back every mapped type unchanged, in input order") {
    // one column per SparkBridge.toMothType case, nulls in each, nested
    // nulls at every level (null list elements, null struct over a struct)
    val df = spark.sql(
      """SELECT id,
        |  CASE WHEN id % 11 = 0 THEN NULL ELSE id % 3 = 0 END AS bool,
        |  cast(id % 256 - 128 AS tinyint) AS i8,
        |  CASE WHEN id % 13 = 0 THEN NULL ELSE cast(id * 7 % 65536 - 32768 AS smallint) END AS i16,
        |  cast(id * 2654435761 % 4294967296 - 2147483648 AS int) AS i32,
        |  CASE WHEN id % 5 = 0 THEN NULL ELSE id * 1000003 - 9223372036854 END AS i64,
        |  cast(id / 7.0 AS float) AS f32,
        |  CASE WHEN id % 17 = 0 THEN NULL ELSE cast(id AS double) / 3 - 700 END AS f64,
        |  cast(id / 100.0 - 20 AS decimal(10,2)) AS dec10,
        |  CASE WHEN id % 19 = 0 THEN NULL ELSE cast(concat(CASE WHEN id % 2 = 0 THEN '-' ELSE '' END,
        |    cast(id AS string), '1234567890123456789.12345') AS decimal(30,5)) END AS dec30,
        |  CASE WHEN id % 4 = 0 THEN NULL WHEN id % 4 = 1 THEN '' ELSE concat('s-', id) END AS s,
        |  CASE WHEN id % 6 = 0 THEN NULL WHEN id % 6 = 1 THEN X'' ELSE unhex(hex(id * 12345)) END AS bin,
        |  date_add(DATE'1969-12-01', cast(id AS int)) AS dt,
        |  CASE WHEN id % 23 = 0 THEN NULL ELSE timestamp_micros(1600000000000000 + id * 1000003) END AS ts,
        |  cast(timestamp_micros(-1000000 + id * 999) AS timestamp_ntz) AS ntz,
        |  CASE WHEN id % 8 = 0 THEN NULL ELSE
        |    cast(concat(lpad(cast(id % 24 AS string), 2, '0'), ':',
        |                lpad(cast(id % 60 AS string), 2, '0'), ':',
        |                lpad(cast(id % 59 AS string), 2, '0'), '.123456') AS time) END AS tm,
        |  CASE WHEN id % 10 = 0 THEN NULL
        |       WHEN id % 10 = 1 THEN array()
        |       ELSE array(named_struct('k', id, 's', concat('e', id)), NULL,
        |                  named_struct('k', -id, 's', CAST(NULL AS string))) END AS arr,
        |  CASE WHEN id % 9 = 0 THEN NULL
        |       ELSE map(concat('m', id % 3), array(cast(id AS int), NULL),
        |                'z', cast(array() AS array<int>)) END AS m,
        |  CASE WHEN id % 7 = 0 THEN NULL
        |       ELSE named_struct('a', cast(id AS int),
        |                         'b', CASE WHEN id % 2 = 0 THEN NULL ELSE concat('n', id) END,
        |                         'in', CASE WHEN id % 3 = 0 THEN NULL ELSE named_struct('x', id) END) END AS st
        |FROM range(0, 6000, 1, 4)""".stripMargin)
    val mapped = df.schema.fields.map(_.dataType.typeName).toSet
    Seq("boolean", "byte", "short", "integer", "long", "float", "double", "decimal(10,2)",
        "decimal(30,5)", "string", "binary", "date", "timestamp", "timestamp_ntz", "array",
        "map", "struct").foreach(t => assert(mapped(t), s"fixture lacks $t: ${df.schema}"))
    assert(mapped.exists(_.startsWith("time(")), s"fixture lacks TIME: ${df.schema}")
    val back = MothSpark.roundtrip(df)
    assert(back.rdd.getNumPartitions == 4)
    // decoded rows reach Spark through RDDScanExec, whose per-row
    // UnsafeProjection copies each (possibly reused) row
    assert(back.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.RDDScanExec => s
    }.isDefined, back.queryExecution.executedPlan.toString)
    val a = df.collect()
    val b = back.collect()
    assert(a.length == 6000 && b.length == a.length)
    a.indices.foreach(i => assert(a(i) == b(i), s"row $i: ${a(i)} vs ${b(i)}"))
  }

  test("writeFiles: a task failing mid-partition leaves no tmp file behind") {
    val out = tmpDir()
    // one partition: the only task is the failing one
    val df = spark.range(0, 1000, 1, 1).select(col("id"),
      when(col("id") < 900, col("id") * 3).otherwise(raise_error(lit("row 900"))).as("v"))
    val e = intercept[Exception](MothSpark.writeFiles(df, out, "debris"))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("row 900")), e.toString)
    val left = new java.io.File(out).list().filter(_.endsWith(".tmp"))
    assert(left.isEmpty, s"task debris: ${left.mkString(", ")}")
  }

  test("manifest round-trip: keys with tab, newline, quote, backslash and non-ASCII") {
    val d = tmpDir()
    val key = "conv\t1\"x\\y\né|42"
    val withKeys = Manifest(3, s"snap\t$key", 10L, 100L, 50L, s"part\n$key.moth",
      Nil, Some(key), Some(key + "\u0001"))
    val empty = Manifest(4, "snap", 0L, 0L, 0L, null, Nil, None, None)
    for (m <- Seq(withKeys, empty)) {
      val p = Manifest.path(d, m.partition)
      m.write(p)
      assert(Manifest.read(p) == m)
    }
    assert(Manifest.readIfValid(Manifest.path(d, 3), s"snap\t$key").contains(withKeys))
  }

  test("encode job is deterministic: same input => byte-identical files") {
    val (d1, d2) = (tmpDir(), tmpDir())
    for (d <- Seq(d1, d2))
      EncodeJob.run(spark, Map("out" -> d, "turns" -> "20000",
        "partitions" -> "4", "partitioning" -> "hash"))
    val f1 = new java.io.File(d1).listFiles().filter(_.getName.endsWith(".moth")).sortBy(_.getName)
    val f2 = new java.io.File(d2).listFiles().filter(_.getName.endsWith(".moth")).sortBy(_.getName)
    assert(f1.length == f2.length && f1.nonEmpty)
    f1.zip(f2).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(a.toPath),
        java.nio.file.Files.readAllBytes(b.toPath)), s"${a.getName} differs")
    }
  }

  test("isin beyond the pushdown cap stays correct (residual filter, no pruning)") {
    val d = tmpDir()
    EncodeJob.run(spark, Map("out" -> d, "turns" -> "20000", "partitions" -> "2"))
    val moth = spark.read.format("moth").load(d)
    val direct = MothSpark.readFiles(spark, d)
    // beyond MaxInListPushdown (256) conversion yields no predicate: the
    // filter must still be answered exactly by Spark's residual evaluation
    val big = (0 until 300).map(i => f"conv-${i * 7}%012d")
    assert(moth.filter(col("conv_id").isin(big: _*)).count() ==
      direct.filter(col("conv_id").isin(big: _*)).count())
    // within the cap the bloom-tested disjunction prunes and stays exact
    val small = (0 until 16).map(i => f"conv-${i * 7}%012d")
    assert(moth.filter(col("conv_id").isin(small: _*)).count() ==
      direct.filter(col("conv_id").isin(small: _*)).count())
  }

  test("listMothOrEmpty: absent dir is empty, malformed path fails loudly") {
    import graft.spark.source.MothTable
    assert(MothTable.listMothOrEmpty(tmpDir() + "/does-not-exist").isEmpty)
    intercept[IllegalArgumentException] {
      MothTable.listMothOrEmpty("::not a uri::")
    }
  }

  test("staged-table input: encode job over parquet equals generate-inline (bench path)") {
    // the bench stages the transcripts as a parquet table and times the
    // encode job over it (SPARK_GRAFT_INPUT); the staged path must encode
    // exactly the same logical data as generate-inline
    val staged = tmpDir()
    TranscriptGen.transcripts(spark, 20000, partitions = 4)
      .write.mode("overwrite").parquet(staged)
    val (dInline, dStaged) = (tmpDir(), tmpDir())
    EncodeJob.run(spark, Map("out" -> dInline, "turns" -> "20000",
      "partitions" -> "4", "partitioning" -> "hash"))
    EncodeJob.run(spark, Map("out" -> dStaged, "input" -> staged,
      "partitions" -> "4", "partitioning" -> "hash"))
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").map(col)
    val a = MothSpark.readFiles(spark, dInline)
      .orderBy("conv_id", "turn_idx").select(cols: _*).collect()
    val b = MothSpark.readFiles(spark, dStaged)
      .orderBy("conv_id", "turn_idx").select(cols: _*).collect()
    assert(a.nonEmpty && a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row differs: $x vs $y") }
    // both carry the verified sort tag (scan reports ordering either way)
    for (d <- Seq(dInline, dStaged)) {
      val f = new java.io.File(d).listFiles().filter(_.getName.endsWith(".moth")).head
      val rd = graft.core.file.MothFileReader.fromPath(f.getAbsolutePath)
      assert(rd.userMetadata.get(MothSpark.SortedByKey).contains("conv_id,turn_idx"))
      rd.close()
    }
  }

  test("resume: killed partitions are regenerated byte-identically, others skipped") {
    val d = tmpDir()
    val args = Map("out" -> d, "turns" -> "20000", "partitions" -> "4",
      "partitioning" -> "hash")
    EncodeJob.run(spark, args)
    val files = new java.io.File(d).listFiles().filter(_.getName.endsWith(".moth")).sortBy(_.getName)
    val hashes = files.map(f => f.getName ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))).toMap
    // simulate kill: drop one partition's file + manifest
    val victim = files(1)
    val pid = victim.getName.stripPrefix("part-").stripSuffix(".moth").toInt
    assert(victim.delete())
    assert(new java.io.File(Manifest.path(d, pid)).delete())
    val survivorMtime = files(0).lastModified()
    Thread.sleep(1100)
    EncodeJob.run(spark, args)
    val after = new java.io.File(d).listFiles().filter(_.getName.endsWith(".moth")).sortBy(_.getName)
    assert(after.length == files.length)
    after.foreach { f =>
      assert(hashes(f.getName) ==
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath)),
        s"${f.getName} not byte-identical after resume")
    }
    assert(files(0).lastModified() == survivorMtime, "survivor was rewritten")
  }

  test("salting splits heavy conversations while preserving turn order") {
    val s = spark
    import s.implicits._
    // one giant conversation + noise, salt block 1000
    val giant = (0 until 5000).map(i => ("conv-giant", i))
    val noise = (0 until 100).flatMap(c => (0 until 10).map(i => (f"conv-$c%04d", i)))
    val df = (giant ++ noise).toDF("conv_id", "turn_idx")
    val salted = TranscriptGen.withSalt(df, saltBlockRows = 1000)
    val saltCount = salted.filter(col("conv_id") === "conv-giant")
      .select("salt").distinct().count()
    assert(saltCount == 5, s"expected 5 salt blocks, got $saltCount")
    // (conv_id, salt) stays contiguous in turn order: salt is monotone in turn_idx
    val rows = salted.filter(col("conv_id") === "conv-giant")
      .orderBy("turn_idx").select("salt").as[Int].collect()
    assert(rows.zip(rows.tail).forall { case (a, b) => a <= b })
  }

  test("entry() smoke: flagship query returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("roundtrip preserves nulls and empty strings (transcripts nullable cols)") {
    val df = TranscriptGen.transcripts(spark, 20000, seed = 7L, partitions = 2)
    val nullTexts = df.filter(col("text").isNull).count()
    val emptyTexts = df.filter(col("text") === "").count()
    val nullTools = df.filter(col("tool").isNull).count()
    assert(nullTexts > 0 && emptyTexts > 0 && nullTools > 0, "generator must exercise nulls")
    val back = MothSpark.roundtrip(df)
    assert(back.filter(col("text").isNull).count() == nullTexts)
    assert(back.filter(col("text") === "").count() == emptyTexts)
    assert(back.filter(col("tool").isNull).count() == nullTools)
  }

  // NOTE: parquet is a DIFFERENT format (its encodings aren't the reference
  // contract), so this is a sanity envelope, not the size gate. The binding
  // "≤ reference-equivalent size" assertion is RleSpec's size-parity test
  // (refCompat writer), plus layout identity by construction elsewhere.
  test("size sanity: encoded transcripts within 15% of parquet-zstd on the same data") {
    val d = tmpDir()
    val df = TranscriptGen.transcripts(spark, 50000, seed = 42L, partitions = 2)
    val manifests = MothSpark.writeFiles(
      TranscriptGen.withSalt(df, 65536)
        .repartitionByRange(2, col("conv_id"), col("salt"), col("turn_idx"))
        .sortWithinPartitions("conv_id", "turn_idx").drop("salt"),
      d, "size-test", CompressionKind.ZSTD)
    val mothBytes = manifests.map(_.fileBytes).sum
    val pq = tmpDir()
    df.orderBy("conv_id", "turn_idx").coalesce(2)
      .write.mode("overwrite").option("compression", "zstd").parquet(pq)
    val pqBytes = new java.io.File(pq).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    info(s"moth=$mothBytes parquet-zstd=$pqBytes")
    assert(mothBytes < pqBytes * 1.15,
      s"MOTH ($mothBytes) should be within 15% of parquet-zstd ($pqBytes)")
  }

  test("isin pushdown is capped: a 10k-element list converts to no predicate, results stay exact") {
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.spark.source.MothFilters
    val schema = StructType(Seq(StructField("k", LongType)))
    // over the Or-of-Eq cap: converts to ONE sorted-membership predicate
    // (binary search per unit), not a 10k-branch OrPred
    val big = In("k", (0L until 10000L).map(_.asInstanceOf[Any]).toArray)
    assert(MothFilters.toPreds(schema, big) match {
      case Seq(graft.core.file.LongInPred("k", sorted)) => sorted.length == 10000
      case _ => false
    }, "10k isin must convert to a single sorted-membership predicate")
    // over MaxInListSorted: planning-time pruning opts out entirely
    val huge = In("k", (0L until MothFilters.MaxInListSorted + 1L)
      .map(_.asInstanceOf[Any]).toArray)
    assert(MothFilters.toPreds(schema, huge).isEmpty, "oversized isin must not convert")
    // at the Or-of-Eq cap: still converts (bloom-tested Eq disjunction)
    val ok = In("k", (0L until MothFilters.MaxInListPushdown.toLong)
      .map(_.asInstanceOf[Any]).toArray)
    assert(MothFilters.toPreds(schema, ok).nonEmpty)
    // end-to-end: an oversized isin still answers correctly (residual filter)
    val s = spark
    import s.implicits._
    val d = tmpDir() + "/incap"
    (0L until 5000L).toDF("k").write.format("moth").mode("append").save(d)
    val hits = spark.read.format("moth").load(d)
      .filter(col("k").isin((0L until 10000L).map(_.asInstanceOf[Any]): _*))
      .count()
    assert(hits == 5000L)
  }

  test("dedup helpers leave no Dataset cache behind (CacheManager empty after use)") {
    val s = spark
    import s.implicits._
    spark.catalog.clearCache()
    val docs = (0L until 500L)
      .map(i => (i, s"document body number ${i % 40} with shared text " * 6))
      .toDF("doc_id", "text")
    TextOps.minHashPairs(spark, docs).count()
    TextOps.simHashPairs(spark, docs).count()
    // the signature caches were unpersisted after materialization; a leaked
    // Dataset cache would pin its blocks in the session CacheManager forever
    assert(spark.sharedState.cacheManager.isEmpty,
      "TextOps must not leave Dataset caches registered")
  }
}

/** Test-only Hadoop FileSystem under the `testfs:` scheme, mapping onto the
  * local filesystem — proves no code path shortcuts to java.io.File.
  */
class TestLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("testfs:///")
}
