package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.core.file.StatsPredicate
import graft.spark.source.{MothMicroBatchStream, MothStreamOpts, MothTable}

/** Round-5 ADVICE fixes at the Spark layer: archive-dir true-ancestry
  * containment, and the commonSortTag agreement check.
  */
class Round5FixesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-round5")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-r5").toString

  private def mkStream(watched: String, archive: String): MothMicroBatchStream =
    new MothMicroBatchStream(watched, new org.apache.spark.sql.types.StructType(),
      StatsPredicate.True,
      MothStreamOpts(cleanSource = "archive", archiveDir = Some(archive)),
      checkpointLocation = tmpDir())

  test("archive containment: sibling dir with shared name prefix is ACCEPTED") {
    val root = tmpDir()
    val watched = s"$root/in"
    new java.io.File(watched).mkdirs()
    // raw startsWith would reject this legitimate sibling
    mkStream(watched, s"$root/in-archive")
  }

  test("archive containment: nested dir rejected under every spelling") {
    val root = tmpDir()
    val watched = s"$root/in"
    new java.io.File(watched).mkdirs()
    for (nested <- Seq(
        s"$watched/arch",       // plain nesting
        s"$watched/arch/",      // trailing slash
        s"$watched",            // the watched dir itself
        s"$watched/",           // itself, trailing slash
        s"file:$watched/arch")) // scheme-qualified form of a nested dir
      assertThrows[IllegalArgumentException](mkStream(watched, nested))
  }

  test("large isin (beyond Or-of-Eq cap) prunes files and answers exactly") {
    import graft.spark.source.{MothScan, MothScanBuilder}
    val dir = tmpDir()
    // range partitioning → disjoint per-file envelopes, so stats can refute
    spark.range(0, 9000).selectExpr("id AS k", "cast(id AS string) AS s")
      .repartitionByRange(3, org.apache.spark.sql.functions.col("k"))
      .write.format("moth").mode("append").save(dir)
    val schema = spark.read.format("moth").load(dir).schema
    val all = new MothScanBuilder(dir, schema).build()
      .asInstanceOf[MothScan].planInputPartitions().length
    // 300 long keys inside one range third
    val keys = (0 until 300).map(i => 1000L + i * 3)
    val b = new MothScanBuilder(dir, schema)
    b.pushFilters(Array(org.apache.spark.sql.sources.In("k",
      keys.map(java.lang.Long.valueOf).toArray[Any])))
    val planned = b.build().asInstanceOf[MothScan].planInputPartitions().length
    assert(planned < all, s"expected pruning, planned $planned of $all")
    // 300 string keys, same locality (strings sort differently but all
    // share the '1xxx'/'2xxx' prefix region of one file)
    val sKeys = (0 until 300).map(i => (1000 + i).toString)
    val b2 = new MothScanBuilder(dir, schema)
    b2.pushFilters(Array(org.apache.spark.sql.sources.In("s", sKeys.toArray[Any])))
    val planned2 = b2.build().asInstanceOf[MothScan].planInputPartitions().length
    assert(planned2 < all, s"expected string pruning, planned $planned2 of $all")
    // and the answers are exact (residual filter catches in-envelope misses)
    val got = spark.read.format("moth").load(dir)
      .filter(org.apache.spark.sql.functions.col("k").isin(keys: _*))
      .agg(org.apache.spark.sql.functions.sum("k")).head.getLong(0)
    assert(got == keys.sum)
  }

  test("sorted-membership envelope search: bounds and bloom cap") {
    import graft.core.file.StatsPredicate._
    val xs = Array(5L, 10L, 20L)
    assert(anyInLong(xs, 0, 4) == false)
    assert(anyInLong(xs, 0, 5))
    assert(anyInLong(xs, 6, 9) == false)
    assert(anyInLong(xs, 6, 10))
    assert(anyInLong(xs, 21, 100) == false)
    assert(anyInLong(xs, 20, 20))
    assert(anyInLong(xs, 100, 0) == false) // inverted envelope
    def b(s: String) = s.getBytes("UTF-8")
    val ss = Array(b("bb"), b("dd"))
    assert(anyInBytes(ss, b("a"), b("b")) == false)
    assert(anyInBytes(ss, b("a"), b("bb")))
    assert(anyInBytes(ss, b("bc"), b("dc")) == false)
    assert(anyInBytes(ss, b("bc"), b("dd")))
    assert(anyInBytes(ss, b("de"), b("zz")) == false)
  }

  test("metadata columns: _moth_file/_moth_pos trace rows to file coordinates") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir()
    spark.range(0, 5000).selectExpr("id AS k", "cast(id AS string) AS s")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.format("moth").mode("append").save(dir)
    val df = spark.read.format("moth").load(dir)
    // hidden from SELECT *
    assert(!df.columns.contains("_moth_file"))
    val rows = df.select(col("k"), col("_moth_file"), col("_moth_pos")).collect()
    assert(rows.length == 5000)
    val byFile = rows.groupBy(_.getString(1))
    assert(byFile.size == 2, s"expected 2 files, got ${byFile.keySet}")
    byFile.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(2))
      // pos is a dense 0..n-1 ordinal per file
      assert(sorted.map(_.getLong(2)).toSeq == (0L until rs.length).toSeq)
      // files were written k-sorted, so pos order == k order
      assert(sorted.map(_.getLong(0)).toSeq == sorted.map(_.getLong(0)).sorted.toSeq)
    }
    // metadata-only projection works (no data column read at all)
    assert(df.select("_moth_pos").count() == 5000)
  }

  test("metadata positions stay true file ordinals under row-group pruning") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir()
    // one sorted file, 35000 rows → 4 row groups at the default 10k stride;
    // k == file ordinal by construction
    spark.range(0, 35000).selectExpr("id AS k")
      .coalesce(1).sortWithinPartitions("k")
      .write.format("moth").mode("append").save(dir)
    val got = spark.read.format("moth").load(dir)
      .filter(col("k").between(20000, 20010))
      .select("k", "_moth_pos").collect()
    assert(got.length == 11)
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"pos ${r.getLong(1)} != k ${r.getLong(0)} (pruned groups miscounted)"))
  }

  test("streaming maxBytesPerTrigger: backlog drains as byte-bounded batches") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir()
    spark.range(0, 4000).selectExpr("id", "cast(id AS string) AS text")
      .repartition(4).write.format("moth").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".moth"))
    assert(files.length == 4)
    val maxSize = files.map(_.length).max
    val schema = spark.read.format("moth").load(dir).schema
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    // cap below 2 files → one file per micro-batch
    val q = spark.readStream.format("moth").schema(schema)
      .option("maxBytesPerTrigger", (maxSize + 1).toString).load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }; ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.get() == 4, s"expected 4 byte-capped micro-batches, got ${batches.get()}")
    assert(rows.get() == 4000L)
  }

  test("streaming latestFirst: newest file admitted first; oversized file still admitted") {
    import graft.spark.source.{MothInputPartition, MothLogOffset}
    val dir = tmpDir()
    spark.range(0, 300).selectExpr("id", "cast(id AS string) AS text")
      .repartition(3).write.format("moth").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".moth"))
      .sortBy(_.getName)
    assert(files.length == 3)
    val now = System.currentTimeMillis()
    // make the alphabetically-FIRST file the NEWEST (order must follow
    // mtime, not name)
    files(0).setLastModified(now)
    files(1).setLastModified(now - 60000)
    files(2).setLastModified(now - 30000)
    val schema = spark.read.format("moth").load(dir).schema
    val stream = new MothMicroBatchStream(dir, schema, StatsPredicate.True,
      MothStreamOpts(maxFilesPerTrigger = Some(1), latestFirst = true),
      checkpointLocation = tmpDir())
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset(o0, stream.getDefaultReadLimit)
    val first = stream.planInputPartitions(o0, o1)
      .map(_.asInstanceOf[MothInputPartition].file)
    assert(first.length == 1 && first.head.endsWith(files(0).getName),
      s"latestFirst must admit the newest file, got ${first.toSeq}")
    val o2 = stream.latestOffset(o1, stream.getDefaultReadLimit)
    val second = stream.planInputPartitions(o1, o2)
      .map(_.asInstanceOf[MothInputPartition].file)
    assert(second.length == 1 && second.head.endsWith(files(2).getName),
      s"second-newest next, got ${second.toSeq}")
    // a byte cap smaller than any single file must still admit one file
    val stream2 = new MothMicroBatchStream(dir, schema, StatsPredicate.True,
      MothStreamOpts(maxBytesPerTrigger = Some(1L)),
      checkpointLocation = tmpDir())
    val p0 = stream2.initialOffset()
    val p1 = stream2.latestOffset(p0, stream2.getDefaultReadLimit)
    assert(stream2.planInputPartitions(p0, p1).length == 1,
      "an oversized file must not wedge the query")
  }

  test("commonSortTag: read from one listing, lost after an untagged append") {
    val dir = tmpDir()
    val df = spark.range(100).selectExpr("id AS k", "cast(id AS string) AS s")
      .coalesce(1).sortWithinPartitions("k")
    df.write.format("moth").option("sortedBy", "k").mode("append").save(dir)
    assert(MothTable.commonSortTag(MothTable.listing(dir)).contains(Seq("k")))
    // a new UNTAGGED file joins the next listing: the agreement check fails
    df.write.format("moth").mode("append").save(dir)
    assert(MothTable.commonSortTag(MothTable.listing(dir)).isEmpty)
  }
}
