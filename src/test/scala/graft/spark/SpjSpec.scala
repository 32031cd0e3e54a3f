package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.spark.source.{MothBucket, MothBucketBound, MothTable}

/** Storage-partitioned joins: two moth tables hash-bucketed on their join
  * keys (verified footer tags) loaded through MothCatalog join WITHOUT a
  * shuffle on either side — the single largest shuffle elision available
  * to a fact⋈fact join at 100 TB.
  */
class SpjSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = java.nio.file.Files.createTempDirectory("graft-spj-wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spj")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.mothcat", "graft.spark.source.MothCatalog")
      .config("spark.sql.catalog.mothcat.warehouse", warehouse)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val more = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allNodes(q.plan)
      case _ => Nil
    }
    p +: (p.children.flatMap(allNodes) ++ more)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    allNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
  }

  private def facts(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong % 500, s"c$i", i.toLong)).toDF("k", "tag", "v")
  }

  test("co-bucketed moth tables join with ZERO shuffles, exact results") {
    val a = facts(4000)
    val b = facts(6000).withColumnRenamed("v", "w").withColumnRenamed("tag", "tag2")
    MothSpark.writeBucketed(a, s"$warehouse/ta", Seq("k"), 8)
    MothSpark.writeBucketed(b, s"$warehouse/tb", Seq("k"), 8)
    // verified layout round-trips through the footers
    val bl = MothTable.bucketLayout(MothTable.listing(s"$warehouse/ta"))
    assert(bl.exists(l => l.cols == Seq("k") && l.count == 8), s"layout: $bl")

    val joined = spark.table("mothcat.ta").join(spark.table("mothcat.tb"), "k")
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"), sum("w").as("sw"))
    val nShuffles = {
      joined.collect()
      // the final groupBy("k") also rides the bucket partitioning: with both
      // sides key-grouped on bucket(8, k) the whole plan is shuffle-free
      allNodes(joined.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeLike])
    }
    assert(nShuffles == 0, s"expected a shuffle-free storage-partitioned join, got $nShuffles shuffles:\n${joined.queryExecution.executedPlan}")

    // exactness vs the plain (shuffling) join over the original frames
    val expect = a.join(b, "k")
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"), sum("w").as("sw"))
      .orderBy("k").collect().map(_.toString).toSeq
    val got = joined.orderBy("k").collect().map(_.toString).toSeq
    assert(got == expect)
  }

  test("one unbucketed side falls back to a shuffle join, results exact") {
    val a = facts(2000)
    val c = facts(3000).withColumnRenamed("v", "u").withColumnRenamed("tag", "tag3")
    // plain (unbucketed) write — no tags, no reported partitioning
    c.write.format("moth").mode("overwrite").save(s"$warehouse/tc")
    assert(MothTable.bucketLayout(MothTable.listing(s"$warehouse/tc")).isEmpty)
    val joined = spark.table("mothcat.ta").join(spark.table("mothcat.tc"), "k")
      .agg(count(lit(1)).as("cnt"), sum(col("v") * col("u")).as("dot"))
    assert(shuffles(joined) > 0, "unbucketed side must shuffle")
    val expect = facts(4000).join(c, "k")
      .agg(count(lit(1)).as("cnt"), sum(col("v") * col("u")).as("dot"))
      .collect().map(_.toString).toSeq
    assert(joined.collect().map(_.toString).toSeq == expect)
  }

  test("several files per bucket regroup into one task; still zero shuffles") {
    val s = spark
    import s.implicits._
    val a = (0 until 3000).map(i => (i.toLong % 64, s"t$i")).toDF("k", "t")
    // two write waves → two files per bucket (duplicate bucket ids across
    // files), which Spark must group back into one task per bucket key
    val b = facts(1000).withColumnRenamed("v", "w").withColumnRenamed("tag", "tagb")
    MothSpark.writeBucketed(a, s"$warehouse/tsplit", Seq("k"), 4)
    MothSpark.writeBucketed(a, s"$warehouse/tsplit", Seq("k"), 4, saveMode = "append")
    MothSpark.writeBucketed(b, s"$warehouse/tsplit_r", Seq("k"), 4)
    val layout = MothTable.bucketLayout(MothTable.listing(s"$warehouse/tsplit"))
    assert(layout.exists(_.idOf.size == 8), s"expected 8 tagged files, got $layout")
    val joined = spark.table("mothcat.tsplit").as("l")
      .join(spark.table("mothcat.tsplit_r").as("r"), col("l.k") === col("r.k"))
      .groupBy(col("l.k")).agg(count(lit(1)).as("cnt"))
    assert(shuffles(joined) == 0,
      s"file regrouping must keep the join shuffle-free:\n${joined.queryExecution.executedPlan}")
    val expect = a.unionAll(a).join(b, "k").groupBy("k")
      .agg(count(lit(1)).as("cnt")).orderBy("k").collect().map(_.toString).toSeq
    assert(joined.orderBy(col("l.k")).collect().map(_.toString).toSeq == expect)
  }

  test("mismatched bucket counts fall back to a shuffle join, results exact") {
    val s = spark
    import s.implicits._
    val d = facts(1500).withColumnRenamed("v", "z").withColumnRenamed("tag", "tag4")
    MothSpark.writeBucketed(d, s"$warehouse/td16", Seq("k"), 16)
    val joined = spark.table("mothcat.ta").join(spark.table("mothcat.td16"), "k")
      .agg(count(lit(1)).as("cnt"), sum("z").cast("long").as("sz"))
    // bucket(8, k) vs bucket(16, k): not co-partitioned — Spark must shuffle
    assert(shuffles(joined) > 0, "mismatched bucket counts must shuffle")
    val expect = facts(4000).join(d, "k")
      .agg(count(lit(1)).as("cnt"), sum("z").cast("long").as("sz"))
      .collect().map(_.toString).toSeq
    assert(joined.collect().map(_.toString).toSeq == expect)
  }

  test("bucketed catalog table: limit, filter-to-empty, count(*) all behave") {
    // partial plans (limit caps splits, a refuting filter prunes all files,
    // count(*) projects no bucket column) must coexist with the reported
    // key-grouped partitioning
    assert(spark.table("mothcat.ta").limit(5).collect().length == 5)
    assert(spark.table("mothcat.ta").filter(col("k") === -42L).collect().isEmpty)
    assert(spark.table("mothcat.ta").count() == 4000L)
    assert(spark.table("mothcat.ta").orderBy("k").limit(3)
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 0L, 0L))
    // metadata columns compose with the bucketed scan
    assert(spark.table("mothcat.ta")
      .select(col("_moth_file")).distinct().count() == 8L)
  }

  test("co-bucketed join planned before an untagged append reads the planned files") {
    val a = facts(3000)
    val b = facts(2000).withColumnRenamed("v", "w").withColumnRenamed("tag", "tag2")
    MothSpark.writeBucketed(a, s"$warehouse/trace_a", Seq("k"), 4)
    MothSpark.writeBucketed(b, s"$warehouse/trace_b", Seq("k"), 4)
    def join() = spark.table("mothcat.trace_a").join(spark.table("mothcat.trace_b"), "k")
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"), sum("w").as("sw"))
    val before = join().collect().map(_.toString).toSeq.sorted
    val joined = join()
    joined.queryExecution.optimizedPlan
    // an UNTAGGED file lands after optimization, before execution: the scan
    // must neither fail nor mix it into the bucket layout it reported
    facts(500).write.format("moth").mode("append").save(s"$warehouse/trace_a")
    val got = joined.collect().map(_.toString).toSeq.sorted
    val nShuffles = allNodes(joined.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(nShuffles == 0,
      s"join must stay shuffle-free:\n${joined.queryExecution.executedPlan}")
    assert(got == before)
  }

  test("catalog surface: list/exists/drop over warehouse directories") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = new graft.spark.source.MothCatalog
    cat.initialize("t",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", warehouse)))
    val names = cat.listTables(Array.empty).map(_.name()).toSet
    assert(names.contains("ta") && names.contains("tb"), s"listTables: $names")
    assert(cat.tableExists(Identifier.of(Array.empty, "ta")))
    assert(!cat.tableExists(Identifier.of(Array.empty, "nope")))
    assertThrows[org.apache.spark.sql.catalyst.analysis.NoSuchTableException](
      cat.loadTable(Identifier.of(Array.empty, "nope")))
    // drop removes the directory; the listing reflects it
    val s = spark
    import s.implicits._
    Seq((1L, "x")).toDF("k", "t").write.format("moth").mode("overwrite")
      .save(s"$warehouse/tdrop")
    assert(cat.tableExists(Identifier.of(Array.empty, "tdrop")))
    assert(cat.dropTable(Identifier.of(Array.empty, "tdrop")))
    assert(!cat.tableExists(Identifier.of(Array.empty, "tdrop")))
    // SQL resolution through the registered catalog works end-to-end
    assert(spark.sql("SELECT count(*) AS n FROM mothcat.ta").head.getLong(0) == 4000L)
  }

  test("bucket function, writer tags, and SQL placement all agree") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // catalog function vs helper on longs and strings
    val fLong = MothBucketBound(Seq(org.apache.spark.sql.types.LongType))
    val fStr = MothBucketBound(Seq(org.apache.spark.sql.types.StringType))
    for (v <- Seq(0L, 1L, -5L, 123456789L)) {
      val expect = MothBucket.bucketOf(
        MothBucket.hashValue(v, org.apache.spark.sql.types.LongType, MothBucket.Seed), 8)
      assert(fLong.produceResult(InternalRow(8, v)) == expect)
    }
    assert(fStr.produceResult(InternalRow(8, UTF8String.fromString("conv-1"))) ==
      MothBucket.bucketOf(MothBucket.hashValue(
        UTF8String.fromString("conv-1"),
        org.apache.spark.sql.types.StringType, MothBucket.Seed), 8))
    // SQL xxhash64 placement (what writeBucketed used) matches the helper:
    // every row of every written file hashes to the file's tagged id
    val rows = spark.read.format("moth").load(s"$warehouse/ta")
      .select(col("k"), col("_moth_file")).collect()
    val layout = MothTable.bucketLayout(MothTable.listing(s"$warehouse/ta")).get
    rows.foreach { r =>
      val b = MothBucket.bucketOf(
        MothBucket.hashValue(r.getLong(0), org.apache.spark.sql.types.LongType,
          MothBucket.Seed), 8)
      assert(layout.idOf(r.getString(1)) == b,
        s"row k=${r.getLong(0)} in ${r.getString(1)} tagged ${layout.idOf(r.getString(1))} but hashes to $b")
    }
  }
}
