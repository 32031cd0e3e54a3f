package graft.spark

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.file.{MothFileReader, Sources}

/** One file listing per scan: every planning decision (reported order,
  * top-N acceptance, splits) reads the same file set, planning a warm table
  * opens no file, and a corrupt tail fails with an error naming the file.
  */
class ScanFileSetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-fileset")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-fileset").toString

  /** A file of keys `keys` in the given order, untagged: it breaks the
    * sort tag every other file of the table agrees on.
    */
  private def appendUntagged(dir: String, keys: Seq[Long]): Unit = {
    val s = spark
    import s.implicits._
    keys.toDF("k").coalesce(1).write.format("moth").mode("append").save(dir)
  }

  test("sort elision: a file appended after optimization is not read") {
    val dir = tmpDir()
    spark.range(0, 2000).selectExpr("id AS k")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.format("moth").option("sortedBy", "k").mode("overwrite").save(dir)
    val q = spark.read.format("moth").load(dir).sortWithinPartitions("k")
    q.queryExecution.optimizedPlan
    appendUntagged(dir, (499L to 0L by -1L))
    val parts = q.queryExecution.toRdd.map(_.getLong(0)).glom().collect()
    parts.foreach(p => assert(p.sameElements(p.sorted), s"unsorted partition from ${p.take(5).toSeq}"))
    assert(parts.map(_.length).sum == 2000)
  }

  test("top-N: a file appended after optimization is not read") {
    val dir = tmpDir()
    spark.range(100, 1000).selectExpr("id AS k").coalesce(1).sortWithinPartitions("k")
      .write.format("moth").option("sortedBy", "k").mode("overwrite").save(dir)
    val q = spark.read.format("moth").load(dir).orderBy("k").limit(3)
    q.queryExecution.optimizedPlan
    appendUntagged(dir, (99L to 0L by -1L))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L))
  }

  test("planning a point lookup over a warm table: one listing, no file opened") {
    Sources.conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val uri = s"countfs:${tmpDir()}/t"
    spark.range(0, 16000).selectExpr("id AS k", "cast(id AS string) AS s")
      .repartitionByRange(16, col("k"))
      .write.format("moth").mode("overwrite").save(uri)
    val table = spark.read.format("moth").load(uri)
    assert(table.select("s").collect().length == 16000) // warms every tail
    val lookup = table.filter(col("k") === 4242L)
    CountingLocalFs.reset()
    lookup.queryExecution.executedPlan
    val (listings, opens) = (CountingLocalFs.listings.get, CountingLocalFs.opens.get)
    assert(listings == 1 && opens == 0,
      s"planning listed the directory $listings times and opened $opens files")
    assert(lookup.collect().map(_.getString(1)).toSeq == Seq("4242"))
  }

  test("corrupt tails fail with an IOException naming the file") {
    val good = tmpDir()
    spark.range(0, 1000).selectExpr("id AS k").coalesce(1)
      .write.format("moth").mode("overwrite").save(good)
    val goodFile = new java.io.File(good).listFiles().filter(_.getName.endsWith(".moth")).head
    val valid = java.nio.file.Files.readAllBytes(goodFile.toPath)
    val r = new scala.util.Random(3L)
    val cases = Seq(
      "empty" -> Array.emptyByteArray,
      "garbage" -> Array.fill(100)(r.nextInt(256).toByte),
      "half" -> valid.take(valid.length / 2))
    for ((name, bytes) <- cases) {
      val dir = tmpDir()
      java.nio.file.Files.copy(goodFile.toPath, java.nio.file.Paths.get(dir, goodFile.getName))
      // sorts after the good file, so schema inference reads the good one
      val bad = java.nio.file.Paths.get(dir, s"zz-$name.moth")
      java.nio.file.Files.write(bad, bytes)
      def namesFile(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
          case io: java.io.IOException => io.getMessage.contains(s"zz-$name.moth")
          case _ => false
        }
      val planning = intercept[Exception](spark.read.format("moth").load(dir).count())
      assert(namesFile(planning), s"$name: scan planning threw $planning")
      val reader = intercept[Exception](MothFileReader.fromPathCached(bad.toString))
      assert(namesFile(reader), s"$name: partition reader open threw $reader")
    }
  }
}

/** [[TestLocalFs]] under the `countfs:` scheme, counting directory listings,
  * file opens and file creates.
  */
class CountingLocalFs extends TestLocalFs {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  val listings = new AtomicInteger
  val opens = new AtomicInteger
  val creates = new AtomicInteger
  def reset(): Unit = { listings.set(0); opens.set(0); creates.set(0) }
}
