package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.columns.WriterOpts
import graft.core.compress.CompressionKind
import graft.spark.MothSpark

/** Driver contract — one entry per implemented operator (SURVEY.md §2).
  *
  * The engine is a columnar encoder, so the primary correctness gate is the
  * identity round-trip: every `roundtrip_*` query encodes the table to MOTH
  * bytes and decodes it back inside mapPartitions — the oracle is plain
  * `SELECT *`. Any encoder/decoder defect breaks the hash compare.
  */
object SparkEntry {

  private def t(sfDir: String, name: String) = s"$sfDir/$name.parquet"

  private def read(s: SparkSession, sfDir: String, name: String): DataFrame =
    s.read.parquet(t(sfDir, name))

  /** Identity round-trip through the full engine with a stable order.
    *
    * The sort runs BEFORE the roundtrip (guide §1.2/§2.4): a trailing
    * orderBy would range-partition the roundtrip output, and Spark's range
    * sampling executes the child twice — i.e. the full encode+decode would
    * run twice per query, and the wide decoded rows would then cross an
    * exchange. Sorting the narrow parquet side first costs the sampling
    * double-scan only on the cheap columnar scan; the roundtrip is an
    * order-preserving mapPartitions over range-ordered partitions, so the
    * emitted row order (= what the oracle hash sees) is identical.
    */
  private def rt(s: SparkSession, sfDir: String, table: String, sortCols: Seq[String],
      codec: CompressionKind.Value = CompressionKind.ZLIB): DataFrame =
    MothSpark.roundtrip(read(s, sfDir, table).orderBy(sortCols.map(col): _*), codec)

  /** Same SQL text runs on Spark (temp views) and DuckDB — semantic parity
    * by construction for the training-data-ops queries.
    */
  private def bySql(s: SparkSession, sfDir: String, tables: Seq[String], sql: String): DataFrame = {
    tables.foreach(n => read(s, sfDir, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  /** Transcripts-shaped table (input_hint) derived deterministically from
    * the events table; shared SQL with the DuckDB oracle.
    */
  val TranscriptsSql: String =
    """SELECT concat('conv-', cast(user_id AS string)) AS conv_id,
      |  cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS int) AS turn_idx,
      |  event_type AS role,
      |  props AS text,
      |  CASE WHEN event_id % 7 = 0 THEN concat('tool-', cast(event_id % 30 AS string)) END AS tool,
      |  ts
      |FROM events""".stripMargin

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    MothSpark.roundtrip(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — identity round-trips: full engine (all writers/readers) per table —
    "roundtrip_nation" -> ((s, d) => rt(s, d, "nation", Seq("n_nationkey"))),
    "roundtrip_lineitem" -> ((s, d) =>
      rt(s, d, "lineitem", Seq("l_orderkey", "l_linenumber"))),
    "roundtrip_orders" -> ((s, d) => rt(s, d, "orders", Seq("o_orderkey"))),
    "roundtrip_documents" -> ((s, d) => rt(s, d, "documents", Seq("doc_id"))),
    "roundtrip_events" -> ((s, d) => rt(s, d, "events", Seq("event_id"))),
    // LIST<FLOAT> writer/reader round-trip; the driver's pandas compare can't
    // hash a raw list column, so the check projects order- and
    // position-sensitive integer scalars computed AFTER the engine roundtrip
    // (exact integer math ⇒ no cross-engine float-summation ambiguity)
    "roundtrip_embeddings" -> ((s, d) => {
      // sort-before-roundtrip (see rt); the projection is narrow and
      // order-preserving, so the emitted order is still vec_id ascending
      MothSpark.roundtrip(read(s, d, "embeddings").orderBy("vec_id"))
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          expr("aggregate(transform(embedding, x -> cast(floor(cast(x AS double) * 1000) AS bigint)), 0L, (a, v) -> a + v)").as("checksum"),
          expr("cast(floor(cast(element_at(embedding, 1) AS double) * 1000) AS bigint)").as("first_q"),
          expr("cast(floor(cast(element_at(embedding, -1) AS double) * 1000) AS bigint)").as("last_q"),
          col("label"))
    }),
    // codec coverage on strings-heavy data — full codec matrix
    "roundtrip_documents_zstd" -> ((s, d) =>
      rt(s, d, "documents", Seq("doc_id"), CompressionKind.ZSTD)),
    "roundtrip_customer_lz4" -> ((s, d) =>
      rt(s, d, "customer", Seq("c_custkey"), CompressionKind.LZ4)),
    "roundtrip_part_snappy" -> ((s, d) =>
      rt(s, d, "part", Seq("p_partkey"), CompressionKind.SNAPPY)),
    "roundtrip_supplier_none" -> ((s, d) =>
      rt(s, d, "supplier", Seq("s_suppkey"), CompressionKind.NONE)),

    // — nested-type round-trip: STRUCT (nested two deep) + MAP derived in
    //   SQL, encoded through StructColumnWriter/MapColumnWriter, read back,
    //   and projected to hashable scalars; struct nulls + map-value nulls
    //   exercise PRESENT streams and dense child layouts at every level —
    "roundtrip_nested" -> ((s, d) => {
      read(s, d, "orders").createOrReplaceTempView("orders")
      val derived = s.sql(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
          |       ELSE named_struct('status', o_orderstatus,
          |                         'cents', cast(round(o_totalprice * 100) AS bigint),
          |                         'deep', named_struct('cust', o_custkey)) END AS info,
          |  map('prio', CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END,
          |      'stat', o_orderstatus) AS attrs
          |FROM orders""".stripMargin)
      // sort-before-roundtrip (see rt); narrow order-preserving projection
      MothSpark.roundtrip(derived.orderBy("o_orderkey"))
        .select(col("o_orderkey"),
          col("info.status").as("status"),
          col("info.cents").as("cents"),
          col("info.deep.cust").as("cust"),
          element_at(col("attrs"), "prio").as("prio"),
          element_at(col("attrs"), "stat").as("stat"))
    }),

    // — multimodal-style opaque binary column: cast text payloads to binary,
    //   round-trip through the BINARY writer (SliceDirect), extract typed
    //   features from the blob (length + md5 fingerprint) —
    "binary_features" -> ((s, d) => {
      val withBlob = read(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      // sort-before-roundtrip (see rt); narrow order-preserving projection
      MothSpark.roundtrip(withBlob.orderBy("doc_id"))
        .select(col("doc_id"),
          length(col("blob")).cast("long").as("n_bytes"),
          md5(col("blob")).as("blob_md5"))
    }),

    // — transcripts per input_hint (derived from events), round-tripped —
    "transcripts_roundtrip" -> ((s, d) => {
      read(s, d, "events").createOrReplaceTempView("events")
      // sort-before-roundtrip (see rt): (conv_id, turn_idx) is unique, so
      // the pre-sorted order survives the order-preserving roundtrip
      MothSpark.roundtrip(
        s.sql(TranscriptsSql).orderBy(col("conv_id"), col("turn_idx")))
    }),

    // — encoder statistics subsystem vs SQL aggregates —
    // Optimized (r06, guide §1.2): the encode runs on the Tungsten-native
    // internal-row path (the old Dataset.mapPartitions deserialized every
    // lineitem row to an external Row first), and the codec is NONE — the
    // encoded bytes were always discarded, and the stats the query verifies
    // are built from raw values BEFORE compression, so they are identical
    // under any codec. Don't compute bytes you throw away.
    "stats_lineitem" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val df = read(s, d, "lineitem")
      val schema = df.schema
      val qi = schema.fieldIndex("l_quantity") + 1
      val ki = schema.fieldIndex("l_orderkey") + 1
      val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
        if (rows.isEmpty) Iterator.empty
        else {
          val bos = new java.io.ByteArrayOutputStream()
          val res = new MothSpark.TaskEncoder(schema, bos, CompressionKind.NONE, WriterOpts())
            .encode(rows)
          val d0 = res.fileStats(qi).doubleStats
          val i0 = res.fileStats(ki).intStats
          Iterator.single(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](res.rows, d0.map(_.min).getOrElse(0.0), d0.map(_.max).getOrElse(0.0),
              i0.map(_.min).getOrElse(0L), i0.map(_.max).getOrElse(0L)))
            : org.apache.spark.sql.catalyst.InternalRow)
        }
      }
      val perPart = org.apache.spark.sql.GraftBridge.internalDf(s, rdd, StructType(Seq(
        StructField("cnt", LongType), StructField("minq", DoubleType),
        StructField("maxq", DoubleType), StructField("mink", LongType),
        StructField("maxk", LongType))))
      perPart.agg(
        sum("cnt").as("cnt"),
        min("minq").as("min_qty"), max("maxq").as("max_qty"),
        min("mink").as("min_okey"), max("maxk").as("max_okey"))
    }),

    // — stats/bloom pruning path, distributed, with residual filter —
    // Optimized (r06, guide §1.2/§2.4): internal rows both directions (no
    // external-Row materialization), and the sort moved BEFORE the encode —
    // the trailing orderBy range-sampled its child, re-running the whole
    // encode+prune pipeline twice; row-group pruning and the residual
    // filter are order-preserving, so pre-sorted input emits the same
    // ascending rows.
    "prune_orders" -> ((s, d) => {
      import graft.core.file._
      val df = read(s, d, "orders").orderBy("o_orderkey")
      val schema = df.schema
      val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
        if (rows.isEmpty) Iterator.empty
        else {
          val bos = new java.io.ByteArrayOutputStream()
          new MothSpark.TaskEncoder(schema, bos, CompressionKind.ZLIB,
            WriterOpts(rowGroupMaxRowCount = 1000)).encode(rows)
          val rd = MothFileReader.fromBytes(bos.toByteArray)
          val pred = StatsPredicate(Seq(LongRangePred("o_orderkey", Some(1000L), Some(5000L))))
          graft.spark.source.MothVector.rows(schema, rd.batches(predicate = pred))
        }
      }
      org.apache.spark.sql.GraftBridge.internalDf(s, rdd, schema)
        .filter(col("o_orderkey").between(1000L, 5000L))
    }),

    // — DataSourceV2: format("moth") scan with column pruning + stats/bloom
    //   filter pushdown through Catalyst (encode once, then scan) —
    "dsv2_scan_orders" -> ((s, d) => {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-dsv2-${Integer.toHexString(d.hashCode)}/orders").getAbsolutePath
      val src = read(s, d, "orders")
        .repartition(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      MothSpark.writeFiles(src, out, s"dsv2:$d:orders", CompressionKind.ZLIB,
        WriterOpts(rowGroupMaxRowCount = 1000), Seq("o_orderkey"))
      s.read.format("moth").load(out)
        .filter(col("o_orderkey").between(1000L, 5000L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("sum_key"))
        .orderBy("o_orderstatus")
    }),

    // — DataSourceV2 write path: df.write.format("moth") → scan back,
    //   exact-math aggregate (doubles only via min/max) —
    "dsv2_write_lineitem" -> ((s, d) => {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-dsv2w-${Integer.toHexString(d.hashCode)}/lineitem").getAbsolutePath
      // r06: distribute the write (guide §6 rebalance-before-write) — the
      // parquet input is one split, so the encode ran single-threaded; a
      // deterministic hash repartition sizes with spark.sql.shuffle
      // .partitions (scale-adaptive, no constant) and the scanned-back
      // aggregate is file-layout-invariant.
      read(s, d, "lineitem").repartition(col("l_orderkey"))
        .write.format("moth").mode("overwrite").save(out)
      s.read.format("moth").load(out)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum("l_orderkey").cast("long").as("sum_okey"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // — DATE-stat pruning through DSv2: orders recast to a real DATE column,
    //   written range-partitioned+sorted on it (tight per-group day ranges),
    //   filtered on a date bound — planning-time file pruning + row-group
    //   pruning against DateStats, residual re-applied by Spark —
    "prune_orders_date" -> ((s, d) => {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-dsv2dt-${Integer.toHexString(d.hashCode)}/orders").getAbsolutePath
      val src = read(s, d, "orders")
        .withColumn("o_odate", col("o_orderdate").cast("date"))
        .drop("o_orderdate")
      MothSpark.writeFiles(
        src.repartitionByRange(4, col("o_odate")).sortWithinPartitions("o_odate"),
        out, s"dsv2dt:$d:orders", CompressionKind.ZLIB,
        WriterOpts(rowGroupMaxRowCount = 1000), Seq("o_odate"))
      s.read.format("moth").load(out)
        .filter(col("o_odate") >= lit(java.sql.Date.valueOf("1997-06-01")))
        .groupBy("o_orderstatus")
        // date-typed outputs render as python `date` on the Spark side but
        // datetime64 from DuckDB — string casts keep the hash compare exact
        .agg(count(lit(1)).as("cnt"),
          min("o_odate").cast("string").as("min_d"),
          max("o_odate").cast("string").as("max_d"))
        .orderBy("o_orderstatus")
    }),

    // storage-partitioned join: orders and lineitem hash-bucketed on their
    // join keys (verified footer tags), loaded through MothCatalog so the
    // bucket(n, col) transform resolves — the join then runs with NO
    // shuffle on either side (SpjSpec asserts the plan; this query gates
    // the RESULT against DuckDB)
    "spj_join" -> ((s, d) => {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-spj-${Integer.toHexString(d.hashCode)}").getAbsolutePath
      MothSpark.writeBucketed(read(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        s"$base/orders_b", Seq("o_orderkey"), 8)
      MothSpark.writeBucketed(
        read(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        s"$base/lineitem_b", Seq("l_orderkey"), 8)
      // r06 (round-5 verdict housekeeping #1): the catalog + SPJ flags live
      // on a DEDICATED child session — a correctness-suite query must not
      // mutate the session the other queries run in. newSession shares the
      // SparkContext (and the bench's timing) but scopes the conf.
      val ss = s.newSession()
      val cat = s"mothspj_${Integer.toHexString(base.hashCode)}"
      ss.conf.set(s"spark.sql.catalog.$cat", "graft.spark.source.MothCatalog")
      ss.conf.set(s"spark.sql.catalog.$cat.warehouse", base)
      ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      ss.table(s"$cat.orders_b")
        .join(ss.table(s"$cat.lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("l_linenumber").cast("long").as("sum_line"),
          sum("l_orderkey").cast("long").as("sum_key"))
        .orderBy("o_orderstatus")
    }),

    // metadata (provenance) columns: _moth_file/_moth_pos synthesized by
    // the scan — one sorted file, so the row's file ordinal equals its
    // o_orderkey rank, which plain SQL (row_number) can reproduce exactly
    "metadata_cols" -> ((s, d) => {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-dsv2meta-${Integer.toHexString(d.hashCode)}/orders").getAbsolutePath
      read(s, d, "orders").select("o_orderkey")
        .coalesce(1).sortWithinPartitions("o_orderkey")
        .write.format("moth").mode("overwrite").save(out)
      s.read.format("moth").load(out)
        .select(col("o_orderkey"), col("_moth_file"), col("_moth_pos"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("_moth_file")).as("n_files"),
          max("_moth_pos").as("max_pos"),
          sum(col("_moth_pos") * col("o_orderkey")).cast("long").as("pos_dot_key"))
    }),

    // footer-only aggregate pushdown: count/min/max answered from file
    // statistics with zero data bytes scanned (MothAggScan)
    "dsv2_agg_orders" -> ((s, d) => {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-dsv2a-${Integer.toHexString(d.hashCode)}/orders").getAbsolutePath
      // r06: rebalance-before-write (see dsv2_write_lineitem) — the
      // footer-only aggregate merges per-file stats, layout-invariant
      read(s, d, "orders").repartition(col("o_orderkey"))
        .write.format("moth").mode("overwrite").save(out)
      s.read.format("moth").load(out)
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").cast("long").as("min_key"),
          max("o_orderkey").cast("long").as("max_key"),
          count("o_orderstatus").as("n_status"),
          sum("o_orderkey").cast("long").as("sum_key"))
    }),

    // — full streaming path under the driver's oracle: the events table is
    //   staged as two moth file waves into a watched dir, drained through
    //   readStream.format("moth") (admission-controlled, AvailableNow) into
    //   the StreamingEncode moth sink (per-epoch manifests, exactly-once),
    //   and every epoch's output is read back through the DSv2 scan. The
    //   oracle is identity SQL — any defect in source admission, offsets,
    //   epoch isolation or sink encode breaks the hash compare. —
    "streaming_roundtrip" -> ((s, d) => {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-stream-${Integer.toHexString(d.hashCode)}").getAbsolutePath
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(base)) // deterministic re-run: rebuild from scratch
      val in = s"$base/in"
      val out = s"$base/out"
      val ev = read(s, d, "events")
      ev.filter(col("event_id") % 2 === 0).coalesce(2)
        .write.format("moth").mode("append").save(in)
      ev.filter(col("event_id") % 2 === 1).coalesce(2)
        .write.format("moth").mode("append").save(in)
      val stream = s.readStream.format("moth").schema(ev.schema)
        .option("maxFilesPerTrigger", "2").load(in)
      val q = graft.spark.StreamingEncode.sink(stream, out, partitions = 2,
        keyCols = Seq("event_id"))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batchDirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch-")).sorted
      batchDirs.map(b => s.read.format("moth").load(b.getAbsolutePath))
        .reduce(_ unionByName _)
        .select(ev.columns.map(col): _*)
        .orderBy("event_id")
    }),

    // — training-data ops (shared SQL text with the oracle) —
    "dedup_exact" -> ((s, d) => bySql(s, d, Seq("documents"), DedupExactSql)),
    "text_quality" -> ((s, d) => bySql(s, d, Seq("documents"), TextQualitySql)),
    "lang_id" -> ((s, d) => bySql(s, d, Seq("documents"), LangIdSql)),
    "fingerprint_docs" -> ((s, d) => bySql(s, d, Seq("documents"), FingerprintSql)),

    // — dedup via MinHash+LSH / SimHash on documents + planted near-dups:
    //   the recovered pair set must be exactly the planted set —
    // the corpus contains organic near-dups too; the oracle-checked output
    // is restricted to the planted id-domain (doc_b = doc_a + 100000) so the
    // expected set is static — recall of ALL planted pairs is the check
    "dedup_minhash" -> ((s, d) => {
      import graft.spark.TextOps
      TextOps.minHashPairs(s, TextOps.withPlantedNearDups(read(s, d, "documents")))
        .filter(col("doc_b") === col("doc_a") + 100000L)
        .orderBy("doc_a")
    }),
    "dedup_simhash" -> ((s, d) => {
      import graft.spark.TextOps
      TextOps.simHashPairs(s, TextOps.withPlantedExactDups(read(s, d, "documents")))
        .filter(col("doc_b") === col("doc_a") + 100000L)
        .select("doc_a", "doc_b").orderBy("doc_a")
    }),
    // exact n-gram Jaccard: LSH candidates → array_intersect verification;
    // planted near-dups (≥200 chars + ~20-char tail ⇒ jaccard ≥ 0.89)
    "dedup_ngram_jaccard" -> ((s, d) => {
      import graft.spark.TextOps
      TextOps.ngramJaccardPairs(s, TextOps.withPlantedNearDups(read(s, d, "documents")))
        .filter(col("doc_b") === col("doc_a") + 100000L)
        .orderBy("doc_a")
    }),
    // embedding-cosine near-dup: LSH bucket candidates → exact VecDot cosine;
    // planted exact-duplicate vectors land in identical buckets, cosine = 1
    "dedup_embedding_cosine" -> ((s, d) => {
      import graft.spark.TextOps
      val emb = read(s, d, "embeddings")
      val planted = emb.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 100000L)
      TextOps.embeddingCosinePairs(s, emb.unionByName(planted))
        .filter(col("id_b") === col("id_a") + 100000L)
        .orderBy("id_a")
    }),

    // — token counting: whitespace + BPE-ish regex (words / digits / punct) —
    "token_count" -> ((s, d) => {
      read(s, d, "documents").select(col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))
          .cast("long").as("n_bpe"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .cast("long").as("n_ws"))
        .orderBy("doc_id")
    }),

    // — multimodal plumbing: opaque blob → engine BINARY roundtrip → stubbed
    //   deterministic "decode" (header parse; real codecs aren't in this
    //   container) + frame sampling (explode = one row per frame) —
    "mm_frames" -> ((s, d) => {
      val withBlob = read(s, d, "documents")
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      // sort-before-roundtrip (see rt): doc_id is unique, the projections
      // and the Generate (explode of an ascending sequence) are
      // order-preserving, so rows still emit (doc_id, frame_idx)-ascending
      MothSpark.roundtrip(withBlob.orderBy("doc_id"))
        .select(col("doc_id"), decode(col("blob"), "UTF-8").as("text"))
        .select(col("doc_id"),
          (ascii(substring(col("text"), 1, 1)) % 128 + 1).cast("long").as("width"),
          (ascii(substring(col("text"), 2, 1)) % 128 + 1).cast("long").as("height"),
          expr("CASE ascii(substring(text, 3, 1)) % 3 WHEN 0 THEN 'rgb' WHEN 1 THEN 'gray' ELSE 'yuv' END").as("fmt"),
          col("text"),
          explode(expr("sequence(0, cast(ceil(length(text) / 256.0) AS int) - 1)")).as("fi"))
        .select(col("doc_id"), col("width"), col("height"), col("fmt"),
          col("fi").cast("long").as("frame_idx"),
          md5(expr("substring(text, cast(fi * 256 + 1 AS int), 256)")).as("frame_md5"))
    }),

    // — similarity search over embeddings: brute-force cosine top-k
    //   (broadcast query side) + LSH-bucketed recall (the scale path) —
    "ann_cosine_topk" -> ((s, d) => {
      graft.spark.TextOps.cosineTopK(s, read(s, d, "embeddings"))
    }),
    "ann_lsh_recall" -> ((s, d) => {
      graft.spark.TextOps.lshPlantedRecall(s, read(s, d, "embeddings"))
    }),
    "ann_ivf_recall" -> ((s, d) => {
      graft.spark.TextOps.ivfPlantedRecall(s, read(s, d, "embeddings"))
    })
  )

  val FingerprintSql: String =
    "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"

  /** Planted near-dup pair set (mirrors TextOps.withPlantedNearDups). */
  val PlantedPairsSql: String =
    """SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b FROM documents
      |WHERE text IS NOT NULL AND length(text) >= 200 AND doc_id % 5 = 0
      |ORDER BY doc_a""".stripMargin

  val PlantedExactPairsSql: String =
    """SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b FROM documents
      |WHERE text IS NOT NULL AND doc_id % 5 = 0
      |ORDER BY doc_a""".stripMargin

  val AnnTopKSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |s AS (SELECT qid, vec_id, round(CAST(list_cosine_similarity(embedding, qe) AS double), 4) AS sim
      |      FROM embeddings, q WHERE vec_id <> qid)
      |SELECT qid, vec_id, sim FROM (
      |  SELECT qid, vec_id, sim,
      |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      |  FROM s) t
      |WHERE rn <= 5 ORDER BY qid, vec_id""".stripMargin

  val DedupExactSql: String =
    """SELECT text, cast(min(doc_id) AS bigint) AS keep_id, count(*) AS dups
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  val TextQualitySql: String =
    """SELECT doc_id,
      |  cast(length(text) AS bigint) AS n_chars,
      |  cast(length(text) - length(replace(text, ' ', '')) + 1 AS bigint) AS n_tokens,
      |  cast(length(text) - length(replace(text, '.', '')) AS bigint) AS n_periods
      |FROM documents ORDER BY doc_id""".stripMargin

  val LangIdSql: String =
    """SELECT doc_id, lang,
      |  CASE WHEN text LIKE '% the %' OR text LIKE '% and %' THEN 'en'
      |       WHEN text LIKE '% der %' OR text LIKE '% und %' THEN 'de'
      |       WHEN text LIKE '% le %' OR text LIKE '% et %' THEN 'fr'
      |       ELSE 'unknown' END AS lang_pred
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DuckDB-runnable oracle per query (identical semantics; identical
    * column names — the driver sorts columns by name before hashing).
    */
  def oracleSql: Map[String, String] = Map(
    "roundtrip_nation" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "roundtrip_lineitem" -> "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "roundtrip_orders" -> "SELECT * FROM orders ORDER BY o_orderkey",
    "roundtrip_documents" -> "SELECT * FROM documents ORDER BY doc_id",
    "roundtrip_events" -> "SELECT * FROM events ORDER BY event_id",
    "streaming_roundtrip" -> "SELECT * FROM events ORDER BY event_id",
    "spj_join" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  cast(sum(l_linenumber) AS bigint) AS sum_line,
        |  cast(sum(l_orderkey) AS bigint) AS sum_key
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "metadata_cols" ->
      """SELECT count(*) AS n_rows, cast(1 AS bigint) AS n_files,
        |  cast(count(*) - 1 AS bigint) AS max_pos,
        |  cast(sum((rn - 1) * o_orderkey) AS bigint) AS pos_dot_key
        |FROM (SELECT o_orderkey,
        |        row_number() OVER (ORDER BY o_orderkey) AS rn
        |      FROM orders)""".stripMargin,
    "roundtrip_embeddings" ->
      """SELECT vec_id, cast(len(embedding) AS bigint) AS dim,
        |  cast(list_sum(list_transform(embedding, x -> cast(floor(cast(x AS double) * 1000) AS bigint))) AS bigint) AS checksum,
        |  cast(floor(cast(embedding[1] AS double) * 1000) AS bigint) AS first_q,
        |  cast(floor(cast(embedding[-1] AS double) * 1000) AS bigint) AS last_q,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "roundtrip_documents_zstd" -> "SELECT * FROM documents ORDER BY doc_id",
    "roundtrip_customer_lz4" -> "SELECT * FROM customer ORDER BY c_custkey",
    "roundtrip_part_snappy" -> "SELECT * FROM part ORDER BY p_partkey",
    "roundtrip_supplier_none" -> "SELECT * FROM supplier ORDER BY s_suppkey",
    "binary_features" ->
      """SELECT doc_id, cast(octet_length(cast(text AS BLOB)) AS bigint) AS n_bytes,
        |  md5(text) AS blob_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "transcripts_roundtrip" ->
      s"SELECT * FROM ($TranscriptsSql) ORDER BY conv_id, turn_idx",
    "stats_lineitem" ->
      """SELECT count(*) AS cnt, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey FROM lineitem""".stripMargin,
    "prune_orders" ->
      "SELECT * FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000 ORDER BY o_orderkey",
    "dsv2_scan_orders" ->
      """SELECT o_orderstatus, count(*) AS cnt, cast(sum(o_orderkey) AS bigint) AS sum_key
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "dsv2_write_lineitem" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  cast(sum(l_orderkey) AS bigint) AS sum_okey,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "prune_orders_date" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  cast(min(cast(o_orderdate AS date)) AS varchar) AS min_d,
        |  cast(max(cast(o_orderdate AS date)) AS varchar) AS max_d
        |FROM orders WHERE cast(o_orderdate AS date) >= DATE '1997-06-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "dsv2_agg_orders" ->
      """SELECT count(*) AS n, cast(min(o_orderkey) AS bigint) AS min_key,
        |  cast(max(o_orderkey) AS bigint) AS max_key,
        |  count(o_orderstatus) AS n_status,
        |  cast(sum(o_orderkey) AS bigint) AS sum_key FROM orders""".stripMargin,
    "roundtrip_nested" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS status,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE cast(round(o_totalprice * 100) AS bigint) END AS cents,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS cust,
        |  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END AS prio,
        |  o_orderstatus AS stat
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "dedup_exact" -> DedupExactSql,
    "text_quality" -> TextQualitySql,
    "lang_id" -> LangIdSql,
    "fingerprint_docs" -> FingerprintSql,
    "dedup_minhash" -> PlantedPairsSql,
    "dedup_simhash" -> PlantedExactPairsSql,
    "dedup_ngram_jaccard" -> PlantedPairsSql,
    "dedup_embedding_cosine" ->
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b FROM embeddings
        |WHERE vec_id % 5 = 0 ORDER BY id_a""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bigint) AS n_bpe,
        |  cast(length(text) - length(replace(text, ' ', '')) + 1 AS bigint) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, width, height, fmt, frame_idx,
        |  md5(substring(text, cast(frame_idx * 256 + 1 AS int), 256)) AS frame_md5
        |FROM (
        |  SELECT doc_id,
        |    cast(ascii(substring(text, 1, 1)) % 128 + 1 AS bigint) AS width,
        |    cast(ascii(substring(text, 2, 1)) % 128 + 1 AS bigint) AS height,
        |    CASE ascii(substring(text, 3, 1)) % 3 WHEN 0 THEN 'rgb' WHEN 1 THEN 'gray' ELSE 'yuv' END AS fmt,
        |    cast(unnest(range(0, cast(ceil(length(text) / 256.0) AS bigint))) AS bigint) AS frame_idx
        |  FROM documents WHERE length(text) >= 64
        |) f JOIN documents USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "ann_cosine_topk" -> AnnTopKSql,
    // an exact-duplicate vector lands in the identical LSH bucket of every
    // table, so the planted set is deterministically recalled — the
    // expected output is static
    "ann_lsh_recall" ->
      """SELECT vec_id AS qid, cast(1 AS bigint) AS planted_recalled
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // identical vector ⇒ identical nearest centroid ⇒ inside the probed
    // lists of its query — static expected output, like the LSH oracle
    "ann_ivf_recall" ->
      """SELECT vec_id AS qid, cast(1 AS bigint) AS planted_recalled
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin
  )
}
