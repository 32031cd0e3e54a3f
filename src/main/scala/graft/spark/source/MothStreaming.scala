package graft.spark.source

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import graft.core.file.{Sources, StatsPredicate}

/** Streaming face of the moth format:
  * `spark.readStream.format("moth").schema(s).load(dir)`.
  *
  * File-arrival micro-batch source (the FileStreamSource pattern). The
  * OFFSET is a single monotone log index — O(1) bytes regardless of how
  * many files have been processed — into an append-only file log kept under
  * the query checkpoint (`<checkpoint>/moth-file-log/`): entry `i` lists
  * the file names admitted by batch `i`; every `compactInterval` entries a
  * sibling `i.compact` snapshot of the full seen set is written and delta
  * entries older than the previous compact are deleted. At 100k processed
  * files the old name-set offset rewrote ~5MB of JSON per micro-batch
  * forever; the log writes only each batch's delta once, keeps the
  * checkpoint directory bounded, and the offset the engine hands Spark's
  * offset WAL stays a dozen bytes.
  *
  * Restart reads `seen` back from the log (latest compact + deltas), so a
  * recovered query resumes exactly-once; offsets from pre-log checkpoints
  * (a JSON name array) are still accepted and migrated on the next batch.
  *
  * Admission control: `option("maxFilesPerTrigger", n)` caps each
  * micro-batch at n new files — at 100 TB a backlog of 100k files must
  * drain as bounded batches, not one giant one. Under
  * `Trigger.AvailableNow` the end file set is snapshotted at query start
  * (SupportsTriggerAvailableNow) and drained in maxFiles-sized batches.
  *
  * Files must be immutable once visible (the MOTH writers rename
  * task-attempt-private tmp files into place atomically, so a query watching
  * a MOTH output directory never sees a partial file).
  */
class MothMicroBatchStream(path: String, required: StructType,
    predicate: StatsPredicate, streamOpts: MothStreamOpts = MothStreamOpts(),
    checkpointLocation: String = null,
    readerOpts: graft.core.file.ReaderOpts = graft.core.file.ReaderOpts())
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  HadoopConfSync.ensure()

  private val maxFilesPerTrigger = streamOpts.maxFilesPerTrigger
  private val compactInterval = streamOpts.compactInterval
  require(streamOpts.cleanSource == "off" || streamOpts.cleanSource == "delete" ||
    streamOpts.cleanSource == "archive",
    s"cleanSource must be off|delete|archive, got ${streamOpts.cleanSource}")
  if (streamOpts.cleanSource == "archive") {
    val a = streamOpts.archiveDir.getOrElse(
      throw new IllegalArgumentException(
        "cleanSource=archive requires option sourceArchiveDir"))
    // true-ancestry containment check through qualified paths: a raw string
    // startsWith would wrongly reject a sibling `/data/in-archive` of
    // watched `/data/in`, and MISS a genuinely nested dir expressed as a
    // relative path, with a trailing slash, or scheme-qualified — which
    // would re-admit archived files forever (an archive→list→admit loop)
    val watched = {
      val p = new Path(path)
      p.getFileSystem(Sources.conf).makeQualified(p)
    }
    val arch = {
      val p = new Path(a)
      p.getFileSystem(Sources.conf).makeQualified(p)
    }
    var cur: Path = arch
    while (cur != null) {
      require(cur != watched,
        s"sourceArchiveDir $a must lie outside the watched directory $path")
      cur = cur.getParent
    }
  }

  private val log = new MothStreamLog(
    new Path(if (checkpointLocation != null) checkpointLocation else path,
      "moth-file-log"),
    compactInterval)

  /** (name, size, mtime) listing — names relative to the watched directory
    * (the offset log stores names), sizes for byte-capped admission, mtimes
    * for latestFirst ordering. One listing RPC per trigger.
    */
  private def currentFiles(): Seq[(String, Long, Long)] =
    MothTable.listMothOrEmpty(path)
      .map { case (f, sz, mt) => (new Path(f).getName, sz, mt) }
      .sortBy(_._1)

  /** Trigger.AvailableNow end-bound: everything visible at query start. */
  @volatile private var availableNowCap: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentFiles().map(_._1).toSet)

  /** Admission caps compose: `maxFilesPerTrigger` alone misjudges skewed
    * file sizes (one trigger can admit n huge files), so
    * `maxBytesPerTrigger` bounds the batch by bytes — at least one file is
    * always admitted so an oversized file cannot wedge the query.
    */
  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, streamOpts.maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  /** Prefix of `fresh` admitted under a limit. Every limit yields a prefix,
    * so a composite is simply the shortest prefix (most restrictive wins).
    */
  private def applyLimit(fresh: Seq[(String, Long, Long)], limit: ReadLimit): Seq[String] =
    limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles()).map(_._1)
      case b: ReadMaxBytes =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var acc = 0L
        val it = fresh.iterator
        var full = false
        while (!full && it.hasNext) {
          val (n, sz, _) = it.next()
          if (out.isEmpty || acc + sz <= b.maxBytes()) { out += n; acc += sz }
          else full = true
        }
        out.toSeq
      case c: CompositeReadLimit =>
        c.getReadLimits.map(applyLimit(fresh, _)).minBy(_.length)
      case _ => fresh.map(_._1)
    }

  override def initialOffset(): Offset = MothLogOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Seen set at an offset: log reconstruction for index offsets, the
    * literal name list for legacy (pre-log) offsets.
    */
  private def seenAt(o: Offset): Set[String] = o match {
    case MothLogOffset(i) => log.seenAt(i)
    case MothStreamOffset(names) => names.toSet
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = seenAt(start)
    val visible = availableNowCap match {
      case Some(cap) => currentFiles().filter(f => cap(f._1))
      case None => currentFiles()
    }
    val freshAll = visible.filterNot(f => seen(f._1))
    // latestFirst: drain the NEWEST files first (mtime desc, name asc as a
    // deterministic tiebreak) — a restarted query with a deep backlog serves
    // fresh data before catching up on history, Spark file-source parity
    val fresh =
      if (streamOpts.latestFirst) freshAll.sortBy(f => (-f._3, f._1))
      else freshAll
    val take = applyLimit(fresh, limit)
    if (take.isEmpty) {
      // no progress: re-hand Spark the same offset (legacy offsets migrate
      // to a compact log entry so the old name list never grows further)
      start match {
        case MothLogOffset(i) => MothLogOffset(i)
        case MothStreamOffset(_) => MothLogOffset(log.appendMigrated(seen))
      }
    } else {
      val next = start match {
        case MothLogOffset(i) => log.append(i + 1, take, seen)
        case MothStreamOffset(_) =>
          // first batch after a legacy checkpoint: write a compact entry so
          // reconstruction never needs the legacy offset again
          log.appendMigrated(seen ++ take)
      }
      MothLogOffset(next)
    }
  }

  /** Progress/lag reporting: the last log index plus the number of
    * micro-batches the current backlog would still need — so
    * StreamingQueryProgress shows a growing backlog instead of echoing the
    * processed offset.
    */
  override def reportLatestOffset(): Offset = {
    val last = log.lastIndex()
    val seen = log.seenAt(last)
    val pending = currentFiles().filterNot(f => seen(f._1))
    val byFiles = maxFilesPerTrigger.map(c => (pending.size + c - 1L) / c)
    val byBytes = streamOpts.maxBytesPerTrigger.map(c =>
      math.max(if (pending.isEmpty) 0L else 1L, (pending.map(_._2).sum + c - 1) / c))
    val batches = (byFiles.toSeq ++ byBytes.toSeq).maxOption
      .getOrElse(if (pending.nonEmpty) 1L else 0L)
    MothLogOffset(last + batches)
  }

  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("[")) MothStreamOffset(MothStreamOffset.parse(json))
    else MothLogOffset(MothLogOffset.parse(json))

  /** Source retention (`option("cleanSource", "archive"|"delete")`): after
    * Spark commits a batch, files admitted at least one full compact
    * interval before the committed offset are moved to `sourceArchiveDir`
    * (or deleted). The watched directory — which otherwise grows forever
    * under a months-running query while `currentFiles()` re-lists it every
    * trigger — stays bounded at ~2 compact intervals of files. Idempotent
    * and restart-safe: cleanup reads the persisted compact snapshot, an
    * already-moved file is simply absent, and cleaned files remain in the
    * seen-set log so they are never re-admitted. Files must have no other
    * concurrent consumer (same contract as Spark's file source cleanSource).
    */
  @volatile private var cleanedUpTo = 0L
  override def commit(end: Offset): Unit = end match {
    case MothLogOffset(i) if streamOpts.cleanSource != "off" =>
      log.latestCompactAtOrBelow(i - compactInterval).foreach { c =>
        if (c > cleanedUpTo) {
          val watched = new Path(path)
          val fs = watched.getFileSystem(Sources.conf)
          log.compactNames(c).foreach { n =>
            val p = new Path(watched, n)
            if (fs.exists(p)) streamOpts.cleanSource match {
              case "delete" => fs.delete(p, false)
              case "archive" =>
                val dst = new Path(streamOpts.archiveDir.get, n)
                fs.mkdirs(dst.getParent)
                if (!fs.rename(p, dst))
                  throw new java.io.IOException(s"archive $p -> $dst failed")
            }
          }
          cleanedUpTo = c
        }
      }
    case _ => ()
  }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fresh: Seq[String] = (start, end) match {
      case (MothLogOffset(a), MothLogOffset(b)) => log.deltasBetween(a, b)
      case _ =>
        val seen = seenAt(start)
        seenAt(end).filterNot(seen).toSeq.sorted
    }
    fresh.map { n =>
      MothInputPartition(new Path(path, n).toString, 0L, Long.MaxValue)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MothReaderFactory(required, predicate, readerOpts)
}

/** Streaming-source options (parsed from the scan's case-insensitive
  * option map): admission control, retention, log compaction cadence.
  */
final case class MothStreamOpts(
    maxFilesPerTrigger: Option[Int] = None,
    cleanSource: String = "off",
    archiveDir: Option[String] = None,
    compactInterval: Int = MothStreamLog.DefaultCompactInterval,
    maxBytesPerTrigger: Option[Long] = None,
    latestFirst: Boolean = false)

/** Compact offset: a monotone index into the file log — `{"i":N}`. */
case class MothLogOffset(index: Long) extends Offset {
  override def json(): String = s"""{"i":$index}"""
}

object MothLogOffset {
  def parse(json: String): Long = {
    val m = java.util.regex.Pattern.compile("\\{\\s*\"i\"\\s*:\\s*(\\d+)\\s*\\}")
      .matcher(json.trim)
    require(m.matches(), s"bad moth log offset: $json")
    m.group(1).toLong
  }
}

/** Append-only processed-file log under the query checkpoint.
  *
  * Entry `i` ("%020d") lists the names admitted by batch `i`, one per line
  * after a version header. Every `compactInterval` entries an `i.compact`
  * file snapshots the full seen set; delta entries at or below the
  * PREVIOUS compact index are then deleted (Spark never replans batches
  * older than its committed offset, and a full compact interval of slack is
  * kept). All writes are tmp+rename through Hadoop FileSystem, so the log
  * works on any scheme and a crashed write is invisible.
  *
  * Uncommitted tail entries (written by a `latestOffset` whose batch never
  * committed before a crash) are simply overwritten by the restarted
  * query's next batch — they are never referenced by a committed offset.
  */
class MothStreamLog(dir: Path, compactInterval: Int) {
  private val fs: FileSystem = dir.getFileSystem(Sources.conf)
  fs.mkdirs(dir)

  // reconstruction cache: (index, seen set at that index)
  private var cached: (Long, Set[String]) = (0L, Set.empty)

  private def entryPath(i: Long): Path = new Path(dir, f"$i%020d")
  private def compactPath(i: Long): Path = new Path(dir, f"$i%020d.compact")

  private def indexOf(name: String): Option[Long] = {
    val base = name.stripSuffix(".compact")
    if (base.forall(_.isDigit) && base.nonEmpty) Some(base.toLong) else None
  }

  private def listLog(): Seq[(Long, Boolean)] =
    (try fs.listStatus(dir).toSeq catch {
      case _: java.io.FileNotFoundException => Nil
    }).flatMap { st =>
      val n = st.getPath.getName
      indexOf(n).map(i => (i, n.endsWith(".compact")))
    }

  def lastIndex(): Long = {
    val l = listLog()
    if (l.isEmpty) 0L else l.map(_._1).max
  }

  private def readNames(p: Path): Seq[String] = {
    val lines = new String(Sources.readAllBytes(fs.makeQualified(p).toString), "UTF-8")
      .split("\n", -1).toSeq
    require(lines.headOption.exists(_.startsWith("v1")), s"bad log entry $p")
    lines.drop(1).filter(_.nonEmpty)
  }

  private def writeNames(p: Path, names: Iterable[String]): Unit = {
    val tmp = new Path(dir, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write((Iterator("v1") ++ names.iterator).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  /** Seen set after batch `upTo`: latest compact at or below, plus deltas. */
  def seenAt(upTo: Long): Set[String] = synchronized {
    if (upTo == 0L) return Set.empty
    if (cached._1 == upTo) return cached._2
    val entries = listLog().filter(_._1 <= upTo)
    val compactBase = entries.filter(_._2).map(_._1).maxOption
    var seen: Set[String] = compactBase match {
      case Some(c) => readNames(compactPath(c)).toSet
      case None => Set.empty
    }
    entries.filter { case (i, isC) => !isC && i > compactBase.getOrElse(0L) }
      .sortBy(_._1)
      .foreach { case (i, _) => seen ++= readNames(entryPath(i)) }
    cached = (upTo, seen)
    seen
  }

  /** Names admitted by batches in (a, b]. */
  def deltasBetween(a: Long, b: Long): Seq[String] = synchronized {
    ((a + 1) to b).flatMap { i =>
      val p = entryPath(i)
      if (fs.exists(p)) readNames(p)
      else readNames(compactPath(i)).filterNot(seenAt(i - 1)) // compact-only entry
    }.sorted
  }

  /** Append batch `i`'s delta (given the seen set before it); returns `i`.
    * Writes a compact snapshot every `compactInterval` batches and prunes
    * deltas at or below the previous compact index.
    */
  def append(i: Long, names: Seq[String], seenBefore: Set[String]): Long = synchronized {
    writeNames(entryPath(i), names.sorted)
    val seenNow = seenBefore ++ names
    if (i % compactInterval == 0) {
      writeNames(compactPath(i), seenNow.toSeq.sorted)
      val prevCompact = i - compactInterval
      listLog().foreach { case (j, isC) =>
        if (!isC && j <= prevCompact) fs.delete(entryPath(j), false)
        if (isC && j < prevCompact) fs.delete(compactPath(j), false)
      }
    }
    cached = (i, seenNow)
    i
  }

  /** Newest compact snapshot at or below `i`, if any — the cleanup anchor
    * (compacts older than one interval behind the newest are pruned, so
    * the answer is always reconstructible).
    */
  def latestCompactAtOrBelow(i: Long): Option[Long] = synchronized {
    listLog().filter(e => e._2 && e._1 <= i).map(_._1).maxOption
  }

  /** Full seen set recorded by the compact snapshot at `i`. */
  def compactNames(i: Long): Seq[String] = synchronized {
    readNames(compactPath(i))
  }

  /** Migration from a legacy name-set offset: snapshot the whole seen set
    * as a compact entry at lastIndex+1 and return that index.
    */
  def appendMigrated(seen: Set[String]): Long = synchronized {
    val i = lastIndex() + 1
    writeNames(compactPath(i), seen.toSeq.sorted)
    cached = (i, seen)
    i
  }
}

object MothStreamLog {
  val DefaultCompactInterval = 10
}

/** Legacy offset (pre-log checkpoints): sorted file names seen so far,
  * serialized as a JSON string array. Still parsed so an existing query
  * checkpoint restarts cleanly; new offsets are always [[MothLogOffset]].
  */
case class MothStreamOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    files.map(MothStreamOffset.quote).mkString("[", ",", "]")
}

object MothStreamOffset {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Minimal JSON string-array parser (handles escaped quotes/backslashes —
    * file names are user-controlled).
    */
  def parse(json: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < json.length) {
      if (json(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (json(i) != '"') {
          if (json(i) == '\\') {
            i += 1
            json(i) match {
              case 'u' => sb += Integer.parseInt(json.substring(i + 1, i + 5), 16).toChar; i += 4
              case c => sb += c
            }
          } else sb += json(i)
          i += 1
        }
        out += sb.toString
      }
      i += 1
    }
    out.toSeq
  }
}
