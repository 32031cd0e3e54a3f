package graft.core.file

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage abstraction over Hadoop `FileSystem` — the analog of the
  * reference's storage-agnostic `MothDataSource` interface
  * (/root/reference/pkg/store/MothDataSource.go:14-17). Any scheme with a
  * registered FileSystem (hdfs://, s3a://, file:, …) works; scheme-less and
  * `file:` paths take a direct RandomAccessFile fast path (no Hadoop
  * wrapping on the hot local case).
  *
  * Executors resolve the configuration from the classpath
  * (core-site.xml/hdfs-site.xml — how Hadoop FS settings reach every JVM of
  * a real cluster); tests may mutate [[Sources.conf]] to register schemes
  * process-wide.
  */
object Sources {
  /** Process-wide Hadoop configuration (lazily built from the classpath). */
  lazy val conf: Configuration = new Configuration()

  private def isLocal(p: Path): Boolean = {
    val s = p.toUri.getScheme
    s == null || s == "file"
  }

  private def localPathOf(p: Path): String = p.toUri.getPath

  /** Positioned-read source for any supported path/URI. */
  def forPath(path: String): ByteSource = {
    val p = new Path(path)
    if (isLocal(p)) new FileSource(localPathOf(p)) else new HadoopSource(p, conf)
  }

  /** (size, mtime) for cache keying. */
  def status(path: String): (Long, Long) = {
    val p = new Path(path)
    if (isLocal(p)) {
      val f = new java.io.File(localPathOf(p))
      (f.length(), f.lastModified())
    } else {
      val s = p.getFileSystem(conf).getFileStatus(p)
      (s.getLen, s.getModificationTime)
    }
  }

  def fileSystemOf(path: String): FileSystem = new Path(path).getFileSystem(conf)

  def isLocalPath(path: String): Boolean = isLocal(new Path(path))

  def mkdirs(path: String): Unit = {
    if (isLocalPath(path)) new java.io.File(localPathOf(new Path(path))).mkdirs()
    else fileSystemOf(path).mkdirs(new Path(path))
  }

  def exists(path: String): Boolean =
    if (isLocalPath(path)) new java.io.File(localPathOf(new Path(path))).exists()
    else fileSystemOf(path).exists(new Path(path))

  /** Output stream for any scheme; the local fast path is a plain
    * FileOutputStream (the encode hot path writes through this — no Hadoop
    * wrapping for local/tmpfs output).
    */
  def createOutput(path: String): java.io.OutputStream =
    if (isLocalPath(path)) new java.io.FileOutputStream(localPathOf(new Path(path)))
    else fileSystemOf(path).create(new Path(path), true)

  /** Publish src as dst, replacing any existing dst.
    *
    * Local paths use an ATOMIC filesystem move. Non-local schemes are
    * delete-then-rename, which is NOT atomic: a crash between the two
    * operations leaves neither src nor dst published. That window is
    * tolerated by design — manifest/offset readers treat an absent file as
    * "not yet written" and the writing task's retry re-creates it — but
    * callers must not assume dst is continuously present on hdfs/s3a.
    * (FileContext.rename(OVERWRITE) would close the window on HDFS; it is
    * avoided here because object stores don't implement it atomically
    * either, and the absence-tolerant protocol covers both.)
    */
  def atomicRename(src: String, dst: String): Unit = {
    if (isLocalPath(src)) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(localPathOf(new Path(src))),
        java.nio.file.Paths.get(localPathOf(new Path(dst))),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val fs = fileSystemOf(src)
      fs.delete(new Path(dst), false)
      if (!fs.rename(new Path(src), new Path(dst)))
        throw new java.io.IOException(s"rename $src -> $dst failed")
    }
  }

  /** Removes a file if it exists (a failed task's tmp output). */
  def delete(path: String): Unit =
    if (isLocalPath(path)) java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(localPathOf(new Path(path))))
    else fileSystemOf(path).delete(new Path(path), false)

  def readAllBytes(path: String): Array[Byte] =
    if (isLocalPath(path))
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(localPathOf(new Path(path))))
    else {
      val in = fileSystemOf(path).open(new Path(path))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    }

  /** All .moth files under `path` (or `path` itself if it is a file) with
    * (size, mtime) each, sorted by name — one listing RPC, no recursion (the
    * writers lay files flat, matching the reference's directory layout).
    * The sizes and mtimes key the tail cache, so planning never re-stats.
    */
  def listMothSized(path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq((fs.makeQualified(p).toString, st.getLen, st.getModificationTime))
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".moth"))
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .sortBy(_._1)
  }
}

/** ByteSource over `FSDataInputStream` positioned reads (thread-safe per
  * the Hadoop PositionedReadable contract; no seek state shared between
  * concurrent readers of one split).
  */
final class HadoopSource(p: Path, conf: Configuration) extends ByteSource {
  private val fs = p.getFileSystem(conf)
  private val len = fs.getFileStatus(p).getLen
  private val in = fs.open(p)
  def size: Long = len
  protected def readImpl(pos: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    in.readFully(pos, out, 0, n)
    out
  }
  override def close(): Unit = in.close()
}
