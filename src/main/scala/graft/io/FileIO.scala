package graft.io

import java.io.{InputStream, OutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage abstraction over the Hadoop FileSystem API — the Spark-native
  * analogue of the reference's FileIO/OpenDAL layer (io/file_io.rs:63).
  * Works for file://, hdfs://, s3a://, etc. — whatever the cluster's Hadoop
  * conf provides, so the engine is object-store-agnostic like the
  * reference.
  */
final class FileIO(val conf: Configuration) extends Serializable {

  @transient private lazy val fsCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()

  def fs(path: String): FileSystem = {
    val p = new Path(path)
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (scheme == "hf")
      throw new UnsupportedOperationException(
        s"hf:// is not a filesystem; resolve to HTTP via graft.io.HfUri: " +
          HfUri.parse(path).map(_.resolveUrl()).getOrElse(path))
    fsCache.computeIfAbsent(scheme, _ =>
      // local paths go through the fork-free NIO FileSystem (see
      // NioLocalFileSystem: RawLocalFileSystem execs `chmod` per created
      // file/dir when libhadoop is absent); opt out with
      // graft.io.nio-local=false to restore the checksummed default
      if (scheme == "file" && conf.getBoolean("graft.io.nio-local", true)) {
        val f = new NioLocalFileSystem
        f.initialize(java.net.URI.create("file:///"), conf)
        f
      } else p.getFileSystem(conf))
  }

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  /** `path` qualified by its filesystem (`file:/…` for a bare local
    * path): the rendering Spark's `_metadata.file_path` shows and that
    * position-delete rows written from it store. */
  def qualify(path: String): String =
    fs(path).makeQualified(new Path(path)).toString

  /** Text read with gzip sniffing (reference compression.rs: metadata
    * JSON may be gzip-compressed — e.g. `write.metadata.compression-codec
    * = gzip`, or a foreign `.gz.metadata.json`). Detection is by magic
    * bytes, not filename, so registered foreign files read either way. */
  def readString(path: String): String = {
    val b = readBytes(path)
    val data =
      if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(b))
        try in.readAllBytes() finally in.close()
      } else b
    new String(data, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Gzip-compress a UTF-8 string (metadata.json compression). */
  def gzipBytes(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    bos.toByteArray
  }

  def readBytes(path: String): Array[Byte] = {
    val in = open(path)
    try in.readAllBytes() finally in.close()
  }

  def open(path: String): InputStream = fs(path).open(new Path(path))

  def create(path: String, overwrite: Boolean = false): OutputStream = {
    val p = new Path(path)
    val f = fs(path)
    f.mkdirs(p.getParent)
    f.create(p, overwrite)
  }

  def writeString(path: String, s: String, overwrite: Boolean = false): Unit =
    writeBytes(path, s.getBytes(java.nio.charset.StandardCharsets.UTF_8), overwrite)

  def writeBytes(path: String, b: Array[Byte], overwrite: Boolean = false): Unit = {
    val out = create(path, overwrite)
    try out.write(b) finally out.close()
  }

  /** Atomic-ish rename (HDFS/local: atomic; object stores need a CAS
    * catalog instead — SURVEY.md §7 hard part 4). NOTE: on the local FS
    * this is rename(2) semantics — an existing destination is silently
    * REPLACED; use [[renameIfAbsent]] for commit CAS. */
  def rename(src: String, dst: String): Boolean =
    fs(src).rename(new Path(src), new Path(dst))

  /** CAS primitive: move `src` to `dst` ONLY if `dst` does not exist,
    * atomically. POSIX rename(2) — and so FileSystem.rename on the local
    * FS — replaces an existing destination, which turned the catalog's
    * version-file commit into last-writer-wins under two committers
    * racing the same version (the ConflictSpec 230-vs-210 lost-update
    * flake, r15: both passed the exists pre-check, the second rename
    * silently overwrote the first committer's already-acknowledged
    * metadata). On `file://` this hard-links (link(2) fails EEXIST
    * atomically) then unlinks the source. Other schemes keep the
    * exists+rename shape (HDFS rename is already no-overwrite; object
    * stores should front commits with a CAS catalog — unchanged). */
  def renameIfAbsent(src: String, dst: String): Boolean =
    renameIfAbsent(src, dst, (d, s) => java.nio.file.Files.createLink(d, s))

  /** [[renameIfAbsent]] over an explicit `link(dst, src)` primitive. A
    * local filesystem without hard links (NFS, FAT, some container
    * mounts: UnsupportedOperationException, or a plain FileSystemException
    * such as EPERM/ENOTSUP) degrades to exists+rename instead of failing
    * every commit. A missing source or directory and a denied access are
    * real I/O errors and propagate — answering false would report them as
    * a lost commit race. After a link, the source's `.crc` sidecar
    * (written by the checksummed local FS, `graft.io.nio-local=false`) is
    * removed too. */
  private[io] def renameIfAbsent(src: String, dst: String,
      link: (java.nio.file.Path, java.nio.file.Path) => Unit): Boolean = {
    val scheme = Option(new Path(src).toUri.getScheme).getOrElse("file")
    if (scheme != "file") return !exists(dst) && rename(src, dst)
    def local(p: String) = java.nio.file.Paths.get(new Path(p).toUri.getPath)
    val linked =
      try { link(local(dst), local(src)); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => return false
        case _: UnsupportedOperationException => false
        case e: java.nio.file.FileSystemException
            if e.getClass == classOf[java.nio.file.FileSystemException] => false
      }
    if (!linked) return !exists(dst) && rename(src, dst)
    val s = local(src)
    java.nio.file.Files.delete(s)
    java.nio.file.Files.deleteIfExists(s.resolveSibling(s".${s.getFileName}.crc"))
    true
  }

  def delete(path: String, recursive: Boolean = false): Boolean =
    fs(path).delete(new Path(path), recursive)

  def size(path: String): Long = fs(path).getFileStatus(new Path(path)).getLen

  def listFiles(dir: String, recursive: Boolean = true): Seq[(String, Long)] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) return Nil
    val it = f.listFiles(p, recursive)
    val b = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val s = it.next()
      // skip only CHECKSUM sidecars (`.x.crc`): the checksummed local FS
      // hid them from listings; the raw NIO FS must keep that contract.
      // Scoped to the exact sidecar pattern (ADVICE r15): a blanket
      // dot-prefix filter made legitimately dot-prefixed objects
      // invisible to every caller, including orphan GC's sweep.
      if (s.isFile && !isCrcSidecar(s.getPath.getName))
        b += ((s.getPath.toString, s.getLen))
    }
    b.result()
  }

  private def isCrcSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  /** (path, length, modificationTimeMs) recursive listing. */
  def listFilesRecursive(dir: String): Seq[(String, Long, Long)] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) return Nil
    val it = f.listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && !isCrcSidecar(s.getPath.getName))
        b += ((s.getPath.toString, s.getLen, s.getModificationTime))
    }
    b.result()
  }
}

object FileIO {
  /** FileIO from the active Spark session's hadoop conf. */
  def fromSpark(spark: org.apache.spark.sql.SparkSession): FileIO =
    new FileIO(spark.sessionState.newHadoopConf())

  /** JVM-wide default-conf template. `new Configuration()` re-parses the
    * *-default.xml resources (~50 ms of XML + classloader work); the
    * executor-side per-file/per-task constructions (footer harvest,
    * distributed manifest reads, orphan listing) were re-paying that on
    * every call — measured as a top-5 executor stack in the fold bench
    * lines. The template is parsed once and never mutated; [[sharedConf]]
    * hands out cheap property-clone copies. */
  private lazy val confTemplate: Configuration = {
    val c = new Configuration()
    c.get("io.file.buffer.size") // force-load properties into the template
    new ReadOnlyConfiguration(c)
  }

  /** A fresh, mutable Configuration copied from the parsed template —
    * no XML re-parse (the copy constructor clones loaded properties). */
  def sharedConf(): Configuration = new Configuration(confTemplate)

  /** READ-ONLY default conf for per-file read paths (footer harvest,
    * footer row counts): with no extra entries the shared template is
    * handed out directly — no property-clone at all, where the copy per
    * harvested file was a top executor stack of the fold bench lines
    * (r16). Callers MUST NOT mutate the returned conf; mutating
    * call-sites take [[sharedConf]] copies. Encrypted reads (non-empty
    * `extra`) still pay one copy per call. */
  def readOnlyConf(extra: Map[String, String] = Map.empty): Configuration =
    if (extra.isEmpty) confTemplate
    else {
      val c = sharedConf()
      extra.foreach { case (k, v) => c.set(k, v) }
      c
    }

  def local(): FileIO = new FileIO(sharedConf())

  /** A loaded Configuration whose mutators throw: the shared template
    * behind [[readOnlyConf]] can be read by any number of callers but
    * changed by none. Every public mutator funnels into the overrides
    * below (`setInt`, `setBoolean`, … call `set`). Copies made from it
    * (`new Configuration(ro)`) are ordinary mutable confs.
    * `reloadConfiguration` stays open: `Configuration.addDefaultResource`
    * calls it on every registered conf (JobConf, HdfsConfiguration and
    * YarnConfiguration do so from their static initializers), and it only
    * drops the parsed properties — the re-parse yields the same defaults
    * plus the added resource, and there is no `set` entry to lose. */
  private[io] final class ReadOnlyConfiguration(loaded: Configuration)
      extends Configuration(loaded) {
    private def refuse(): Nothing = throw new UnsupportedOperationException(
      "read-only shared Configuration; take FileIO.sharedConf() to mutate")
    override def set(name: String, value: String, source: String): Unit = refuse()
    override def unset(name: String): Unit = refuse()
    override def clear(): Unit = refuse()
    override def addResource(name: String): Unit = refuse()
    override def addResource(name: String, restricted: Boolean): Unit = refuse()
    override def addResource(url: java.net.URL): Unit = refuse()
    override def addResource(url: java.net.URL, restricted: Boolean): Unit = refuse()
    override def addResource(file: Path): Unit = refuse()
    override def addResource(file: Path, restricted: Boolean): Unit = refuse()
    override def addResource(in: InputStream): Unit = refuse()
    override def addResource(in: InputStream, restricted: Boolean): Unit = refuse()
    override def addResource(in: InputStream, name: String): Unit = refuse()
    override def addResource(in: InputStream, name: String,
        restricted: Boolean): Unit = refuse()
    override def addResource(conf: Configuration): Unit = refuse()
    override def setClassLoader(cl: ClassLoader): Unit = refuse()
  }

  /** FileIO configured from reference-style cloud storage properties
    * (`s3.endpoint`, `gcs.project-id`, `adls.account-key`, …) — the
    * scheme→connector translation lives in [[CloudStorage]]. */
  def withProperties(props: Map[String, String],
      base: Configuration = sharedConf()): FileIO =
    new FileIO(CloudStorage.configure(props, base))
}
