package graft.store

import java.nio.file.attribute.FileTime
import java.nio.file.{CopyOption, OpenOption, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.jdk.StreamConverters._

/** The store's PATH LAYER seam — local java.nio vs Hadoop-compatible
  * object stores, chosen per path by URI scheme.
  *
  * The MERGE store's durability protocol (reference deployment: sensors
  * "en masse around town" feeding one central store,
  * `/root/reference/README.md:12-13`) was written against java.nio
  * primitives; at the 100 TB target the store lives on HDFS / S3 /
  * GCS, so every protocol primitive is funneled through this facade:
  *
  *   - [[StorePath]] — a path VALUE (plain string underneath) with the
  *     nio-Path surface the protocol uses (`resolve`, `resolveSibling`,
  *     `getFileName`, `toAbsolutePath`, `normalize`, ordering);
  *   - [[StorePaths]] / [[StoreFiles]] — method-for-method mirrors of
  *     the `java.nio.file.{Paths, Files}` SUBSET the protocol calls,
  *     so the protocol code reads unchanged and every semantic audit
  *     of it still applies.
  *
  * DISPATCH: a path with a URI scheme other than `file:` routes to
  * [[HadoopStoreIO]] (`org.apache.hadoop.fs.FileSystem`, the one
  * public API every cluster filesystem implements — HDFS, S3A, GCS,
  * ABFS); scheme-less and `file:` paths keep byte-identical
  * java.nio semantics ([[LocalStoreIO]]) — O_EXCL exclusive create,
  * rename(2) atomic move — which the OCC/claim concurrency specs pin.
  *
  * CAS ANALOGUE TABLE (what each protocol primitive needs and what the
  * remote layer provides):
  *
  *   - exclusive claim create (`write(CREATE_NEW)`): HDFS `create(f,
  *     overwrite=false)` is atomic at the NameNode; S3A needs
  *     conditional writes (`fs.s3a.create.conditional.enabled`, S3
  *     If-None-Match PUT) for the same guarantee.
  *   - pointer swap (`move(ATOMIC_MOVE, REPLACE_EXISTING)`):
  *     `FileContext.rename(OVERWRITE)` — atomic on HDFS; on S3A a
  *     rename is copy+delete, so the swap degrades to
  *     delete-then-rename (the fallback path here) and `_latest`
  *     readers must tolerate a missing-pointer retry — or deploy the
  *     pointer dir on HDFS/DBFS while data dirs live on S3, the
  *     standard lakehouse split.
  *   - marker capture (`move(ATOMIC_MOVE)`, exclusive): HDFS rename
  *     fails when the destination exists — exactly one mover wins.
  *   - mtime lease reads/refreshes: `FileStatus.getModificationTime` /
  *     `setTimes` (S3: object PUT time; refresh re-PUTs the marker).
  *
  * Data dirs never pass through this facade — parquet reads/writes
  * hand the path STRING to Spark, whose Hadoop integration already
  * speaks every scheme. Missing files surface as
  * `java.nio.file.NoSuchFileException` and occupied exclusive creates
  * as `java.nio.file.FileAlreadyExistsException` from BOTH backends,
  * so the protocol's catch sites stay backend-blind. */
final case class StorePath(path: String) extends Comparable[StorePath] {

  /** True when this path carries a non-`file:` URI scheme and so
    * routes through the Hadoop layer. */
  def isRemote: Boolean = StorePath.schemeOf(path).exists(_ != "file")

  def resolve(child: String): StorePath =
    StorePath(s"${path.stripSuffix("/")}/$child")

  def resolveSibling(name: String): StorePath = {
    val p = path.stripSuffix("/")
    val cut = p.lastIndexOf('/')
    require(cut >= 0, s"StorePath($path) has no parent to resolve a sibling in")
    StorePath(s"${p.substring(0, cut)}/$name")
  }

  /** The last path segment, as a StorePath whose toString is the bare
    * name — mirroring `java.nio.file.Path.getFileName`. */
  def getFileName: StorePath = {
    val p = path.stripSuffix("/")
    StorePath(p.substring(p.lastIndexOf('/') + 1))
  }

  def toAbsolutePath: StorePath =
    if (isRemote) this // a scheme'd URI is already absolute
    else StorePath(java.nio.file.Paths.get(path).toAbsolutePath.toString)

  def normalize: StorePath =
    if (isRemote) StorePath(new java.net.URI(path).normalize().toString)
    else StorePath(java.nio.file.Paths.get(path).normalize().toString)

  override def compareTo(o: StorePath): Int = path.compareTo(o.path)
  override def toString: String = path
}

object StorePath {
  // a scheme followed by ":/" — covers both authority URIs
  // ("hdfs://nn/x") and Hadoop Path's empty-authority rendering
  // ("graftlocal:/tmp/x", what Path.toString emits for listed children)
  private val Scheme = "^([a-zA-Z][a-zA-Z0-9+.\\-]*):/.*$".r
  private[store] def schemeOf(p: String): Option[String] =
    if (p.isEmpty || p.charAt(0) == '/' || p.indexOf(':') <= 0) None // fast path
    else p match {
      case Scheme(s) => Some(s.toLowerCase)
      case _ => None
    }
}

/** One listed file: its path, byte length and modification time
  * (epoch millis). */
final case class StoreFileStatus(path: StorePath, length: Long,
    modificationTime: Long)

/** Mirror of the `java.nio.file.Paths.get(first, more*)` construction
  * the protocol uses. */
object StorePaths {
  def get(first: String, more: String*): StorePath =
    more.foldLeft(StorePath(first))(_ resolve _)
}

/** The per-backend primitive set. Implementations must surface missing
  * files as [[java.nio.file.NoSuchFileException]] and occupied
  * exclusive creates as [[java.nio.file.FileAlreadyExistsException]].
  * All methods are thread-safe (the erasure rewrite pool and the OCC
  * heartbeat call in concurrently). */
private[store] trait StoreBackend {
  def exists(p: StorePath): Boolean
  def isDirectory(p: StorePath): Boolean
  def size(p: StorePath): Long
  def readAllBytes(p: StorePath): Array[Byte]
  def write(p: StorePath, bytes: Array[Byte], createNew: Boolean): Unit
  def createExclusive(p: StorePath, bytes: Array[Byte]): Unit
  def move(src: StorePath, dst: StorePath, replaceExisting: Boolean): Unit
  def deleteIfExists(p: StorePath): Boolean
  def createDirectories(p: StorePath): Unit
  def list(p: StorePath): Seq[StorePath]
  def listFiles(p: StorePath): Seq[StoreFileStatus]
  def getLastModifiedTime(p: StorePath): FileTime
  def setLastModifiedTime(p: StorePath, t: FileTime): Unit
  def deleteTree(p: StorePath): Unit
}

/** Local backend: byte-identical to the java.nio calls the protocol
  * was audited against (O_EXCL create, rename(2) atomic move). */
private[store] object LocalStoreIO extends StoreBackend {
  private def nio(p: StorePath): java.nio.file.Path =
    if (p.path.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p.path))
    else java.nio.file.Paths.get(p.path)

  def exists(p: StorePath): Boolean = java.nio.file.Files.exists(nio(p))
  def isDirectory(p: StorePath): Boolean = java.nio.file.Files.isDirectory(nio(p))
  def size(p: StorePath): Long = java.nio.file.Files.size(nio(p))
  def readAllBytes(p: StorePath): Array[Byte] =
    java.nio.file.Files.readAllBytes(nio(p))
  def write(p: StorePath, bytes: Array[Byte], createNew: Boolean): Unit =
    if (createNew)
      java.nio.file.Files.write(nio(p), bytes, StandardOpenOption.CREATE_NEW)
    else java.nio.file.Files.write(nio(p), bytes)
  def createExclusive(p: StorePath, bytes: Array[Byte]): Unit = {
    // hard-link publish: the FULL content lands under a temp name and
    // the link() either creates the destination complete or fails on
    // an existing one — no created-but-empty window for readers (the
    // two-step CREATE_NEW write exposes length-0 between create and
    // write; for a registry file that window reads as corruption)
    val tmp = nio(p).resolveSibling(s".${nio(p).getFileName}.x." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    java.nio.file.Files.write(tmp, bytes)
    try java.nio.file.Files.createLink(nio(p), tmp)
    catch {
      // an EXISTING destination is the CAS refusal — propagate it
      // (FileAlreadyExistsException IS a FileSystemException, so it
      // must be re-thrown before the filesystem-limitation fallback)
      case e: java.nio.file.FileAlreadyExistsException => throw e
      // hard-link refusal surfaces as UnsupportedOperationException on
      // some filesystems but as FileSystemException on many others
      // (FAT/exFAT, FUSE/overlay mounts, EPERM policies): both mean
      // "this fs can't link" — fall back to CREATE_NEW rather than
      // failing first-batch registry creation with an opaque error
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        java.nio.file.Files.write(nio(p), bytes, StandardOpenOption.CREATE_NEW)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
  def move(src: StorePath, dst: StorePath, replaceExisting: Boolean): Unit =
    if (replaceExisting)
      java.nio.file.Files.move(nio(src), nio(dst),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    else java.nio.file.Files.move(nio(src), nio(dst),
      StandardCopyOption.ATOMIC_MOVE)
  def deleteIfExists(p: StorePath): Boolean =
    java.nio.file.Files.deleteIfExists(nio(p))
  def createDirectories(p: StorePath): Unit =
    java.nio.file.Files.createDirectories(nio(p))
  def list(p: StorePath): Seq[StorePath] = {
    val s = java.nio.file.Files.list(nio(p))
    try s.iterator().asScala.map(c => StorePath(c.toString)).toList
    finally s.close()
  }
  def listFiles(p: StorePath): Seq[StoreFileStatus] = {
    val s = java.nio.file.Files.list(nio(p))
    try s.iterator().asScala.flatMap { c =>
      // a child removed between the listing and its attribute read
      // (a concurrent vacuum / erasure swap) is simply not listed
      val attrs =
        try Some(java.nio.file.Files.readAttributes(c,
          classOf[java.nio.file.attribute.BasicFileAttributes]))
        catch { case _: java.nio.file.NoSuchFileException => None }
      attrs.filter(_.isRegularFile).map(a => StoreFileStatus(
        StorePath(c.toString), a.size, a.lastModifiedTime.toMillis))
    }.toList
    finally s.close()
  }
  def getLastModifiedTime(p: StorePath): FileTime =
    java.nio.file.Files.getLastModifiedTime(nio(p))
  def setLastModifiedTime(p: StorePath, t: FileTime): Unit =
    java.nio.file.Files.setLastModifiedTime(nio(p), t)
  def deleteTree(p: StorePath): Unit = {
    val s = java.nio.file.Files.walk(nio(p))
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(c => java.nio.file.Files.deleteIfExists(c))
    finally s.close()
  }
}

/** Hadoop backend: every primitive through
  * `org.apache.hadoop.fs.FileSystem` (instances come from Hadoop's own
  * per-scheme cache; the Configuration is the active Spark session's,
  * so `spark.hadoop.*` settings — credentials, custom `fs.<scheme>.impl`
  * bindings — apply). The overwrite-rename prefers
  * `FileContext.rename(OVERWRITE)` (atomic on HDFS) and falls back to
  * delete-then-rename where the scheme has no AbstractFileSystem
  * binding — see the CAS analogue table on [[StorePath]]. */
private[store] object HadoopStoreIO extends StoreBackend {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

  // the LIVE SparkContext Hadoop configuration when a session exists
  // (so `spark.hadoop.*` settings — credentials, custom `fs.<scheme>
  // .impl` bindings — apply, including ones set after startup); a
  // plain Configuration outside any session. Never a copy: copies go
  // stale. getActiveSession is thread-local — fall back to the default
  // session for calls from worker pools (the erasure rewrite pool).
  private val fallbackConf =
    new java.util.concurrent.atomic.AtomicReference[Configuration]()
  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse {
        if (fallbackConf.get == null)
          fallbackConf.compareAndSet(null, new Configuration())
        fallbackConf.get
      }

  private def h(p: StorePath) = new HPath(p.path)
  private def fs(p: StorePath): FileSystem = h(p).getFileSystem(conf)

  private def noSuchFile(p: StorePath) =
    new java.nio.file.NoSuchFileException(p.path)

  // FileContext per scheme+authority; None caches an unsupported scheme
  private val fctx =
    new java.util.concurrent.ConcurrentHashMap[String, Option[FileContext]]()
  private def fileContext(p: StorePath): Option[FileContext] = {
    val uri = h(p).toUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    fctx.computeIfAbsent(key, _ =>
      try Some(FileContext.getFileContext(uri, conf))
      catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None })
  }

  def exists(p: StorePath): Boolean = fs(p).exists(h(p))
  def isDirectory(p: StorePath): Boolean =
    try fs(p).getFileStatus(h(p)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  def size(p: StorePath): Long =
    try fs(p).getFileStatus(h(p)).getLen
    catch { case _: java.io.FileNotFoundException => throw noSuchFile(p) }

  def readAllBytes(p: StorePath): Array[Byte] = {
    val in =
      try fs(p).open(h(p))
      catch { case _: java.io.FileNotFoundException => throw noSuchFile(p) }
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  def write(p: StorePath, bytes: Array[Byte], createNew: Boolean): Unit = {
    val out =
      try fs(p).create(h(p), !createNew)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          throw new java.nio.file.FileAlreadyExistsException(p.path)
      }
    try out.write(bytes) finally out.close()
  }

  def createExclusive(p: StorePath, bytes: Array[Byte]): Unit =
    // HDFS exposes the file at create (length 0) and the content at
    // close — a reader racing this window sees an empty registry file;
    // the store-side readers retry/refuse loudly on empty content (the
    // same documented window as the claim markers)
    write(p, bytes, createNew = true)

  def move(src: StorePath, dst: StorePath, replaceExisting: Boolean): Unit =
    if (!replaceExisting) {
      // exclusive move. CAUTION: FileSystem.rename(src, dst) with dst
      // an EXISTING DIRECTORY moves src INTO dst (the Hadoop FS spec's
      // posix-style rename) and returns true — silently NESTING the
      // source where the protocol expects a refusal. Probe dst first;
      // the probe-to-rename window is covered by the claim protocol
      // (only one claimant publishes a given version at a time), and
      // the post-rename nesting check turns any remaining surprise
      // into a loud error instead of a divergent directory.
      if (fs(dst).exists(h(dst)))
        throw new java.io.IOException(
          s"rename $src -> $dst refused: destination exists")
      if (!fs(src).rename(h(src), h(dst)))
        throw new java.io.IOException(
          s"rename $src -> $dst failed (destination exists or source is gone)")
      val nested = new HPath(h(dst), h(src).getName)
      if (fs(dst).exists(nested))
        throw new java.io.IOException(
          s"rename $src -> $dst NESTED the source into an existing " +
            "directory — destination was created concurrently; the store " +
            s"dir needs manual repair ($nested)")
    } else fileContext(dst) match {
      case Some(fc) =>
        try fc.rename(h(src), h(dst), Options.Rename.OVERWRITE)
        catch { case _: java.io.FileNotFoundException => throw noSuchFile(src) }
      case None =>
        // no AbstractFileSystem binding for the scheme: non-atomic
        // delete-then-rename (see the CAS analogue table)
        fs(dst).delete(h(dst), false)
        if (!fs(src).rename(h(src), h(dst)))
          throw new java.io.IOException(s"rename $src -> $dst failed")
    }

  def deleteIfExists(p: StorePath): Boolean = fs(p).delete(h(p), false)
  def createDirectories(p: StorePath): Unit = { fs(p).mkdirs(h(p)); () }

  def list(p: StorePath): Seq[StorePath] =
    try fs(p).listStatus(h(p)).toSeq.map(st => StorePath(st.getPath.toString))
    catch { case _: java.io.FileNotFoundException => throw noSuchFile(p) }
  def listFiles(p: StorePath): Seq[StoreFileStatus] =
    try fs(p).listStatus(h(p)).toSeq.filter(_.isFile).map(st =>
      StoreFileStatus(StorePath(st.getPath.toString), st.getLen,
        st.getModificationTime))
    catch { case _: java.io.FileNotFoundException => throw noSuchFile(p) }

  def getLastModifiedTime(p: StorePath): FileTime =
    try FileTime.fromMillis(fs(p).getFileStatus(h(p)).getModificationTime)
    catch { case _: java.io.FileNotFoundException => throw noSuchFile(p) }
  def setLastModifiedTime(p: StorePath, t: FileTime): Unit = {
    // `FileSystem.setTimes` is a SILENT NO-OP on object stores (S3A
    // and any fs that keeps the base-class default): trusting it
    // would silently stop the claim heartbeat from refreshing leases
    // there — any rewrite longer than the takeover lease would look
    // abandoned and get usurped. VERIFY the mtime actually moved by
    // read-back; when it did not, re-PUT the file's own bytes (the
    // CAS table's documented refresh — an object PUT is the one
    // mtime-moving primitive every object store has). The re-PUT is
    // an overwrite, not atomic: a reader racing it can see partial
    // content, which the marker readers already treat as a detected
    // race/corruption — loud, never a silent clobber.
    //
    // FORWARD-ONLY on object stores: a re-PUT stamps "now", so it can
    // only repair refreshes that move the clock FORWARD (the
    // heartbeat case). Restoring an OLDER mtime (captureStaleMarker's
    // lease-clock restore) silently keeps "now" there — the restored
    // claim gets one fresh lease. That restore path is only reached
    // for a writer that heartbeated during the capture race, so the
    // cost is bounded to one extra lease per race (documented at the
    // call site); backward restores are exact on local/HDFS only.
    try {
      fs(p).setTimes(h(p), t.toMillis, -1)
      val moved = fs(p).getFileStatus(h(p)).getModificationTime
      // 2 s slack absorbs second-granularity mtimes; a no-op'd
      // heartbeat refresh (minutes stale) is far outside it
      if (moved + 2000L < t.toMillis) write(p, readAllBytes(p), createNew = false)
    } catch { case _: java.io.FileNotFoundException => throw noSuchFile(p) }
  }

  def deleteTree(p: StorePath): Unit = { fs(p).delete(h(p), true); () }
}

/** Mirror of the `java.nio.file.Files` SUBSET the store protocol uses,
  * dispatching per path ([[StorePath.isRemote]]). Signatures accept the
  * real nio option enums so protocol call sites read unchanged; only
  * the option combinations the protocol actually uses are admitted
  * (anything else is a programming error, refused loudly). */
object StoreFiles {

  private def io(p: StorePath): StoreBackend =
    if (p.isRemote) HadoopStoreIO else LocalStoreIO

  def exists(p: StorePath): Boolean = io(p).exists(p)
  def isDirectory(p: StorePath): Boolean = io(p).isDirectory(p)
  def size(p: StorePath): Long = io(p).size(p)
  def readAllBytes(p: StorePath): Array[Byte] = io(p).readAllBytes(p)

  def write(p: StorePath, bytes: Array[Byte], opts: OpenOption*): StorePath = {
    require(opts.isEmpty || opts == Seq(StandardOpenOption.CREATE_NEW),
      s"StoreFiles.write supports no options or CREATE_NEW (got $opts)")
    io(p).write(p, bytes, createNew = opts.nonEmpty)
    p
  }

  def move(src: StorePath, dst: StorePath, opts: CopyOption*): StorePath = {
    val allowed = Set[CopyOption](StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    require(opts.contains(StandardCopyOption.ATOMIC_MOVE) &&
      opts.forall(allowed),
      s"StoreFiles.move supports ATOMIC_MOVE [+ REPLACE_EXISTING] (got $opts)")
    require(src.isRemote == dst.isRemote,
      s"StoreFiles.move cannot cross backends ($src -> $dst)")
    io(src).move(src, dst,
      replaceExisting = opts.contains(StandardCopyOption.REPLACE_EXISTING))
    dst
  }

  /** EXCLUSIVE create with ATOMIC content (registry files): either the
    * destination appears with its full bytes or the call throws
    * [[java.nio.file.FileAlreadyExistsException]] — locally a
    * hard-link publish (no created-but-empty window), remotely the
    * backend's create-exclusive. */
  def createExclusive(p: StorePath, bytes: Array[Byte]): Unit =
    io(p).createExclusive(p, bytes)

  def deleteIfExists(p: StorePath): Boolean = io(p).deleteIfExists(p)
  def createDirectories(p: StorePath): StorePath = {
    io(p).createDirectories(p); p
  }

  /** Children of `p` as a closeable stream, mirroring `Files.list` (the
    * protocol drains it under try/finally; both backends materialize
    * driver-side — store metadata listings are O(versions), never
    * O(data)). */
  def list(p: StorePath): java.util.stream.Stream[StorePath] =
    io(p).list(p).asJavaSeqStream

  /** The regular files directly under `p` with their sizes and mtimes —
    * what a scan's file index needs. The Hadoop backend gets them from
    * the one `listStatus` call; locally each child costs one attribute
    * read. Throws [[java.nio.file.NoSuchFileException]] for a missing
    * `p`, like [[list]]. */
  def listFiles(p: StorePath): Seq[StoreFileStatus] = io(p).listFiles(p)

  def getLastModifiedTime(p: StorePath): FileTime = io(p).getLastModifiedTime(p)
  def setLastModifiedTime(p: StorePath, t: FileTime): StorePath = {
    io(p).setLastModifiedTime(p, t); p
  }

  /** Recursive delete (replaces the one `Files.walk` site). */
  def deleteTree(p: StorePath): Unit = io(p).deleteTree(p)
}
