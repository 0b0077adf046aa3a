package graft.icelite

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/**
 * Metadata IO for stored tables — the ONE seam for every metadata record:
 * [[Icelite]] manifests, pointers and claims, [[FoldSwap]] markers, claims,
 * listings and swaps, the ANN index and postings sidecars, the per-batch
 * BM25 stats and the run metrics (small JSON documents, read back with
 * [[readJson]]). Spark reads and writes only table DATA (its parquet IO
 * speaks Hadoop `FileSystem` natively), so with this seam a root can be a
 * local directory, `file://`, `hdfs://`, or any other Hadoop-registered scheme.
 *
 * Two implementations, dispatched on where the root resolves
 * ([[MetaIO.forRoot]]):
 *
 *  - [[NioMetaIO]] for scheme-less paths under a local `fs.defaultFS` —
 *    keeps the POSIX `O_EXCL` guarantee behind every claim CAS (java.nio
 *    `CREATE_NEW` is truly atomic on one filesystem, including across
 *    processes).
 *  - [[HadoopMetaIO]] for URIs, and for scheme-less paths when
 *    `fs.defaultFS` is not local (the data files under such a path live on
 *    the default filesystem, so the metadata must too) —
 *    `FileSystem.create(path, overwrite=false)`
 *    is the claim CAS (atomic in the HDFS namenode; object stores without
 *    conditional writes weaken this to best-effort — documented below),
 *    and renames go through `FileContext.rename`, whose
 *    `Options.Rename` flag expresses both the fail-if-exists commit and
 *    the overwriting pointer advance.
 *
 * S3A caveat (documented, not hidden): `create(overwrite=false)` on S3 is
 * check-then-put unless the store provides conditional writes, and rename
 * is copy+delete. The same holds for `file://` URIs: Hadoop's local
 * filesystem checks existence, then opens — concurrent local writers
 * belong on scheme-less paths. On such stores the claim CAS and pointer
 * atomicity degrade to best-effort; run concurrent WRITERS against
 * HDFS-backed metadata (or a single ingest driver, the steady-state shape)
 * and keep S3 for the immutable data dirs, which never rename after commit.
 */
private[graft] sealed trait MetaIO extends Serializable {
  /** Join path segments with the layer's separator (both impls use '/'). */
  def join(parts: String*): String = parts.mkString("/")
  def exists(p: String): Boolean
  def mkdirs(p: String): Unit
  def readString(p: String): String
  /** [[readString]], or None when `p` is absent — one read, so a file
    * deleted between an exists() check and the read cannot throw. */
  def readIfExists(p: String): Option[String] =
    try Some(readString(p))
    catch {
      case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => None
    }
  /** [[readIfExists]] parsed as JSON. */
  def readJson(p: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    readIfExists(p).map(MetaIO.json.readTree)
  /** Write `content` to `tmp`, then atomically rename onto `dst`; missing
    * parent directories are created. `replace=false` must FAIL if `dst`
    * exists (manifest commit); `replace=true` must atomically overwrite
    * (pointer advance). */
  def writeAtomic(tmp: String, dst: String, content: String, replace: Boolean): Unit
  /** [[writeAtomic]] over `p` via the temp `p._tmp`, replacing it. */
  def overwrite(p: String, content: String): Unit = writeAtomic(s"$p._tmp", p, content, replace = true)
  /** Atomic create-if-absent — the ONE claim CAS (icelite snapshot ids,
    * FoldSwap's swap-finish claim): true = this caller created the file and
    * wrote `content` into it, false = it already existed (the existing
    * bytes are untouched). Other IO faults propagate. */
  def createNew(p: String, content: String = ""): Boolean
  /** Rename `src` (file or directory) onto `dst`; FAILS if `dst` exists. */
  def rename(src: String, dst: String): Unit
  def deleteIfExists(p: String): Unit
  /** Child NAMES (not paths) of `dir`; empty when `dir` is absent. */
  def list(dir: String): Seq[String]
  def lastModifiedMs(p: String): Long
  def deleteRecursive(dir: String): Unit
}

private[graft] object MetaIO {
  import org.apache.hadoop.conf.Configuration
  import org.apache.spark.sql.SparkSession

  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://.*".r

  // records write doubles with `Double.toString` (NaN/Infinity bare, hence the
  // feature); float tokens parse with `Double.parseDouble`: bit-exact round trip
  private[icelite] val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** The Hadoop conf metadata paths resolve through: the thread's active
    * session, else the process default session (a bare Configuration —
    * core-site defaults — outside Spark). A caller driving a session that is
    * neither must make it active for its fs.* settings to apply here. */
  private[icelite] def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** NIO (keeps O_EXCL claims) only for a scheme-less root whose default
    * filesystem is local; a URI root, or a scheme-less one under a
    * non-local fs.defaultFS — where Spark's parquet IO puts its data —
    * goes to Hadoop. */
  def forRoot(root: String): MetaIO = {
    val conf = sessionHadoopConf()
    if (!SchemeRe.matches(root) &&
      org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme == "file") NioMetaIO
    else new HadoopMetaIO(conf)
  }
}

/** java.nio implementation for plain local paths. */
private[graft] object NioMetaIO extends MetaIO {
  private def path(p: String) = Paths.get(p)

  /** A file Hadoop's checksummed local filesystem wrote (the same path
    * opened as a `file://` URI) carries a `.<name>.crc` sidecar. Replacing
    * or deleting only the data file would leave that checksum stale, and
    * the next checksummed open would throw — so both drop it. */
  private def dropCrc(p: String): Unit = {
    val f = path(p)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc")); ()
  }

  override def exists(p: String): Boolean = Files.exists(path(p))
  override def mkdirs(p: String): Unit = { Files.createDirectories(path(p)); () }
  override def readString(p: String): String =
    new String(Files.readAllBytes(path(p)), "UTF-8")

  override def writeAtomic(tmp: String, dst: String, content: String,
                           replace: Boolean): Unit = {
    Option(path(tmp).getParent).foreach(Files.createDirectories(_))
    Files.write(path(tmp), content.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    if (replace) {
      dropCrc(dst)
      Files.move(path(tmp), path(dst),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
    } else {
      // the contract says replace=false must FAIL if dst exists, but
      // ATOMIC_MOVE alone maps to rename(2) on POSIX, which silently
      // REPLACES an existing target. A hard link is the real atomic
      // create-if-absent commit (throws FileAlreadyExistsException);
      // fall back to check+move only where the FS has no links.
      // r7 (ADVICE): filesystems that reject hard links don't all raise
      // UnsupportedOperationException — FUSE/network/SELinux-restricted
      // mounts surface plain IOException/FileSystemException. Treat ANY
      // link failure EXCEPT FileAlreadyExistsException (the contract's
      // loud already-exists signal, which must propagate) as "no link
      // support here" and take the check+move fallback.
      try { Files.createLink(path(dst), path(tmp)); () }
      catch {
        case e: java.nio.file.FileAlreadyExistsException => throw e
        case _: UnsupportedOperationException | _: java.io.IOException =>
          if (Files.exists(path(dst)))
            throw new java.nio.file.FileAlreadyExistsException(dst)
          Files.move(path(tmp), path(dst),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE); ()
      }
      Files.deleteIfExists(path(tmp)); ()
    }
  }

  override def createNew(p: String, content: String): Boolean =
    try {
      Files.write(path(p), content.getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE); true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  // no REPLACE_EXISTING: an existing target throws FileAlreadyExistsException
  override def rename(src: String, dst: String): Unit = {
    Files.move(path(src), path(dst)); ()
  }

  override def deleteIfExists(p: String): Unit = { Files.deleteIfExists(path(p)); dropCrc(p) }

  override def list(dir: String): Seq[String] = {
    val d = path(dir)
    if (!Files.exists(d)) return Nil
    val stream = Files.list(d) // holds a directory fd until closed
    try stream.iterator().asScala.map(_.getFileName.toString).toList
    finally stream.close()
  }

  override def lastModifiedMs(p: String): Long =
    Files.getLastModifiedTime(path(p)).toMillis

  override def deleteRecursive(dir: String): Unit = {
    val walk =
      try Files.walk(path(dir))
      catch { case _: java.nio.file.NoSuchFileException => return } // absent
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally walk.close()
  }
}

/** Hadoop FileSystem implementation for URI roots (file://, hdfs://, …)
  * and for scheme-less roots under a non-local fs.defaultFS. */
private[graft] final class HadoopMetaIO(@transient private val resolved: org.apache.hadoop.conf.Configuration)
    extends MetaIO {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

  // Configuration/FileSystem/FileContext are not Serializable: a
  // deserialized copy re-resolves the conf from its own JVM's session
  // (metadata ops are driver-side, so that fallback only matters in
  // non-Spark tooling).
  @transient private lazy val conf =
    Option(resolved).getOrElse(MetaIO.sessionHadoopConf())

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)
  /** `p` qualified against its filesystem: FileContext resolves a
    * scheme-less path against fs.defaultFS exactly as FileSystem (and
    * Spark's parquet IO) does. */
  private def qualified(p: String): Path = { val hp = new Path(p); fs(hp).makeQualified(hp) }
  private def fc(p: Path): FileContext = FileContext.getFileContext(p.toUri, conf)

  override def exists(p: String): Boolean = { val hp = new Path(p); fs(hp).exists(hp) }
  override def mkdirs(p: String): Unit = { val hp = new Path(p); fs(hp).mkdirs(hp); () }

  override def readString(p: String): String = {
    val hp = new Path(p)
    val in = fs(hp).open(hp)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  override def writeAtomic(tmp: String, dst: String, content: String,
                           replace: Boolean): Unit = {
    val tp = qualified(tmp)
    val out = fs(tp).create(tp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val flag = if (replace) Options.Rename.OVERWRITE else Options.Rename.NONE
    fc(tp).rename(tp, qualified(dst), flag) // atomic on HDFS; NONE throws if dst exists
  }

  override def createNew(p: String, content: String): Boolean = {
    val hp = new Path(p)
    val out =
      try fs(hp).create(hp, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        // RawLocalFileSystem signals exists-collision as a plain IOException
        case _: java.io.IOException if fs(hp).exists(hp) => return false
      }
    try out.write(content.getBytes("UTF-8")) finally out.close()
    true
  }

  override def rename(src: String, dst: String): Unit = {
    val sp = qualified(src)
    fc(sp).rename(sp, qualified(dst), Options.Rename.NONE) // throws if dst exists
  }

  override def deleteIfExists(p: String): Unit = {
    val hp = new Path(p); fs(hp).delete(hp, false); ()
  }

  override def list(dir: String): Seq[String] = {
    val hp = new Path(dir)
    val f = fs(hp)
    if (!f.exists(hp)) Nil
    else f.listStatus(hp).toSeq.map(_.getPath.getName)
  }

  override def lastModifiedMs(p: String): Long = {
    val hp = new Path(p); fs(hp).getFileStatus(hp).getModificationTime
  }

  override def deleteRecursive(dir: String): Unit = {
    val hp = new Path(dir); fs(hp).delete(hp, true); ()
  }
}
