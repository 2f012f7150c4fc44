package graft.files

import java.io.{FileNotFoundException, InputStream}
import java.net.URI
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, FileUtil, Path => HPath}

/** Stat of a remote entry (reference onetl/impl/remote_path_stat.py). */
final case class PathStat(size: Long, mtime: Instant)

/** One entry of a remote listing (reference onetl/impl/remote_file.py). */
final case class RemoteEntry(path: String, stat: PathStat, isDir: Boolean) {
  def name: String = path.substring(path.lastIndexOf('/') + 1)
}

/** File-protocol client SPI.
  *
  * Mirrors the reference's FileConnection SPI
  * (onetl/connection/file_connection/file_connection.py:769-810:
  * `_download_file/_upload_file/_scan_entries/...`). The reference ships 7
  * protocol clients (FTP/FTPS/SFTP/S3/HDFS/WebDAV/Samba) over Python
  * libs. Coverage here:
  *  - local / hdfs:// / s3a://: [[HadoopFsConnection]] (one impl, three
  *    schemes — live-tested for local).
  *  - ftp://: [[FtpFileConnection]] over Hadoop's FTPFileSystem —
  *    live-gated against [[MiniFtpServer]].
  *  - WebDAV: [[WebDavFileConnection]], pure-JDK RFC 4918 client —
  *    live-gated against [[MiniWebDavServer]] (WebDAV is plain HTTP, so
  *    no driver library is needed at all).
  *  - SFTP: [[SftpFileConnection]], a real SSH_FXP v3 packet client over
  *    the [[SftpTransport]] seam — the encrypted SSH carrier is the only
  *    stubbed layer (no SSH library ships in this container); live-gated
  *    at the packet level against [[MiniSftpServer]].
  *  - FTPS: [[FtpsFileConnection]], a native RFC 959/4217 client (AUTH
  *    TLS control upgrade + TLS-wrapped PASV data channels, MLSD/MLST
  *    listings) — live-gated against [[MiniFtpServer]] with TLS enabled
  *    and certificate verification on both channels.
  *  - Samba: [[SmbFileConnection]] over the [[SmbShare]] seam — the SPI
  *    logic, SMB path discipline (UNC parsing, backslash wire paths,
  *    reserved characters) and transfer-engine integration are
  *    machine-checked against the [[DirSmbShare]] contract double; the
  *    SMB2 wire binding itself is the seam's production implementation
  *    (smbj/jcifs-ng, absent in this container — SMB2/3 crypto+credit
  *    machinery is not reimplementable responsibly, unlike SFTP/FTPS
  *    above). An OS-mounted CIFS share through [[LocalFileConnection]]
  *    remains the zero-dependency production route.
  */
trait FileConnection {
  def check(): this.type
  def exists(path: String): Boolean
  def isDir(path: String): Boolean
  def stat(path: String): PathStat
  def listDir(path: String): Seq[RemoteEntry]
  def mkdirs(path: String): Unit
  def removeFile(path: String): Unit
  def removeDir(path: String, recursive: Boolean = false): Unit
  /** Rename `source` to `target`, replacing an existing `target` file:
    * the transfer engine renames each copied temp file over its target,
    * and the mover renames each source onto its target. */
  def renameFile(source: String, target: String): Unit
  def downloadFile(remote: String, local: Path): Unit
  def uploadFile(local: Path, remote: String): Unit
  def open(path: String): InputStream

  /** Recursive walk applying filters (to files) and limits (short-circuit
    * during traversal, not post-hoc) — reference
    * file_connection.py:438-533. Returns matched files and whether a limit
    * stopped the walk early. */
  def walk(root: String,
           filters: Seq[FileFilter] = Nil,
           limits: Seq[FileLimit] = Nil): (Seq[RemoteEntry], Boolean) = {
    limits.foreach(_.reset())
    val out = Seq.newBuilder[RemoteEntry]
    var stopped = false

    def visit(dir: String): Unit = {
      if (stopped) return
      val entries = listDir(dir)
      entries.iterator.takeWhile(_ => !stopped).foreach { e =>
        if (e.isDir) {
          if (!filters.exists(_.prunesDir(e.path))) visit(e.path)
        } else if (FileFilter.matchesAll(filters, e)) {
          if (limits.exists(_.stopsAt(e))) stopped = true
          else out += e
        }
      }
    }

    visit(root)
    (out.result(), stopped)
  }
}

/** Base of the remote protocol clients: the directory-tree algorithms,
  * `mkdirs` (a parent walk) and recursive `removeDir`, on top of each
  * protocol's one-level [[mkdir]] and [[rmdir]]. */
abstract class RemoteFileConnection extends FileConnection {
  /** Create the directory `path`; its parent exists. */
  protected def mkdir(path: String): Unit
  /** Remove the empty directory `path`. */
  protected def rmdir(path: String): Unit

  /** Creates `path` and its missing parents, walking up only while a
    * directory is missing: an existing `path` costs one STAT. */
  def mkdirs(path: String): Unit = {
    val dir = "/" + path.split('/').filter(_.nonEmpty).mkString("/")
    if (dir != "/" && !exists(dir)) {
      mkdirs(dir.substring(0, dir.lastIndexOf('/')))
      mkdir(dir)
    }
  }

  def removeDir(path: String, recursive: Boolean): Unit = {
    if (recursive)
      listDir(path).foreach { e =>
        if (e.isDir) removeDir(e.path, recursive = true) else removeFile(e.path)
      }
    rmdir(path)
  }
}

/** `java.nio`-backed local client (reference's LocalFS side of transfers). */
final class LocalFileConnection extends FileConnection {
  private def p(s: String): Path = Paths.get(s)
  def check(): this.type = this
  def exists(path: String): Boolean = Files.exists(p(path))
  def isDir(path: String): Boolean = Files.isDirectory(p(path))
  def stat(path: String): PathStat =
    PathStat(Files.size(p(path)), Files.getLastModifiedTime(p(path)).toInstant)
  def listDir(path: String): Seq[RemoteEntry] = {
    val s = Files.list(p(path))
    try s.iterator().asScala.map { f =>
      val dir = Files.isDirectory(f)
      RemoteEntry(f.toString,
        if (dir) PathStat(0L, Instant.EPOCH) else stat(f.toString), dir)
    }.toSeq.sortBy(_.path)
    finally s.close()
  }
  def mkdirs(path: String): Unit = Files.createDirectories(p(path))
  def removeFile(path: String): Unit = Files.delete(p(path))
  def removeDir(path: String, recursive: Boolean): Unit =
    if (!recursive) Files.delete(p(path))
    else {
      val s = Files.walk(p(path))
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  /** An atomic replace: a reader sees the old target or the new one,
    * never neither. */
  def renameFile(source: String, target: String): Unit =
    Files.move(p(source), p(target), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  def downloadFile(remote: String, local: Path): Unit =
    Files.copy(p(remote), local, StandardCopyOption.REPLACE_EXISTING)
  def uploadFile(local: Path, remote: String): Unit =
    Files.copy(local, p(remote), StandardCopyOption.REPLACE_EXISTING)
  def open(path: String): InputStream = Files.newInputStream(p(path))

  private implicit class IterScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}

/** FTP protocol client (reference onetl/connection/file_connection/ftp.py:47)
  * over Hadoop's `ftp://` FileSystem, which rides the commons-net FTPClient
  * shipped inside hadoop-client-runtime — no extra driver package, the same
  * way the reference leans on its bundled ftputil.
  *
  * Configured for passive-mode stream transfers: passive because the
  * client side (Spark driver/executors) usually sits behind NAT where
  * active-mode callbacks can't reach it, stream mode because Hadoop's
  * default block mode needs a MODE B server, which plain FTP daemons
  * rarely enable. Hadoop opens one FTP session per filesystem call —
  * correct and robust (no stale-connection state); a long `walk` over a
  * huge remote tree would want a pooled client, which the SPI allows
  * swapping in without touching the transfer engine.
  *
  * Live-gated end-to-end against [[MiniFtpServer]] (`ftp_download_roundtrip`).
  */
final class FtpFileConnection(host: String, port: Int = 21,
                              user: String = "anonymous",
                              password: String = "")
  extends HadoopFsConnection(s"ftp://$host:$port/",
    FtpFileConnection.conf(host, port, user, password)) {

  /** A real round trip (root listing), not FileSystem.getStatus — whose
    * default implementation answers from the client without touching the
    * server at all. */
  override def check(): this.type = {
    require(isDir("/"), s"ftp://$host:$port/ root not listable")
    this
  }

  /** Hadoop's FTP file system renames only within one directory, so a
    * move to another directory is a stream copy and a delete. */
  override def renameFile(source: String, target: String): Unit =
    if (hp(source).getParent == hp(target).getParent) super.renameFile(source, target)
    else if (!FileUtil.copy(fs, hp(source), fs, hp(target), true, true, conf))
      throw new java.io.IOException(s"move $source -> $target: source not deleted")
}

object FtpFileConnection {
  private def conf(host: String, port: Int, user: String,
                   password: String): Configuration = {
    val conf = new Configuration()
    conf.set("fs.ftp.host", host)
    conf.setInt("fs.ftp.host.port", port)
    conf.set(s"fs.ftp.user.$host", user)
    conf.set(s"fs.ftp.password.$host", password)
    conf.set("fs.ftp.data.connection.mode", "PASSIVE_LOCAL_DATA_CONNECTION_MODE")
    conf.set("fs.ftp.transfer.mode", "STREAM_TRANSFER_MODE")
    // one FileSystem per (host, port, credentials) — the JVM-wide cache
    // would hand every FtpFileConnection for a host the first credentials
    conf.setBoolean("fs.ftp.impl.disable.cache", true)
    conf
  }
}

/** Hadoop-FileSystem-backed client: one implementation for `file://`,
  * `hdfs://`, `s3a://` (SURVEY §2.3 — Hadoop FS covers HDFS+S3+local in one
  * SPI, replacing the reference's per-protocol Python clients). */
class HadoopFsConnection(baseUri: String,
                         protected val conf: Configuration = new Configuration())
  extends FileConnection {
  protected val fs: FileSystem = FileSystem.get(URI.create(baseUri), conf)
  protected def hp(s: String) = new HPath(s)

  def check(): this.type = { fs.getStatus; this }
  def exists(path: String): Boolean = fs.exists(hp(path))
  def isDir(path: String): Boolean = fs.getFileStatus(hp(path)).isDirectory
  def stat(path: String): PathStat = {
    val st = fs.getFileStatus(hp(path))
    PathStat(st.getLen, Instant.ofEpochMilli(st.getModificationTime))
  }
  def listDir(path: String): Seq[RemoteEntry] =
    fs.listStatus(hp(path)).toSeq.sortBy(_.getPath.toString).map { st =>
      RemoteEntry(st.getPath.toUri.getPath,
        PathStat(st.getLen, Instant.ofEpochMilli(st.getModificationTime)),
        st.isDirectory)
    }
  def mkdirs(path: String): Unit = fs.mkdirs(hp(path))
  def removeFile(path: String): Unit = fs.delete(hp(path), false)
  def removeDir(path: String, recursive: Boolean): Unit = fs.delete(hp(path), recursive)
  /** Hadoop's `rename` refuses an existing target: it returns false, or
    * throws `FileAlreadyExistsException` (FTP). Then an existing target
    * file is deleted and the rename retried. */
  def renameFile(source: String, target: String): Unit = {
    val (src, dst) = (hp(source), hp(target))
    def isFile(p: HPath) =
      try fs.getFileStatus(p).isFile catch { case _: FileNotFoundException => false }
    val renamed =
      try fs.rename(src, dst) catch { case _: FileAlreadyExistsException => false }
    if (!renamed && !(fs.exists(src) && isFile(dst) && fs.delete(dst, false) &&
        fs.rename(src, dst)))
      throw new java.io.IOException(s"rename $source -> $target failed")
  }
  def downloadFile(remote: String, local: Path): Unit =
    fs.copyToLocalFile(hp(remote), new HPath(local.toString))
  def uploadFile(local: Path, remote: String): Unit =
    fs.copyFromLocalFile(new HPath(local.toString), hp(remote))
  def open(path: String): InputStream = fs.open(hp(path))
}
