package graft.files

import java.io.{IOException, InputStream, OutputStream}
import java.nio.file.{Files, Path => JPath}
import java.time.Instant

/** SMB (Samba) protocol client (reference onetl/connection/
  * file_connection/samba.py:47).
  *
  * The reference rides the `smbprotocol` Python library; the JVM
  * equivalents (smbj, jcifs-ng) do not ship in this container and SMB2/3
  * — negotiate, NTLM/Kerberos session setup, signing/encryption, credit
  * accounting — is not a protocol to reimplement responsibly the way the
  * in-repo SFTP/FTPS clients reimplement theirs. So the same seam
  * pattern as [[SftpTransport]] applies one level up: everything
  * onETL-shaped (the FileConnection SPI, SMB path discipline, walk /
  * filter / transfer-engine integration) is implemented and tested here
  * against [[SmbShare]], the narrow surface an SMB library actually
  * provides; production drops in an smbj-backed share, tests run the
  * in-JVM [[DirSmbShare]] contract double, which enforces the SMB wire
  * conventions (backslash-separated share-relative paths, reserved-
  * character rejection) so a client that violates them fails the spec.
  */
trait SmbShare extends AutoCloseable {
  /** Wire paths: share-relative, backslash-separated, "" = share root. */
  def stat(path: String): Option[SmbEntry]
  def list(path: String): Seq[SmbEntry]
  def mkdir(path: String): Unit
  /** Delete a file (SMB delete-on-close). */
  def delete(path: String): Unit
  /** Delete a directory; non-empty fails (STATUS_DIRECTORY_NOT_EMPTY). */
  def rmdir(path: String): Unit
  /** FileRenameInformation with ReplaceIfExists = `replace`; with false,
    * an existing target fails (STATUS_OBJECT_NAME_COLLISION). */
  def rename(source: String, target: String, replace: Boolean): Unit
  def read(path: String): InputStream
  def write(path: String): OutputStream
}

/** One listing/stat row at the seam: leaf name + attributes, matching
  * what SMB2 QUERY_DIRECTORY (FileIdBothDirectoryInformation) returns. */
final case class SmbEntry(name: String, isDir: Boolean, size: Long,
                          mtime: Instant)

object SmbFileConnection {
  /** Characters invalid in SMB path components (MS-FSCC 2.1.5). */
  private[files] val Reserved = "\"*:<>?|".toSet

  /** Parse a UNC location `\\server\share[\path]` (samba.py's
    * host + share_name split). */
  def parseUnc(unc: String): (String, String, String) = {
    require(unc.startsWith("\\\\"), s"not a UNC path: $unc")
    val parts = unc.drop(2).split('\\')
    require(parts.length >= 2 && parts(0).nonEmpty && parts(1).nonEmpty,
      s"UNC path needs \\\\server\\share: $unc")
    (parts(0), parts(1), parts.drop(2).mkString("\\"))
  }

  /** SPI absolute forward-slash path → SMB wire path (share-relative,
    * backslash-separated). Rejects reserved characters and traversal —
    * the checks an SMB server enforces with STATUS_OBJECT_NAME_INVALID. */
  def toWirePath(spiPath: String): String = {
    val segs = spiPath.split('/').filter(_.nonEmpty)
    segs.foreach { s =>
      require(!s.exists(Reserved), s"SMB-reserved character in '$s'")
      require(s != "." && s != "..", s"path traversal segment in $spiPath")
    }
    segs.mkString("\\")
  }
}

final class SmbFileConnection(newShare: () => SmbShare) extends RemoteFileConnection {
  import SmbFileConnection._

  private lazy val share: SmbShare = newShare()

  def check(): this.type = { share.list(""); this }

  def exists(path: String): Boolean = share.stat(toWirePath(path)).isDefined
  def isDir(path: String): Boolean =
    share.stat(toWirePath(path)).exists(_.isDir)
  def stat(path: String): PathStat = {
    val e = share.stat(toWirePath(path))
      .getOrElse(throw new IOException(s"not found: $path"))
    PathStat(e.size, e.mtime)
  }

  def listDir(path: String): Seq[RemoteEntry] = {
    val base = if (path.endsWith("/")) path.dropRight(1) else path
    share.list(toWirePath(path)).map { e =>
      RemoteEntry(s"$base/${e.name}", PathStat(e.size, e.mtime), e.isDir)
    }.sortBy(_.path)
  }

  protected def mkdir(path: String): Unit = share.mkdir(toWirePath(path))
  protected def rmdir(path: String): Unit = share.rmdir(toWirePath(path))
  def removeFile(path: String): Unit = share.delete(toWirePath(path))

  def renameFile(source: String, target: String): Unit =
    share.rename(toWirePath(source), toWirePath(target), replace = true)

  def downloadFile(remote: String, local: JPath): Unit = {
    val in = share.read(toWirePath(remote))
    try {
      val out = Files.newOutputStream(local)
      try in.transferTo(out) finally out.close()
    } finally in.close()
  }

  def uploadFile(local: JPath, remote: String): Unit = {
    val out = share.write(toWirePath(remote))
    try {
      val in = Files.newInputStream(local)
      try in.transferTo(out) finally in.close()
    } finally out.close()
  }

  def open(path: String): InputStream = share.read(toWirePath(path))
}

/** In-JVM contract double: an [[SmbShare]] over a local directory that
  * ENFORCES the seam's wire conventions — share-relative backslash paths
  * only (a forward slash or absolute path is a client bug and throws),
  * reserved characters rejected, non-empty rmdir and colliding
  * no-replace rename fail like their STATUS_* counterparts. The spec
  * runs [[SmbFileConnection]] end-to-end (walk, filters, transfer
  * engine) against this double, so everything above the seam is
  * machine-checked; only the smbj/jcifs wire binding itself remains
  * untested here, exactly like the SSH crypto layer under
  * [[SftpTransport]]. */
final class DirSmbShare(root: JPath) extends SmbShare {
  private def resolve(wire: String): JPath = {
    require(!wire.contains('/'),
      s"seam violation: SMB wire paths are backslash-separated, got '$wire'")
    require(!wire.startsWith("\\"),
      s"seam violation: SMB wire paths are share-relative, got '$wire'")
    // server-side STATUS_OBJECT_NAME_INVALID semantics: reserved characters
    // and dot segments fail HERE, so a client bypassing toWirePath cannot
    // smuggle them (and '..' cannot escape the share root)
    wire.split('\\').filter(_.nonEmpty).foldLeft(root) { (p, seg) =>
      if (seg.exists(SmbFileConnection.Reserved) || seg == "." || seg == "..")
        throw new IOException(s"STATUS_OBJECT_NAME_INVALID: $wire")
      p.resolve(seg)
    }
  }

  private def entry(p: JPath): SmbEntry = SmbEntry(
    p.getFileName.toString, Files.isDirectory(p),
    if (Files.isDirectory(p)) 0L else Files.size(p),
    Files.getLastModifiedTime(p).toInstant)

  def stat(path: String): Option[SmbEntry] = {
    val p = resolve(path)
    if (Files.exists(p))
      Some(if (path.isEmpty) entry(p).copy(name = "") else entry(p))
    else None
  }

  def list(path: String): Seq[SmbEntry] = {
    val p = resolve(path)
    if (!Files.isDirectory(p))
      throw new IOException(s"STATUS_NOT_A_DIRECTORY: $path")
    val s = Files.list(p)
    try {
      val it = s.iterator(); val b = Seq.newBuilder[SmbEntry]
      while (it.hasNext) b += entry(it.next())
      b.result()
    } finally s.close()
  }

  def mkdir(path: String): Unit = Files.createDirectory(resolve(path))

  def delete(path: String): Unit = {
    val p = resolve(path)
    if (Files.isDirectory(p))
      throw new IOException(s"STATUS_FILE_IS_A_DIRECTORY: $path")
    Files.delete(p)
  }

  def rmdir(path: String): Unit = {
    val p = resolve(path)
    if (!Files.isDirectory(p))
      throw new IOException(s"STATUS_NOT_A_DIRECTORY: $path")
    val s = Files.list(p)
    val nonEmpty = try s.iterator().hasNext finally s.close()
    if (nonEmpty) throw new IOException(s"STATUS_DIRECTORY_NOT_EMPTY: $path")
    Files.delete(p)
  }

  def rename(source: String, target: String, replace: Boolean): Unit = {
    val dst = resolve(target)
    if (!replace && Files.exists(dst))
      throw new IOException(s"STATUS_OBJECT_NAME_COLLISION: $target")
    if (replace)
      Files.move(resolve(source), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else Files.move(resolve(source), dst)
  }

  def read(path: String): InputStream = Files.newInputStream(resolve(path))
  def write(path: String): OutputStream = Files.newOutputStream(resolve(path))
  def close(): Unit = ()
}
