package graft.files

import java.io.{IOException, InputStream}
import java.nio.file.{Files, NoSuchFileException, Path => JPath}
import java.time.Instant

import SftpProtocol._

/** SFTP protocol client (reference onetl/connection/file_connection/
  * sftp.py:50). Speaks SFTP version 3 (SSH_FXP packets) over a pluggable
  * [[SftpTransport]]: the file-transfer protocol — handshake, handles,
  * chunked READ/WRITE, READDIR paging, STATUS discipline — is implemented
  * here against the real wire format; the SSH encryption layer that
  * carries it is the transport's concern (paramiko in the reference,
  * JSch/MINA on a JVM deployment, loopback TCP in this container's
  * tests).
  *
  * One outstanding request at a time: `call` is `synchronized`, and every
  * call goes through ONE lazily opened transport (`newTransport` runs once
  * per connection). Transfers of one file are sequential chunked
  * reads/writes (32 KiB frames, the interoperable SFTP chunk ceiling), and
  * transfer-engine workers sharing this connection take turns on the
  * channel; open one connection per worker to transfer files in parallel.
  * Each request leaves in one write (see [[SftpProtocol.writePacket]]).
  *
  * Strict SFTP v3 servers, OpenSSH's sftp-server among them, refuse a
  * RENAME over an existing file (draft-ietf-secsh-filexfer-02 §6.5);
  * `renameFile` then removes the target file and renames again, so it
  * replaces as the [[FileConnection]] contract asks, though not
  * atomically there. [[MiniSftpServer]] replaces in one RENAME.
  */
final class SftpFileConnection(newTransport: () => SftpTransport) extends RemoteFileConnection {
  private val ChunkSize = 32 * 1024

  private lazy val transport: SftpTransport = {
    val t = newTransport()
    // §4 version handshake: INIT(client version) -> VERSION(server version)
    writePacket(t.output, FXP_INIT, new PacketBuilder().u32(ProtocolVersion))
    val (tpe, payload) = readPacket(t.input)
    if (tpe != FXP_VERSION)
      throw new IOException(s"SFTP handshake: expected VERSION, got packet $tpe")
    val v = new PacketReader(payload).u32()
    if (v > ProtocolVersion)
      throw new IOException(s"server negotiated unsupported SFTP version $v")
    t
  }

  private var nextId = 0L
  private def freshId(): Long = { nextId += 1; nextId }

  /** Send a request and read its reply; replies carry the request id
    * first in every response type, which we verify. */
  private def call(tpe: Int, body: PacketBuilder => Unit): (Int, PacketReader) =
    synchronized {
      val id = freshId()
      val b = new PacketBuilder().u32(id)
      body(b)
      writePacket(transport.output, tpe, b)
      val (rtpe, payload) = readPacket(transport.input)
      val r = new PacketReader(payload)
      val gotId = r.u32()
      if (gotId != id)
        throw new IOException(s"SFTP reply id $gotId for request $id")
      (rtpe, r)
    }

  private def statusCode(r: PacketReader): (Int, String) = {
    val code = r.u32().toInt
    val msg = if (r.remaining >= 4) r.string() else ""
    (code, msg)
  }

  private def expectOk(tpe: Int, r: PacketReader, what: String): Unit = {
    if (tpe != FXP_STATUS) throw new IOException(s"$what: unexpected packet $tpe")
    val (code, msg) = statusCode(r)
    if (code != FX_OK) throw new IOException(s"$what: SFTP status $code $msg")
  }

  private def statAttrs(path: String): Option[Attrs] = {
    val (tpe, r) = call(FXP_STAT, _.string(path))
    tpe match {
      case FXP_ATTRS => Some(r.attrs())
      case FXP_STATUS =>
        val (code, msg) = statusCode(r)
        if (code == FX_NO_SUCH_FILE) None
        else throw new IOException(s"STAT $path: SFTP status $code $msg")
      case other => throw new IOException(s"STAT $path: unexpected packet $other")
    }
  }

  // ---- FileConnection SPI -------------------------------------------------

  /** REALPATH of "." — a full request/reply round trip through the
    * negotiated channel (the reference's check() opens a session the same
    * way). */
  def check(): this.type = {
    val (tpe, _) = call(FXP_REALPATH, _.string("."))
    if (tpe != FXP_NAME) throw new IOException(s"REALPATH: unexpected packet $tpe")
    this
  }

  def exists(path: String): Boolean = statAttrs(path).isDefined
  def isDir(path: String): Boolean = statAttrs(path).exists(_.isDir)
  def stat(path: String): PathStat = {
    val a = statAttrs(path).getOrElse(throw new IOException(s"not found: $path"))
    PathStat(a.size.getOrElse(0L),
      Instant.ofEpochSecond(a.mtimeSec.getOrElse(0L)))
  }

  def listDir(path: String): Seq[RemoteEntry] = {
    val (htpe, hr) = call(FXP_OPENDIR, _.string(path))
    if (htpe != FXP_HANDLE) {
      val detail = if (htpe == FXP_STATUS) statusCode(hr).toString() else s"packet $htpe"
      throw new IOException(s"OPENDIR $path: $detail")
    }
    val handle = hr.bytes()
    val out = Seq.newBuilder[RemoteEntry]
    withCleanup(() => closeHandle(handle, s"dir $path")) {
      var eof = false
      while (!eof) {
        val (tpe, r) = call(FXP_READDIR, _.bytes(handle))
        tpe match {
          case FXP_NAME =>
            val n = r.u32().toInt
            (0 until n).foreach { _ =>
              val name = r.string()
              r.string() // longname (display form) — unused
              val a = r.attrs()
              if (name != "." && name != "..") {
                val full = if (path.endsWith("/")) path + name else s"$path/$name"
                out += RemoteEntry(full,
                  PathStat(a.size.getOrElse(0L),
                    Instant.ofEpochSecond(a.mtimeSec.getOrElse(0L))),
                  a.isDir)
              }
            }
          case FXP_STATUS =>
            val (code, msg) = statusCode(r)
            if (code == FX_EOF) eof = true
            else throw new IOException(s"READDIR $path: SFTP status $code $msg")
          case other => throw new IOException(s"READDIR $path: unexpected packet $other")
        }
      }
    }
    out.result().sortBy(_.path)
  }

  protected def mkdir(path: String): Unit = {
    val (tpe, r) = call(FXP_MKDIR, _.string(path).attrs(Attrs()))
    expectOk(tpe, r, s"MKDIR $path")
  }

  /** An absent file is a `NoSuchFileException`. */
  def removeFile(path: String): Unit = {
    val (tpe, r) = call(FXP_REMOVE, _.string(path))
    if (tpe == FXP_STATUS) statusCode(r) match {
      case (FX_OK, _) =>
      case (FX_NO_SUCH_FILE, msg) => throw new NoSuchFileException(path, null, msg)
      case (code, msg) => throw new IOException(s"REMOVE $path: SFTP status $code $msg")
    } else throw new IOException(s"REMOVE $path: unexpected packet $tpe")
  }

  protected def rmdir(path: String): Unit = {
    val (tpe, r) = call(FXP_RMDIR, _.string(path))
    expectOk(tpe, r, s"RMDIR $path")
  }

  /** A refused RENAME of an existing source over an existing target file
    * removes the target and renames again (see the class doc). */
  def renameFile(source: String, target: String): Unit = {
    def rename() = call(FXP_RENAME, _.string(source).string(target))
    val what = s"RENAME $source -> $target"
    val (tpe, r) = rename()
    if (tpe != FXP_STATUS) throw new IOException(s"$what: unexpected packet $tpe")
    statusCode(r) match {
      case (FX_OK, _) =>
      case _ if statAttrs(target).exists(!_.isDir) && statAttrs(source).isDefined =>
        removeFile(target)
        val (tpe2, r2) = rename()
        expectOk(tpe2, r2, what)
      case (code, msg) => throw new IOException(s"$what: SFTP status $code $msg")
    }
  }

  /** An absent file is a `NoSuchFileException`, so a caller can tell it
    * from a failed transfer without a STAT first. */
  private def openHandle(path: String, pflags: Int): Array[Byte] = {
    val (tpe, r) = call(FXP_OPEN, _.string(path).u32(pflags).attrs(Attrs()))
    tpe match {
      case FXP_HANDLE => r.bytes()
      case FXP_STATUS =>
        val (code, msg) = statusCode(r)
        if (code == FX_NO_SUCH_FILE) throw new NoSuchFileException(path, null, msg)
        throw new IOException(s"OPEN $path: SFTP status $code $msg")
      case other => throw new IOException(s"OPEN $path: unexpected packet $other")
    }
  }

  private def closeHandle(handle: Array[Byte], what: String): Unit = {
    val (tpe, r) = call(FXP_CLOSE, _.bytes(handle))
    expectOk(tpe, r, s"CLOSE $what")
  }

  /** try/finally with honest failure attribution: every cleanup runs, but
    * a cleanup failure never REPLACES the body's exception — when the body
    * already threw (e.g. READ died because the channel dropped, which
    * also dooms the finally-side CLOSE), cleanup exceptions attach as
    * suppressed, preserving the root cause. Cleanup failures only
    * propagate when the body itself succeeded. */
  private def withCleanup[A](cleanups: (() => Unit)*)(body: => A): A = {
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally {
      var cleanupFailure: Throwable = null
      cleanups.foreach { c =>
        try c()
        catch {
          case t: Throwable =>
            if (primary != null) primary.addSuppressed(t)
            else if (cleanupFailure == null) cleanupFailure = t
            else cleanupFailure.addSuppressed(t)
        }
      }
      if (primary == null && cleanupFailure != null) throw cleanupFailure
    }
  }

  /** Chunked READ loop: offset-addressed, so a retried chunk is
    * idempotent (the property real SFTP clients rely on for resume). */
  private def readFully(handle: Array[Byte], sink: (Array[Byte], Int) => Unit): Unit = {
    var offset = 0L
    var eof = false
    while (!eof) {
      val (tpe, r) = call(FXP_READ, _.bytes(handle).u64(offset).u32(ChunkSize))
      tpe match {
        case FXP_DATA =>
          val chunk = r.bytes()
          sink(chunk, chunk.length)
          offset += chunk.length
        case FXP_STATUS =>
          val (code, msg) = statusCode(r)
          if (code == FX_EOF) eof = true
          else throw new IOException(s"READ: SFTP status $code $msg")
        case other => throw new IOException(s"READ: unexpected packet $other")
      }
    }
  }

  def downloadFile(remote: String, local: JPath): Unit = {
    val handle = openHandle(remote, FXF_READ)
    val out = Files.newOutputStream(local)
    withCleanup(() => out.close(), () => closeHandle(handle, remote)) {
      readFully(handle, (b, n) => out.write(b, 0, n))
    }
  }

  def uploadFile(local: JPath, remote: String): Unit = {
    val handle = openHandle(remote, FXF_WRITE | FXF_CREAT | FXF_TRUNC)
    val in = Files.newInputStream(local)
    withCleanup(() => in.close(), () => closeHandle(handle, remote)) {
      val buf = new Array[Byte](ChunkSize)
      var offset = 0L
      var n = in.read(buf)
      while (n > 0) {
        val (written, len) = (offset, n) // capture: the builder lambda runs per-call
        val (tpe, r) = call(FXP_WRITE,
          b => { b.bytes(handle).u64(written).u32(len).raw(buf, 0, len); () })
        expectOk(tpe, r, s"WRITE $remote")
        offset += n
        n = in.read(buf)
      }
    }
  }

  def open(path: String): InputStream = {
    // materialize via the chunked READ loop; callers use open() for small
    // control files (HWM lists), bulk data goes through downloadFile
    val buf = new java.io.ByteArrayOutputStream()
    val handle = openHandle(path, FXF_READ)
    withCleanup(() => closeHandle(handle, path)) {
      readFully(handle, (b, n) => buf.write(b, 0, n))
    }
    new java.io.ByteArrayInputStream(buf.toByteArray)
  }
}
