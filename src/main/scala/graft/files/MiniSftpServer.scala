package graft.files

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import SftpProtocol._

/** In-JVM SFTP version-3 packet server — this container's stand-in for
  * the reference's dockerized OpenSSH fixture (onetl test setup for
  * sftp.py:50). Serves a directory tree over the REAL SSH_FXP wire
  * format on a loopback TCP socket; what a production deployment changes
  * is only the carrier (an encrypted SSH channel), not one byte of the
  * framing this server and [[SftpFileConnection]] exchange.
  *
  * Handles: INIT/VERSION, REALPATH, STAT/LSTAT, OPENDIR/READDIR/CLOSE,
  * OPEN/READ/WRITE/CLOSE (offset-addressed chunks), MKDIR, RMDIR,
  * REMOVE, RENAME. One thread per session; handles are opaque counters.
  * READDIR pages a listing at 100 names per reply, as OpenSSH's
  * sftp-server does.
  */
final class MiniSftpServer(root: Path) {
  private val ReaddirPage = 100
  private val listener = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  @volatile private var running = true

  def port: Int = listener.getLocalPort
  def host: String = listener.getInetAddress.getHostAddress

  private val acceptor = new Thread(() => {
    while (running && !listener.isClosed) {
      try {
        val s = listener.accept()
        val t = new Thread(() => serve(s), s"mini-sftp-session-${s.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running || listener.isClosed => // stop() raced accept()
        case _: Throwable => Thread.sleep(10)
      }
    }
  }, "mini-sftp-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; listener.close() }

  /** Resolve an SFTP path under root; normalization keeps traversal
    * inside the served tree. */
  private def resolve(arg: String): Path = {
    val norm = Paths.get(if (arg.startsWith("/")) arg else "/" + arg)
      .normalize().toString.stripPrefix("/")
    root.resolve(norm).normalize()
  }

  private def attrsOf(p: Path): Attrs = {
    val dir = Files.isDirectory(p)
    Attrs(
      size = Some(if (dir) 0L else Files.size(p)),
      permissions = Some(if (dir) S_IFDIR | 0x1ED else 0x8000 | 0x1A4),
      mtimeSec = Some(Files.getLastModifiedTime(p).toInstant.getEpochSecond))
  }

  private final class Session(socket: Socket) {
    // replies leave in one write; without NODELAY a reply sent as several
    // segments would still wait on Nagle for the client's delayed ACK
    socket.setTcpNoDelay(true)
    private val in = socket.getInputStream
    private val out = socket.getOutputStream
    private var nextHandle = 0
    private val fileHandles = scala.collection.mutable.Map[String, Path]()
    // dir handle -> the entries its READDIRs have not sent yet
    private val dirHandles = scala.collection.mutable.Map[String, Seq[Path]]()

    private def reply(tpe: Int, b: PacketBuilder): Unit = writePacket(out, tpe, b)

    private def status(id: Long, code: Int, msg: String): Unit =
      reply(FXP_STATUS, new PacketBuilder().u32(id).u32(code).string(msg).string("en"))

    private def freshHandle(): String = { nextHandle += 1; s"h$nextHandle" }

    def run(): Unit = {
      try {
        while (true) {
          val (tpe, payload) = readPacket(in)
          val r = new PacketReader(payload)
          tpe match {
            case FXP_INIT =>
              reply(FXP_VERSION, new PacketBuilder().u32(ProtocolVersion))
            case FXP_REALPATH =>
              val id = r.u32(); val raw = r.string()
              val canon = "/" + root.relativize(resolve(raw)).toString.stripSuffix("/")
              reply(FXP_NAME, new PacketBuilder().u32(id).u32(1)
                .string(if (canon == "/.") "/" else canon).string(canon)
                .attrs(Attrs()))
            case FXP_STAT | FXP_LSTAT =>
              val id = r.u32(); val p = resolve(r.string())
              if (Files.exists(p))
                reply(FXP_ATTRS, new PacketBuilder().u32(id).attrs(attrsOf(p)))
              else status(id, FX_NO_SUCH_FILE, "no such file")
            case FXP_OPENDIR =>
              val id = r.u32(); val p = resolve(r.string())
              if (!Files.isDirectory(p)) status(id, FX_NO_SUCH_FILE, "not a directory")
              else {
                val s = Files.list(p)
                val kids = try {
                  val it = s.iterator(); val b = Seq.newBuilder[Path]
                  while (it.hasNext) b += it.next()
                  b.result().sortBy(_.toString)
                } finally s.close()
                val h = freshHandle()
                dirHandles(h) = kids
                reply(FXP_HANDLE, new PacketBuilder().u32(id).string(h))
              }
            case FXP_READDIR =>
              val id = r.u32(); val h = new String(r.bytes())
              dirHandles.get(h) match {
                case Some(kids) if kids.nonEmpty =>
                  val (page, rest) = kids.splitAt(ReaddirPage)
                  dirHandles(h) = rest
                  val b = new PacketBuilder().u32(id).u32(page.length)
                  page.foreach { k =>
                    b.string(k.getFileName.toString)
                      .string(k.getFileName.toString) // longname
                      .attrs(attrsOf(k))
                  }
                  reply(FXP_NAME, b)
                case Some(_) => status(id, FX_EOF, "end of dir")
                case None => status(id, FX_FAILURE, "bad handle")
              }
            case FXP_OPEN =>
              val id = r.u32(); val p = resolve(r.string())
              val pflags = r.u32().toInt
              if ((pflags & FXF_WRITE) != 0) {
                if ((pflags & FXF_CREAT) == 0 && !Files.exists(p))
                  status(id, FX_NO_SUCH_FILE, "no such file")
                else {
                  if ((pflags & FXF_TRUNC) != 0 || !Files.exists(p))
                    Files.write(p, Array.emptyByteArray)
                  val h = freshHandle(); fileHandles(h) = p
                  reply(FXP_HANDLE, new PacketBuilder().u32(id).string(h))
                }
              } else if (Files.isRegularFile(p)) {
                val h = freshHandle(); fileHandles(h) = p
                reply(FXP_HANDLE, new PacketBuilder().u32(id).string(h))
              } else status(id, FX_NO_SUCH_FILE, "no such file")
            case FXP_READ =>
              val id = r.u32(); val h = new String(r.bytes())
              val offset = r.u64(); val len = r.u32().toInt
              fileHandles.get(h) match {
                case Some(p) =>
                  val ch = Files.newByteChannel(p)
                  try {
                    val size = ch.size()
                    if (offset >= size) status(id, FX_EOF, "eof")
                    else {
                      val n = math.min(len.toLong, size - offset).toInt
                      val bb = java.nio.ByteBuffer.allocate(n)
                      ch.position(offset)
                      while (bb.hasRemaining && ch.read(bb) >= 0) {}
                      reply(FXP_DATA, new PacketBuilder().u32(id).bytes(bb.array()))
                    }
                  } finally ch.close()
                case None => status(id, FX_FAILURE, "bad handle")
              }
            case FXP_WRITE =>
              val id = r.u32(); val h = new String(r.bytes())
              val offset = r.u64(); val data = r.bytes()
              fileHandles.get(h) match {
                case Some(p) =>
                  val ch = Files.newByteChannel(p,
                    java.nio.file.StandardOpenOption.WRITE)
                  try { ch.position(offset); ch.write(java.nio.ByteBuffer.wrap(data)) }
                  finally ch.close()
                  status(id, FX_OK, "ok")
                case None => status(id, FX_FAILURE, "bad handle")
              }
            case FXP_CLOSE =>
              val id = r.u32(); val h = new String(r.bytes())
              fileHandles.remove(h); dirHandles.remove(h)
              status(id, FX_OK, "ok")
            case FXP_MKDIR =>
              val id = r.u32(); val p = resolve(r.string())
              if (Files.exists(p)) status(id, FX_FAILURE, "exists")
              else { Files.createDirectory(p); status(id, FX_OK, "ok") }
            case FXP_RMDIR =>
              val id = r.u32(); val p = resolve(r.string())
              if (!Files.isDirectory(p)) status(id, FX_NO_SUCH_FILE, "not a dir")
              else if (Files.list(p).findFirst().isPresent)
                status(id, FX_FAILURE, "not empty")
              else { Files.delete(p); status(id, FX_OK, "ok") }
            case FXP_REMOVE =>
              val id = r.u32(); val p = resolve(r.string())
              if (!Files.isRegularFile(p)) status(id, FX_NO_SUCH_FILE, "no such file")
              else { Files.delete(p); status(id, FX_OK, "ok") }
            case FXP_RENAME =>
              val id = r.u32()
              val src = resolve(r.string()); val dst = resolve(r.string())
              if (!Files.exists(src)) status(id, FX_NO_SUCH_FILE, "no such file")
              else {
                Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
                // SFTP v3 RENAME must not silently change mtime observability
                Files.setLastModifiedTime(dst, FileTime.from(
                  Files.getLastModifiedTime(dst).toInstant))
                status(id, FX_OK, "ok")
              }
            case other =>
              val id = r.u32()
              status(id, FX_FAILURE, s"unsupported packet $other")
          }
        }
      } catch {
        // client closed, or sent a frame readPacket refuses
        case _: java.io.IOException =>
      } finally socket.close()
    }
  }

  private def serve(socket: Socket): Unit = new Session(socket).run()
}
