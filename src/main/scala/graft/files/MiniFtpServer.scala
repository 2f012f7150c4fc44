package graft.files

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.ZoneId
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Minimal RFC-959 FTP server serving one local directory — the in-JVM
  * stand-in for the dockerized FTP service the reference tests against
  * (reference tests/fixtures + onetl/connection/file_connection/ftp.py:47).
  * This container ships no FTP server or client daemon, so live-gating
  * [[FtpFileConnection]] needs a loopback server speaking enough of the
  * protocol for commons-net's FTPClient (which backs Hadoop's
  * FTPFileSystem): USER/PASS login, SYST/TYPE/MODE negotiation, passive
  * (PASV) data connections, Unix-style LIST output for the default
  * commons-net listing parser, RETR/STOR/DELE/MKD/RMD/RNFR+RNTO/SIZE.
  *
  * One thread per control connection (Hadoop's FTPFileSystem opens a fresh
  * session per filesystem call); passive data sockets are one-shot and
  * bound to loopback. NOT a production server — no TLS, no chroot
  * hardening, no resumed transfers — and deliberately so: it exists to
  * prove the client stack end-to-end, the same role as the reference's
  * docker-compose fixtures.
  */
final class MiniFtpServer(root: Path, user: String, password: String,
                          tls: Option[javax.net.ssl.SSLContext] = None) {
  private val control = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  @volatile private var running = true

  def port: Int = control.getLocalPort
  def host: String = control.getInetAddress.getHostAddress

  private val acceptor = new Thread(() => {
    while (running && !control.isClosed) {
      try {
        val s = control.accept()
        val t = new Thread(() => serve(s), s"mini-ftp-session-${s.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running || control.isClosed => // stop() raced accept()
        case _: Throwable => Thread.sleep(10) // transient accept failure; avoid a hot spin
      }
    }
  }, "mini-ftp-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; control.close() }

  // ---- per-session protocol loop ----------------------------------------

  private val listDate =
    DateTimeFormatter.ofPattern("MMM dd HH:mm", Locale.US).withZone(ZoneId.of("UTC"))

  /** Resolve an FTP path against the served root; relative paths resolve
    * against `cwd`. Normalization keeps traversal inside the root. */
  private def resolve(cwd: String, arg: String): Path = {
    val virtual =
      if (arg.startsWith("/")) arg
      else if (cwd.endsWith("/")) cwd + arg
      else cwd + "/" + arg
    val norm = Paths.get(virtual).normalize().toString.stripPrefix("/")
    root.resolve(norm).normalize()
  }

  private val mdtmFormat =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmss", Locale.US).withZone(ZoneId.of("UTC"))

  private def mlsdLine(p: Path): String = {
    val dir = Files.isDirectory(p)
    val size = if (dir) 0L else Files.size(p)
    val mod = mdtmFormat.format(Files.getLastModifiedTime(p).toInstant)
    s"type=${if (dir) "dir" else "file"};size=$size;modify=$mod; ${p.getFileName}"
  }

  private def listLine(p: Path): String = {
    val dir = Files.isDirectory(p)
    val size = if (dir) 4096L else Files.size(p)
    val mtime = listDate.format(Files.getLastModifiedTime(p).toInstant)
    val flags = if (dir) "drwxr-xr-x" else "-rw-r--r--"
    f"$flags%s   1 ftp      ftp      $size%10d $mtime%s ${p.getFileName}%s"
  }

  private def serve(sock0: Socket): Unit = {
    var sock = sock0
    sock.setSoTimeout(30000)
    var in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
    var out = new PrintWriter(sock.getOutputStream, true)
    def reply(s: String): Unit = { out.print(s + "\r\n"); out.flush() }

    var cwd = "/"
    var authed = false
    var userSeen: Option[String] = None
    var pasv: Option[ServerSocket] = None
    var renameFrom: Option[Path] = None
    var protP = false // PROT P: TLS-wrap data connections (RFC 4217)

    /** 150 → run `body` over the one-shot passive data socket → 226;
      * under PROT P the accepted socket is TLS-wrapped server-side. */
    def withData(body: Socket => Unit): Unit = pasv match {
      case None => reply("425 use PASV first")
      case Some(srv) =>
        reply("150 opening data connection")
        try {
          srv.setSoTimeout(15000)
          val plain = srv.accept()
          val data =
            if (protP && tls.isDefined) {
              val s = tls.get.getSocketFactory.createSocket(
                plain, null, plain.getPort, true)
                .asInstanceOf[javax.net.ssl.SSLSocket]
              s.setUseClientMode(false)
              s
            } else plain
          try body(data) finally data.close()
          reply("226 transfer complete")
        } catch {
          case _: SocketTimeoutException => reply("425 data connection timed out")
          case _: Throwable => reply("451 transfer failed")
        } finally { srv.close(); pasv = None }
    }

    reply("220 graft mini ftp ready")
    try {
      var line = in.readLine()
      while (line != null && running) {
        val (cmd, arg) = line.indexOf(' ') match {
          case -1 => (line.toUpperCase(Locale.ROOT), "")
          case i => (line.substring(0, i).toUpperCase(Locale.ROOT), line.substring(i + 1))
        }
        cmd match {
          // RFC 4217 explicit TLS — legal BEFORE login
          case "AUTH" if arg.equalsIgnoreCase("TLS") => tls match {
            case Some(ctx) =>
              reply("234 proceed with TLS negotiation")
              val ssl = ctx.getSocketFactory
                .createSocket(sock, null, sock.getPort, true)
                .asInstanceOf[javax.net.ssl.SSLSocket]
              ssl.setUseClientMode(false)
              ssl.startHandshake()
              sock = ssl
              in = new BufferedReader(new InputStreamReader(ssl.getInputStream, "UTF-8"))
              out = new PrintWriter(ssl.getOutputStream, true)
            case None => reply("502 TLS not enabled on this server")
          }
          case "PBSZ" => reply("200 PBSZ=0")
          case "PROT" =>
            if (arg.equalsIgnoreCase("P")) { protP = true; reply("200 protection level P") }
            else if (arg.equalsIgnoreCase("C")) { protP = false; reply("200 protection level C") }
            else reply("504 only C and P supported")
          case "USER" => userSeen = Some(arg); reply("331 password required")
          case "PASS" =>
            if (userSeen.contains(user) && arg == password) { authed = true; reply("230 logged in") }
            else reply("530 login incorrect")
          case _ if !authed => reply("530 not logged in")
          case "SYST" => reply("215 UNIX Type: L8")
          case "TYPE" | "MODE" | "STRU" | "NOOP" => reply("200 ok")
          case "FEAT" => reply("211 end")
          case "PWD" => reply(s"""257 "$cwd"""")
          case "CWD" =>
            val p = resolve(cwd, arg)
            if (Files.isDirectory(p)) {
              cwd = "/" + root.relativize(p).toString.replace('\\', '/')
              if (cwd == "/.") cwd = "/"
              reply("250 ok")
            } else reply("550 no such directory")
          case "CDUP" =>
            cwd = Option(Paths.get(cwd).getParent).map(_.toString).getOrElse("/")
            reply("250 ok")
          case "PASV" =>
            pasv.foreach(_.close())
            val srv = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
            pasv = Some(srv)
            val a = srv.getInetAddress.getAddress.map(_ & 0xff)
            val p = srv.getLocalPort
            reply(s"227 entering passive mode (${a(0)},${a(1)},${a(2)},${a(3)},${p / 256},${p % 256})")
          case "LIST" =>
            // commons-net may pass "-a <path>"; strip listing flags
            val cleaned = arg.split(' ').filterNot(_.startsWith("-")).mkString(" ")
            val target = resolve(cwd, if (cleaned.isEmpty) "." else cleaned)
            withData { data =>
              val w = new PrintWriter(data.getOutputStream)
              if (Files.isDirectory(target)) {
                val s = Files.list(target)
                try s.sorted().forEach(p => w.print(listLine(p) + "\r\n"))
                finally s.close()
              } else if (Files.exists(target)) w.print(listLine(target) + "\r\n")
              // nonexistent path → empty listing; client maps it to not-found
              w.flush()
            }
          case "RETR" =>
            val p = resolve(cwd, arg)
            if (!Files.isRegularFile(p)) reply("550 no such file")
            else withData(data => Files.copy(p, data.getOutputStream))
          case "STOR" =>
            val p = resolve(cwd, arg)
            withData { data =>
              Files.createDirectories(p.getParent)
              Files.copy(data.getInputStream, p, StandardCopyOption.REPLACE_EXISTING)
            }
          case "DELE" =>
            val p = resolve(cwd, arg)
            if (Files.isRegularFile(p)) { Files.delete(p); reply("250 deleted") }
            else reply("550 no such file")
          case "MKD" =>
            Files.createDirectories(resolve(cwd, arg))
            reply(s"""257 "$arg" created""")
          case "RMD" =>
            val p = resolve(cwd, arg)
            if (Files.isDirectory(p)) { Files.delete(p); reply("250 removed") }
            else reply("550 no such directory")
          case "RNFR" =>
            val p = resolve(cwd, arg)
            if (Files.exists(p)) { renameFrom = Some(p); reply("350 ready for RNTO") }
            else reply("550 no such path")
          case "RNTO" => renameFrom match {
            case Some(src) =>
              Files.move(src, resolve(cwd, arg), StandardCopyOption.REPLACE_EXISTING)
              renameFrom = None
              reply("250 renamed")
            case None => reply("503 RNFR first")
          }
          case "SIZE" =>
            val p = resolve(cwd, arg)
            if (Files.isRegularFile(p)) reply(s"213 ${Files.size(p)}")
            else reply("550 no such file")
          case "MDTM" =>
            val p = resolve(cwd, arg)
            if (Files.exists(p)) reply("213 " + mdtmFormat.format(
              Files.getLastModifiedTime(p).toInstant))
            else reply("550 no such path")
          case "MLSD" =>
            // RFC 3659 machine-readable listing: type/size/modify facts
            val target = resolve(cwd, if (arg.isEmpty) "." else arg)
            if (!Files.isDirectory(target)) reply("550 not a directory")
            else withData { data =>
              val w = new PrintWriter(data.getOutputStream)
              val s = Files.list(target)
              try s.sorted().forEach(p => w.print(mlsdLine(p) + "\r\n"))
              finally s.close()
              w.flush()
            }
          case "MLST" =>
            val p = resolve(cwd, if (arg.isEmpty) "." else arg)
            if (!Files.exists(p)) reply("550 no such path")
            else {
              reply("250-listing follows")
              reply(" " + mlsdLine(p))
              reply("250 end")
            }
          case "QUIT" => reply("221 bye"); return
          case _ => reply("502 not implemented")
        }
        line = in.readLine()
      }
    } catch { case _: Throwable => /* session dropped */ }
    finally {
      pasv.foreach(_.close())
      sock.close()
    }
  }
}
