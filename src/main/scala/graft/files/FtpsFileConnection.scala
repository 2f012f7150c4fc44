package graft.files

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStream, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.file.{Files, Path}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.Locale

import javax.net.ssl.{SSLContext, SSLSocket}

/** Explicit-FTPS protocol client (reference onetl/connection/
  * file_connection/ftps.py:44) implemented directly on JDK sockets:
  * Hadoop's bundled FTP stack carries no TLS support, and this container
  * ships no commons-net FTPSClient — but the protocol itself (RFC 959 +
  * the RFC 4217 explicit-TLS upgrade) is small enough to speak natively.
  *
  * Session shape: plain control connection → `AUTH TLS` → TLS handshake
  * → `PBSZ 0` / `PROT P` → login; every data connection (MLSD listings,
  * RETR/STOR transfers) is a fresh PASV socket, TLS-wrapped when PROT P
  * is active. Listings use the machine-readable RFC 3659 MLSD/MLST facts
  * (`type`/`size`/`modify`), not LIST's human format, so no locale
  * parsing. One outstanding command at a time (synchronized), matching
  * the FTP control-channel contract; parallelism across files comes from
  * the transfer engine's workers, each holding its own connection.
  *
  * The `sslContext` carries trust configuration: a production caller
  * verifies the server chain; tests inject a context trusting the in-JVM
  * server's self-signed certificate.
  *
  * `renameFile` is RNFR + RNTO, so it replaces an existing target only
  * where the server does; [[MiniFtpServer]] replaces.
  */
final class FtpsFileConnection(host: String, port: Int,
                               user: String, password: String,
                               sslContext: SSLContext) extends RemoteFileConnection {

  private val mdtm = DateTimeFormatter.ofPattern("yyyyMMddHHmmss", Locale.US)
    .withZone(ZoneOffset.UTC)

  private var sock: Socket = _
  private var in: BufferedReader = _
  private var out: PrintWriter = _

  private def connectControl(): Unit = {
    sock = new Socket(host, port)
    sock.setSoTimeout(30000)
    in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
    out = new PrintWriter(sock.getOutputStream, true)
    expect(readReply(), 2, "greeting")
    // RFC 4217: secure the control channel before credentials cross it
    sendRaw("AUTH TLS")
    expect(readReply(), 2, "AUTH TLS") // 234
    val ssl = tlsWrap(sock, port)
    sock = ssl
    in = new BufferedReader(new InputStreamReader(ssl.getInputStream, "UTF-8"))
    out = new PrintWriter(ssl.getOutputStream, true)
    command("PBSZ 0", 2)
    command("PROT P", 2)
    command(s"USER $user", 3)
    command(s"PASS $password", 2)
  }

  /** TLS-upgrades an already-connected socket with RFC 2818/6125 endpoint
    * identification ENABLED: without it, any certificate the context's
    * trust anchors would sign is accepted for ANY host, so a MITM holding
    * a valid cert for an unrelated name could impersonate the server.
    * Applied to the control channel and to every PASV data channel — the
    * data connection is a separate TCP socket and must be verified
    * against the same hostname independently. */
  private def tlsWrap(plain: Socket, port: Int): SSLSocket = {
    val ssl = sslContext.getSocketFactory
      .createSocket(plain, host, port, true).asInstanceOf[SSLSocket]
    ssl.setUseClientMode(true)
    val params = ssl.getSSLParameters
    params.setEndpointIdentificationAlgorithm("HTTPS")
    ssl.setSSLParameters(params)
    ssl.startHandshake()
    ssl
  }

  private def ensureConnected(): Unit =
    if (sock == null) connectControl()

  private def sendRaw(cmd: String): Unit = { out.print(cmd + "\r\n"); out.flush() }

  /** One FTP reply, collapsing RFC 959 multiline form; returns
    * (code, all lines). */
  private def readReply(): (Int, Seq[String]) = {
    val first = in.readLine()
    if (first == null) throw new IOException("FTPS control connection closed")
    val code = first.take(3).toInt
    val lines = Seq.newBuilder[String]
    lines += first
    if (first.length > 3 && first.charAt(3) == '-') {
      var l = in.readLine()
      while (l != null && !(l.startsWith(first.take(3)) && l.length > 3 && l.charAt(3) == ' ')) {
        lines += l
        l = in.readLine()
      }
      if (l != null) lines += l
    }
    (code, lines.result())
  }

  private def expect(reply: (Int, Seq[String]), codeClass: Int, what: String): Seq[String] = {
    if (reply._1 / 100 != codeClass)
      throw new IOException(s"FTPS $what: ${reply._2.headOption.getOrElse("")}")
    reply._2
  }

  private def command(cmd: String, codeClass: Int): Seq[String] = synchronized {
    ensureConnected()
    sendRaw(cmd)
    expect(readReply(), codeClass, cmd.takeWhile(_ != ' '))
  }

  /** PASV → plain data socket, NOT yet TLS-wrapped: the server only
    * accepts (and wraps) after the transfer command arrives, so a client
    * that handshakes here deadlocks against its own unsent command. */
  private def openData(): Socket = {
    val lines = command("PASV", 2)
    val m = "\\((\\d+),(\\d+),(\\d+),(\\d+),(\\d+),(\\d+)\\)".r
      .findFirstMatchIn(lines.head)
      .getOrElse(throw new IOException(s"unparseable PASV reply: ${lines.head}"))
    val dataPort = m.group(5).toInt * 256 + m.group(6).toInt
    val plain = new Socket(host, dataPort)
    plain.setSoTimeout(30000)
    plain
  }

  /** Data-channel command: PASV + connect, send `cmd`, expect 150, THEN
    * TLS-handshake the data socket (the server wraps on accept), stream,
    * expect 226 — the RFC 959/4217 transfer sequence. A 550 (file
    * unavailable) in place of the 150 is a `FileNotFoundException`. */
  private def withData[A](cmd: String)(body: Socket => A): A = synchronized {
    ensureConnected()
    val plain = openData()
    var data: Socket = plain
    try {
      sendRaw(cmd)
      val opened = readReply()
      if (opened._1 == 550)
        throw new FileNotFoundException(s"FTPS $cmd: ${opened._2.headOption.getOrElse("")}")
      expect(opened, 1, cmd.takeWhile(_ != ' ')) // 150
      data = tlsWrap(plain, plain.getPort)
      val result = body(data)
      data.close()
      expect(readReply(), 2, cmd.takeWhile(_ != ' ')) // 226
      result
    } finally if (!data.isClosed) data.close()
  }

  // ---- MLSD/MLST fact parsing --------------------------------------------

  private case class Facts(isDir: Boolean, size: Long, modify: Instant, name: String)

  private def parseFacts(line: String): Option[Facts] = {
    val trimmed = line.dropWhile(_ == ' ')
    val sep = trimmed.indexOf("; ")
    if (sep < 0) return None
    val facts = trimmed.take(sep + 1).split(';').filter(_.contains("="))
      .map { f => val i = f.indexOf('='); f.take(i).toLowerCase(Locale.ROOT) -> f.drop(i + 1) }
      .toMap
    val name = trimmed.drop(sep + 2)
    val tpe = facts.getOrElse("type", "file")
    if (tpe == "cdir" || tpe == "pdir") None
    else Some(Facts(tpe == "dir",
      facts.get("size").map(_.toLong).getOrElse(0L),
      facts.get("modify").map(m => Instant.from(mdtm.parse(m))).getOrElse(Instant.EPOCH),
      name))
  }

  private def mlst(path: String): Option[Facts] = synchronized {
    ensureConnected()
    sendRaw(s"MLST $path")
    val (code, lines) = readReply()
    if (code / 100 != 2) None
    else lines.lift(1).flatMap(parseFacts)
  }

  // ---- FileConnection SPI -------------------------------------------------

  /** Full handshake (TLS + login) + a PWD round trip. */
  def check(): this.type = { command("PWD", 2); this }

  def exists(path: String): Boolean = mlst(path).isDefined
  def isDir(path: String): Boolean = mlst(path).exists(_.isDir)
  def stat(path: String): PathStat = {
    val f = mlst(path).getOrElse(throw new IOException(s"not found: $path"))
    PathStat(f.size, f.modify)
  }

  def listDir(path: String): Seq[RemoteEntry] = {
    val lines = withData(s"MLSD $path") { data =>
      val r = new BufferedReader(new InputStreamReader(data.getInputStream, "UTF-8"))
      Iterator.continually(r.readLine()).takeWhile(_ != null).toVector
    }
    lines.flatMap(parseFacts).map { f =>
      val full = if (path.endsWith("/")) path + f.name else s"$path/${f.name}"
      RemoteEntry(full, PathStat(f.size, f.modify), f.isDir)
    }.sortBy(_.path)
  }

  protected def mkdir(path: String): Unit = { command(s"MKD $path", 2); () }
  protected def rmdir(path: String): Unit = { command(s"RMD $path", 2); () }
  def removeFile(path: String): Unit = { command(s"DELE $path", 2); () }

  def renameFile(source: String, target: String): Unit = {
    command(s"RNFR $source", 3)
    command(s"RNTO $target", 2)
    ()
  }

  def downloadFile(remote: String, local: Path): Unit =
    withData(s"RETR $remote") { data =>
      val os = Files.newOutputStream(local)
      try data.getInputStream.transferTo(os) finally os.close()
    }

  def uploadFile(local: Path, remote: String): Unit =
    withData(s"STOR $remote") { data =>
      val is = Files.newInputStream(local)
      try {
        is.transferTo(data.getOutputStream)
        data.getOutputStream.flush()
      } finally is.close()
    }

  def open(path: String): InputStream = {
    val bytes = withData(s"RETR $path") { data =>
      data.getInputStream.readAllBytes()
    }
    new java.io.ByteArrayInputStream(bytes)
  }
}

/** TLS plumbing for the in-JVM FTPS fixture: a keytool-generated
  * self-signed PKCS12 identity for the server, and a client context that
  * trusts exactly that keystore (NOT a trust-all bypass — the client
  * still verifies the server presents the expected certificate). */
object FtpsTestTls {
  import java.security.KeyStore
  import javax.net.ssl.{KeyManagerFactory, TrustManagerFactory}

  /** Generate a fresh self-signed keystore with the JDK's keytool. The
    * default SAN covers the loopback listener's numeric address — the
    * client enables endpoint identification, and RFC 6125 has no CN
    * fallback for IP literals, so an iPAddress SAN is mandatory. Tests
    * override `san` to mint a trusted-but-wrong-host certificate. */
  def generateKeystore(dir: Path, storePass: String = "graft-ftps",
      san: String = "dns:localhost,ip:127.0.0.1"): Path = {
    val ks = dir.resolve("ftps.p12")
    val cmd = Array(
      System.getProperty("java.home") + "/bin/keytool",
      "-genkeypair", "-alias", "graft-ftps", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ks.toString, "-storepass", storePass,
      "-dname", "CN=localhost",
      "-ext", s"SAN=$san",
      "-validity", "2")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes())
    require(p.waitFor() == 0, s"keytool failed: $log")
    ks
  }

  private def load(ksPath: Path, storePass: String): KeyStore = {
    val ks = KeyStore.getInstance("PKCS12")
    val is = Files.newInputStream(ksPath)
    try ks.load(is, storePass.toCharArray) finally is.close()
    ks
  }

  /** Server side: presents the keystore identity. */
  def serverContext(ksPath: Path, storePass: String = "graft-ftps"): SSLContext = {
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(load(ksPath, storePass), storePass.toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  /** Client side: trusts the same keystore's certificate. */
  def clientContext(ksPath: Path, storePass: String = "graft-ftps"): SSLContext = {
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(load(ksPath, storePass))
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }
}
