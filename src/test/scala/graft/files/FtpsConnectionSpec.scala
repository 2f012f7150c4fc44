package graft.files

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Live explicit-FTPS stack: FtpsFileConnection (native RFC 959/4217
  * client) → TLS control + data channels → MiniFtpServer with AUTH TLS.
  * The client verifies the server's self-signed certificate via an
  * injected trust store — real handshakes on every channel, loopback
  * sockets, no mocks. */
class FtpsConnectionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("ftps_spec_root")
  private val ksDir = Files.createTempDirectory("ftps_spec_ks")
  private lazy val ks = FtpsTestTls.generateKeystore(ksDir)
  private lazy val srv =
    new MiniFtpServer(root, "u", "p", tls = Some(FtpsTestTls.serverContext(ks)))
  private lazy val c = new FtpsFileConnection(srv.host, srv.port, "u", "p",
    FtpsTestTls.clientContext(ks))

  override def beforeAll(): Unit = {
    Files.writeString(root.resolve("top.csv"), "k,v\n1,a\n")
    Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("sub/inner.csv"), "k,v\n2,b\n")
    Files.writeString(root.resolve("sub/skip.json"), "{}")
  }
  override def afterAll(): Unit = srv.stop()

  test("TLS handshake + login; wrong password fails after the handshake") {
    c.check()
    val bad = new FtpsFileConnection(srv.host, srv.port, "u", "wrong",
      FtpsTestTls.clientContext(ks))
    assertThrows[Exception](bad.check())
  }

  test("an untrusting client refuses the server certificate") {
    val otherKs = FtpsTestTls.generateKeystore(
      Files.createTempDirectory("ftps_spec_ks2"))
    val distrustful = new FtpsFileConnection(srv.host, srv.port, "u", "p",
      FtpsTestTls.clientContext(otherKs))
    assertThrows[Exception](distrustful.check())
  }

  test("a trusted certificate for the WRONG host is refused (endpoint id)") {
    // cert is fully trusted by the client's trust store, but its SAN names
    // a different host than the one being connected to — without endpoint
    // identification this handshake would succeed and a MITM holding any
    // trusted cert could impersonate the server
    val wrongKs = FtpsTestTls.generateKeystore(
      Files.createTempDirectory("ftps_spec_ks3"), san = "dns:evil.example")
    val wrongSrv = new MiniFtpServer(root, "u", "p",
      tls = Some(FtpsTestTls.serverContext(wrongKs)))
    try {
      val victim = new FtpsFileConnection(wrongSrv.host, wrongSrv.port,
        "u", "p", FtpsTestTls.clientContext(wrongKs))
      val e = intercept[Exception](victim.check())
      assert(e.isInstanceOf[javax.net.ssl.SSLException]
        || e.getCause.isInstanceOf[javax.net.ssl.SSLException])
    } finally wrongSrv.stop()
  }

  test("listDir, stat, exists over MLSD/MLST") {
    assert(c.listDir("/").map(_.name).toSet === Set("top.csv", "sub"))
    assert(c.stat("/top.csv").size === Files.size(root.resolve("top.csv")))
    assert(c.stat("/top.csv").mtime.getEpochSecond > 0)
    assert(c.isDir("/sub"))
    assert(!c.isDir("/top.csv"))
    assert(c.exists("/sub/inner.csv"))
    assert(!c.exists("/sub/ghost.csv"))
  }

  test("walk applies filters across directories") {
    val (files, stopped) = c.walk("/", filters = Seq(Glob("*.csv")))
    assert(files.map(_.path).toSet === Set("/top.csv", "/sub/inner.csv"))
    assert(!stopped)
  }

  test("download, upload, rename, delete over TLS data channels") {
    val loc = Files.createTempDirectory("ftps_spec_loc")
    c.downloadFile("/sub/inner.csv", loc.resolve("got.csv"))
    assert(Files.readString(loc.resolve("got.csv")) === "k,v\n2,b\n")

    Files.writeString(loc.resolve("up.csv"), "k,v\n3,c\n")
    c.uploadFile(loc.resolve("up.csv"), "/sub/up.csv")
    assert(c.exists("/sub/up.csv"))
    c.renameFile("/sub/up.csv", "/sub/up2.csv")
    assert(!c.exists("/sub/up.csv") && c.exists("/sub/up2.csv"))
    val in = c.open("/sub/up2.csv")
    try assert(new String(in.readAllBytes()) === "k,v\n3,c\n") finally in.close()
    c.removeFile("/sub/up2.csv")
    assert(!c.exists("/sub/up2.csv"))
  }

  test("mkdirs + recursive removeDir") {
    c.mkdirs("/a/b")
    assert(c.isDir("/a/b"))
    val loc = Files.createTempDirectory("ftps_spec_mk")
    Files.writeString(loc.resolve("f.txt"), "z")
    c.uploadFile(loc.resolve("f.txt"), "/a/b/f.txt")
    c.removeDir("/a", recursive = true)
    assert(!c.exists("/a"))
  }

  test("FileDownloader pulls a filtered tree through the FTPS stack") {
    val loc = Files.createTempDirectory("ftps_spec_dl").toString
    // each worker opens its own session: fresh connection per worker via
    // the shared one (synchronized) is fine at this scale
    val result = FileDownloader(c, "/", loc,
      filters = Seq(Glob("*.csv")), workers = 2,
      ifExists = FileIfExists.ReplaceFile).run()
    result.raiseIfFailed()
    assert(result.successful.size === 2)
    assert(Files.readString(java.nio.file.Paths.get(loc, "top.csv")) === "k,v\n1,a\n")
    assert(Files.readString(java.nio.file.Paths.get(loc, "sub/inner.csv")) === "k,v\n2,b\n")
  }

  test("a source deleted after the walk is missing, not failed") {
    VanishAfterListing.assertMissingNotFailed(c, root, "vanish", "/vanish")
  }

  test("FileUploader(ReplaceFile) twice, then FileMover: every file " +
       "successful, no temp file left") {
    VanishAfterListing.assertUploadTwiceThenMove(c, root.resolve("rt"), "/rt")
  }
}
