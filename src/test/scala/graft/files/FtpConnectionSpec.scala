package graft.files

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Live protocol-stack test: FtpFileConnection → Hadoop FTPFileSystem →
  * commons-net FTPClient → MiniFtpServer, over real loopback sockets.
  * Every SPI method runs against the wire protocol, not a mock. */
class FtpConnectionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("ftp_spec_root")
  private val srv = new MiniFtpServer(root, "u", "p")
  private lazy val c = new FtpFileConnection(srv.host, srv.port, "u", "p")

  override def beforeAll(): Unit = {
    Files.writeString(root.resolve("top.csv"), "k,v\n1,a\n")
    Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("sub/inner.csv"), "k,v\n2,b\n")
    Files.writeString(root.resolve("sub/skip.json"), "{}")
  }
  override def afterAll(): Unit = srv.stop()

  test("check() does a real round trip and bad credentials fail") {
    c.check()
    val bad = new FtpFileConnection(srv.host, srv.port, "u", "wrong")
    assertThrows[Exception](bad.check())
  }

  test("listDir, stat, exists over the wire") {
    assert(c.listDir("/").map(_.name).toSet === Set("top.csv", "sub"))
    assert(c.stat("/top.csv").size === Files.size(root.resolve("top.csv")))
    assert(c.isDir("/sub"))
    assert(c.exists("/sub/inner.csv"))
    assert(!c.exists("/sub/ghost.csv"))
  }

  test("walk applies filters across directories") {
    val (files, stopped) = c.walk("/", filters = Seq(Glob("*.csv")))
    assert(files.map(_.path).toSet === Set("/top.csv", "/sub/inner.csv"))
    assert(!stopped)
  }

  test("download, upload, rename, delete round trip") {
    val loc = Files.createTempDirectory("ftp_spec_loc")
    c.downloadFile("/sub/inner.csv", loc.resolve("got.csv"))
    assert(Files.readString(loc.resolve("got.csv")) === "k,v\n2,b\n")

    Files.writeString(loc.resolve("up.csv"), "k,v\n3,c\n")
    c.uploadFile(loc.resolve("up.csv"), "/sub/up.csv")
    assert(c.exists("/sub/up.csv"))
    c.renameFile("/sub/up.csv", "/sub/up2.csv")
    assert(!c.exists("/sub/up.csv") && c.exists("/sub/up2.csv"))
    c.removeFile("/sub/up2.csv")
    assert(!c.exists("/sub/up2.csv"))
  }

  test("FileDownloader pulls a filtered tree through the FTP stack") {
    val loc = Files.createTempDirectory("ftp_spec_dl").toString
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
