package graft.files

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Live protocol-stack test: WebDavFileConnection → JDK HttpClient →
  * MiniWebDavServer, over real loopback HTTP. Every SPI method runs
  * against actual RFC 4918 wire traffic (PROPFIND multistatus XML, MKCOL,
  * MOVE with Destination), not a mock. */
class WebDavConnectionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("dav_spec_root")
  private val srv = new MiniWebDavServer(root, "u", "p")
  private lazy val c = new WebDavFileConnection(srv.host, srv.port, "u", "p")

  override def beforeAll(): Unit = {
    Files.writeString(root.resolve("top.csv"), "k,v\n1,a\n")
    Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("sub/inner.csv"), "k,v\n2,b\n")
    Files.writeString(root.resolve("sub/skip.json"), "{}")
    Files.writeString(root.resolve("with space.txt"), "x")
  }
  override def afterAll(): Unit = srv.stop()

  test("check() verifies the DAV compliance header and bad credentials fail") {
    c.check()
    val bad = new WebDavFileConnection(srv.host, srv.port, "u", "wrong")
    assertThrows[Exception](bad.check())
  }

  test("exists() distinguishes 'missing' from 'denied': 401 throws, 404 is false") {
    // a wrong-credential client must NOT read every path as absent — that
    // would make a transfer plan silently skip the whole tree
    val bad = new WebDavFileConnection(srv.host, srv.port, "u", "wrong")
    val e = intercept[java.io.IOException](bad.exists("/top.csv"))
    assert(e.getMessage.contains("401"))
    assert(!c.exists("/really-not-there.bin")) // genuine 404 stays false
  }

  test("listDir, stat, exists over PROPFIND") {
    assert(c.listDir("/").map(_.name).toSet ===
      Set("top.csv", "sub", "with space.txt"))
    assert(c.stat("/top.csv").size === Files.size(root.resolve("top.csv")))
    assert(c.stat("/top.csv").mtime.toEpochMilli > 0)
    assert(c.isDir("/sub"))
    assert(!c.isDir("/top.csv"))
    assert(c.exists("/sub/inner.csv"))
    assert(!c.exists("/sub/ghost.csv"))
  }

  test("percent-encoded paths round trip") {
    assert(c.exists("/with space.txt"))
    assert(c.stat("/with space.txt").size === 1)
  }

  test("walk applies filters across directories") {
    val (files, stopped) = c.walk("/", filters = Seq(Glob("*.csv")))
    assert(files.map(_.path).toSet === Set("/top.csv", "/sub/inner.csv"))
    assert(!stopped)
  }

  test("mkdirs creates nested collections via MKCOL") {
    c.mkdirs("/a/b/c")
    assert(c.isDir("/a/b/c"))
    c.mkdirs("/a/b/c") // idempotent
    c.removeDir("/a", recursive = true)
    assert(!c.exists("/a"))
  }

  test("download, upload, rename, delete round trip") {
    val loc = Files.createTempDirectory("dav_spec_loc")
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

  test("removeDir refuses a non-empty dir unless recursive") {
    c.mkdirs("/d")
    val loc = Files.createTempDirectory("dav_spec_ne")
    Files.writeString(loc.resolve("f.txt"), "z")
    c.uploadFile(loc.resolve("f.txt"), "/d/f.txt")
    assertThrows[java.io.IOException](c.removeDir("/d", recursive = false))
    c.removeDir("/d", recursive = true)
    assert(!c.exists("/d"))
  }

  test("FileDownloader pulls a filtered tree through the WebDAV stack") {
    val loc = Files.createTempDirectory("dav_spec_dl").toString
    val result = FileDownloader(c, "/", loc,
      filters = Seq(Glob("*.csv")), workers = 2,
      ifExists = FileIfExists.ReplaceFile).run()
    result.raiseIfFailed()
    assert(result.successful.size === 2)
    assert(Files.readString(java.nio.file.Paths.get(loc, "top.csv")) === "k,v\n1,a\n")
    assert(Files.readString(java.nio.file.Paths.get(loc, "sub/inner.csv")) === "k,v\n2,b\n")
  }

  test("multistatus parser refuses doctype declarations (XXE hardening)") {
    // a hostile server's PROPFIND body must not be able to pull local
    // files or open network connections via external entities
    val evil = ("""<?xml version="1.0"?>""" +
      """<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/hostname">]>""" +
      """<D:multistatus xmlns:D="DAV:"><D:response>""" +
      """<D:href>&x;</D:href></D:response></D:multistatus>""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    intercept[org.xml.sax.SAXParseException](
      WebDavFileConnection.secureParse(evil))
    // a benign multistatus still parses
    val ok = ("""<?xml version="1.0"?>""" +
      """<D:multistatus xmlns:D="DAV:"><D:response>""" +
      """<D:href>/x.txt</D:href></D:response></D:multistatus>""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(WebDavFileConnection.secureParse(ok)
      .getElementsByTagNameNS("DAV:", "response").getLength === 1)
  }

  test("a source deleted after the walk is missing, not failed") {
    VanishAfterListing.assertMissingNotFailed(c, root, "vanish", "/vanish")
  }

  test("FileUploader(ReplaceFile) twice, then FileMover: every file " +
       "successful, no temp file left") {
    VanishAfterListing.assertUploadTwiceThenMove(c, root.resolve("rt"), "/rt")
  }
}
