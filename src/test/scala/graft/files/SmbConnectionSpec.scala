package graft.files

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** SMB stack against the DirSmbShare contract double: everything above
  * the [[SmbShare]] seam — SPI methods, UNC/wire path discipline, walk +
  * filters, FileDownloader integration — runs for real; the double
  * enforces SMB wire conventions so a client bug (forward slashes,
  * absolute paths, reserved characters crossing the seam) fails here. */
class SmbConnectionSpec extends AnyFunSuite {
  private val root = Files.createTempDirectory("smb_spec_root")
  private def connect() = new SmbFileConnection(() => new DirSmbShare(root))
  private lazy val c = connect()

  Files.writeString(root.resolve("top.csv"), "k,v\n1,a\n")
  Files.createDirectory(root.resolve("sub"))
  Files.writeString(root.resolve("sub/inner.csv"), "k,v\n2,b\n")
  Files.writeString(root.resolve("sub/skip.json"), "{}")

  test("UNC parsing: \\\\server\\share\\path splits; bad forms rejected") {
    assert(SmbFileConnection.parseUnc("\\\\nas01\\data\\a\\b") ===
      (("nas01", "data", "a\\b")))
    assert(SmbFileConnection.parseUnc("\\\\nas01\\data") ===
      (("nas01", "data", "")))
    intercept[IllegalArgumentException](SmbFileConnection.parseUnc("/mnt/data"))
    intercept[IllegalArgumentException](SmbFileConnection.parseUnc("\\\\nas01"))
  }

  test("wire path discipline: backslash-relative, reserved chars rejected") {
    assert(SmbFileConnection.toWirePath("/a/b/c.txt") === "a\\b\\c.txt")
    assert(SmbFileConnection.toWirePath("/") === "")
    intercept[IllegalArgumentException](
      SmbFileConnection.toWirePath("/a/b?.txt")) // MS-FSCC reserved
    intercept[IllegalArgumentException](
      SmbFileConnection.toWirePath("/a/../b.txt")) // traversal
  }

  test("check, listDir, stat, exists over the seam") {
    c.check()
    assert(c.listDir("/").map(_.name).toSet === Set("top.csv", "sub"))
    assert(c.stat("/top.csv").size === Files.size(root.resolve("top.csv")))
    assert(c.isDir("/sub") && !c.isDir("/top.csv"))
    assert(c.exists("/sub/inner.csv") && !c.exists("/sub/ghost.csv"))
  }

  test("walk applies filters across directories") {
    val (files, stopped) = c.walk("/", filters = Seq(Glob("*.csv")))
    assert(files.map(_.path).toSet === Set("/top.csv", "/sub/inner.csv"))
    assert(!stopped)
  }

  test("download, upload, rename (no-replace), delete") {
    val loc = Files.createTempDirectory("smb_spec_loc")
    c.downloadFile("/sub/inner.csv", loc.resolve("got.csv"))
    assert(Files.readString(loc.resolve("got.csv")) === "k,v\n2,b\n")

    Files.writeString(loc.resolve("up.csv"), "k,v\n3,c\n")
    c.uploadFile(loc.resolve("up.csv"), "/sub/up.csv")
    assert(c.exists("/sub/up.csv"))
    // the seam's ReplaceIfExists=0 rename collides instead of clobbering;
    // renameFile asks the seam to replace (FileConnection.renameFile)
    intercept[java.io.IOException](
      new DirSmbShare(root).rename("sub\\up.csv", "sub\\inner.csv", replace = false))
    c.renameFile("/sub/up.csv", "/sub/up2.csv")
    assert(!c.exists("/sub/up.csv") && c.exists("/sub/up2.csv"))
    val in = c.open("/sub/up2.csv")
    try assert(new String(in.readAllBytes()) === "k,v\n3,c\n") finally in.close()
    c.removeFile("/sub/up2.csv")
    assert(!c.exists("/sub/up2.csv"))
  }

  test("mkdirs + rmdir semantics: non-empty fails, recursive drains") {
    c.mkdirs("/a/b")
    assert(c.isDir("/a/b"))
    val loc = Files.createTempDirectory("smb_spec_mk")
    Files.writeString(loc.resolve("f.txt"), "z")
    c.uploadFile(loc.resolve("f.txt"), "/a/b/f.txt")
    intercept[java.io.IOException](c.removeDir("/a")) // STATUS_DIRECTORY_NOT_EMPTY
    c.removeDir("/a", recursive = true)
    assert(!c.exists("/a"))
  }

  test("FileDownloader pulls a filtered tree through the SMB stack") {
    val loc = Files.createTempDirectory("smb_spec_dl").toString
    val result = FileDownloader(c, "/", loc,
      filters = Seq(Glob("*.csv")), workers = 2,
      ifExists = FileIfExists.ReplaceFile).run()
    result.raiseIfFailed()
    assert(result.successful.size === 2)
    assert(Files.readString(java.nio.file.Paths.get(loc, "top.csv")) === "k,v\n1,a\n")
    assert(Files.readString(java.nio.file.Paths.get(loc, "sub/inner.csv")) === "k,v\n2,b\n")
  }

  test("DirSmbShare enforces STATUS_OBJECT_NAME_INVALID server-side") {
    // a client bypassing toWirePath must still fail at the share: reserved
    // characters and dot segments are rejected by the double itself, and
    // '..' cannot escape the share root
    val share = new DirSmbShare(root)
    Seq("a?b", "a*b", "x\\..\\y", "x\\.\\y", "a:b", "a<b>c").foreach { wire =>
      intercept[java.io.IOException](share.stat(wire))
    }
    // plain nested paths still resolve
    assert(share.stat("top.csv").isDefined)
  }

  test("FileUploader(ReplaceFile) over an existing target succeeds") {
    val loc = Files.createTempDirectory("smb_spec_rf")
    Files.writeString(loc.resolve("t.csv"), "k,v\n9,new\n")
    val served = Files.createDirectories(root.resolve("rf"))
    Files.writeString(served.resolve("t.csv"), "k,v\n9,old\n")
    try {
      val r = FileUploader(c, loc.toString, "/rf", ifExists = FileIfExists.ReplaceFile).run()
      assert(r.successful == Seq("/rf/t.csv") && r.failed.isEmpty, r.failed)
      assert(Files.readString(served.resolve("t.csv")) === "k,v\n9,new\n")
      assert(VanishAfterListing.tempFiles(served).isEmpty)
    } finally {
      VanishAfterListing.tempFiles(served).foreach(Files.delete)
      Files.deleteIfExists(served.resolve("t.csv"))
      Files.deleteIfExists(served)
    }
  }

  test("a source deleted after the walk is missing, not failed") {
    VanishAfterListing.assertMissingNotFailed(c, root, "vanish", "/vanish")
  }

  test("FileUploader(ReplaceFile) twice, then FileMover: every file " +
       "successful, no temp file left") {
    VanishAfterListing.assertUploadTwiceThenMove(c, root.resolve("rt"), "/rt")
  }
}
