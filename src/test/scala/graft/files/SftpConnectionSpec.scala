package graft.files

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Wire-protocol test: SftpFileConnection speaks SFTP v3 (SSH_FXP
  * packets) to MiniSftpServer over a real loopback TCP socket. Framing,
  * request-id discipline, chunked offset-addressed READ/WRITE, READDIR
  * paging, and STATUS codes all cross the wire — only the SSH encryption
  * that would carry these bytes in production is absent. */
class SftpConnectionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("sftp_spec_root")
  private val srv = new MiniSftpServer(root)
  private def connect() =
    new SftpFileConnection(() => new TcpSftpTransport(srv.host, srv.port))
  private lazy val c = connect()

  override def beforeAll(): Unit = {
    Files.writeString(root.resolve("top.csv"), "k,v\n1,a\n")
    Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("sub/inner.csv"), "k,v\n2,b\n")
    Files.writeString(root.resolve("sub/skip.json"), "{}")
    // a file spanning multiple 32 KiB read/write chunks
    Files.write(root.resolve("big.bin"),
      Array.tabulate[Byte](100 * 1024)(i => (i % 251).toByte))
  }
  override def afterAll(): Unit = srv.stop()

  /** Transport that drops the channel the moment a frame of type
    * `failOnType` is sent; frames before it pass through. It parses the
    * byte-wise `write(Int)` path, which `OutputStream.write(Array)` feeds. */
  private class DroppingTransport(failOnType: Int) extends SftpTransport {
    private val inner = new TcpSftpTransport(srv.host, srv.port)
    val input: java.io.InputStream = inner.input
    val output: java.io.OutputStream = new java.io.OutputStream {
      private val header = new Array[Int](5)
      private var hi = 0
      private var frameRemaining = 0
      private var dead = false
      override def write(b: Int): Unit = {
        if (dead) throw new java.io.IOException("injected: channel dropped")
        if (frameRemaining > 0) { frameRemaining -= 1; inner.output.write(b) }
        else {
          header(hi) = b & 0xff; hi += 1
          if (hi == 5) {
            val len = (header(0) << 24) | (header(1) << 16) |
              (header(2) << 8) | header(3)
            val tpe = header(4)
            hi = 0
            if (tpe == failOnType) {
              dead = true
              throw new java.io.IOException(
                s"injected: channel dropped on packet type $tpe")
            }
            frameRemaining = len - 1
            header.foreach(inner.output.write)
          }
        }
      }
      override def flush(): Unit = inner.output.flush()
    }
    def close(): Unit = inner.close()
  }

  /** Loopback transport that records, per `write` call on its output,
    * the frame type when the call carries exactly one whole frame, or -1
    * when it carries anything else. */
  private class CountingTransport extends SftpTransport {
    private val inner = new TcpSftpTransport(srv.host, srv.port)
    val frameTypes = scala.collection.mutable.ListBuffer[Int]()
    val input: java.io.InputStream = inner.input
    val output: java.io.OutputStream = new java.io.OutputStream {
      override def write(b: Int): Unit = { frameTypes += -1; inner.output.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val whole = len >= 5 &&
          java.nio.ByteBuffer.wrap(b, off, len).getInt == len - 4
        frameTypes += (if (whole) b(off + 4) & 0xff else -1)
        inner.output.write(b, off, len)
      }
      override def flush(): Unit = inner.output.flush()
    }
    def close(): Unit = inner.close()
  }

  /** Loopback transport that refuses, as OpenSSH's sftp-server does, a
    * RENAME of an existing source over an existing file: it retypes that
    * frame to a packet type the server does not know, which the server
    * answers with FX_FAILURE for the same request id. Relies on one write
    * per frame. */
  private class StrictRenameTransport extends SftpTransport {
    private val inner = new TcpSftpTransport(srv.host, srv.port)
    @volatile var refused = 0
    val input: java.io.InputStream = inner.input
    val output: java.io.OutputStream = new java.io.OutputStream {
      override def write(b: Int): Unit = inner.output.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (len > 5 && (b(off + 4) & 0xff) == SftpProtocol.FXP_RENAME) {
          val r = new SftpProtocol.PacketReader(b.slice(off + 5, off + len))
          r.u32()
          val (from, to) = (r.string(), r.string())
          if (Files.exists(root.resolve(from.stripPrefix("/"))) &&
              Files.isRegularFile(root.resolve(to.stripPrefix("/")))) {
            refused += 1
            b(off + 4) = 250.toByte
          }
        }
        inner.output.write(b, off, len)
      }
      override def flush(): Unit = inner.output.flush()
    }
    def close(): Unit = inner.close()
  }

  private def version =
    (SftpProtocol.FXP_VERSION, new SftpProtocol.PacketBuilder().u32(SftpProtocol.ProtocolVersion))

  /** A transport whose server side replays `frames`, then `tail` raw
    * bytes; what the client sends is discarded. */
  private def scripted(frames: Seq[(Int, SftpProtocol.PacketBuilder)],
                       tail: Array[Byte]): SftpTransport = {
    val wire = new java.io.ByteArrayOutputStream()
    frames.foreach { case (tpe, b) => SftpProtocol.writePacket(wire, tpe, b) }
    wire.write(tail)
    new SftpTransport {
      val input: java.io.InputStream = new java.io.ByteArrayInputStream(wire.toByteArray)
      val output: java.io.OutputStream = java.io.OutputStream.nullOutputStream()
      def close(): Unit = ()
    }
  }

  test("check() completes the INIT/VERSION handshake and a REALPATH round trip") {
    c.check()
  }

  test("a cleanup-side CLOSE failure never masks the transfer exception") {
    // transport that drops the channel the moment the first FXP_READ is
    // sent — the READ dies AND the finally-side FXP_CLOSE dies; the
    // exception that surfaces must be the READ's, with the CLOSE failure
    // attached as suppressed (not replacing it)
    val flaky = new SftpFileConnection(
      () => new DroppingTransport(failOnType = 5)) // 5 = SSH_FXP_READ
    val local = Files.createTempDirectory("sftp_spec_mask").resolve("x.csv")
    val e = intercept[java.io.IOException](
      flaky.downloadFile("/top.csv", local))
    assert(e.getMessage.contains("packet type 5"),
      s"surfaced exception must be the READ failure, got: ${e.getMessage}")
    assert(e.getSuppressed.exists(_.getMessage.contains("injected")),
      "the CLOSE failure must ride along as suppressed")
  }

  test("listDir, stat, exists over STAT/OPENDIR/READDIR") {
    assert(c.listDir("/").map(_.name).toSet === Set("top.csv", "sub", "big.bin"))
    assert(c.stat("/top.csv").size === Files.size(root.resolve("top.csv")))
    assert(c.stat("/top.csv").mtime.getEpochSecond > 0)
    assert(c.isDir("/sub"))
    assert(!c.isDir("/top.csv"))
    assert(c.exists("/sub/inner.csv"))
    assert(!c.exists("/sub/ghost.csv"))
  }

  test("multi-chunk download is byte-exact") {
    val loc = Files.createTempDirectory("sftp_spec_big")
    c.downloadFile("/big.bin", loc.resolve("big.bin"))
    assert(Files.readAllBytes(loc.resolve("big.bin")).toSeq ===
      Files.readAllBytes(root.resolve("big.bin")).toSeq)
  }

  test("multi-chunk upload is byte-exact") {
    val loc = Files.createTempDirectory("sftp_spec_up")
    val data = Array.tabulate[Byte](80 * 1024)(i => ((i * 7) % 249).toByte)
    Files.write(loc.resolve("out.bin"), data)
    c.uploadFile(loc.resolve("out.bin"), "/out.bin")
    assert(Files.readAllBytes(root.resolve("out.bin")).toSeq === data.toSeq)
    c.removeFile("/out.bin")
  }

  test("walk applies filters across directories") {
    val (files, stopped) = c.walk("/", filters = Seq(Glob("*.csv")))
    assert(files.map(_.path).toSet === Set("/top.csv", "/sub/inner.csv"))
    assert(!stopped)
  }

  test("mkdirs, rename, recursive removeDir") {
    c.mkdirs("/a/b")
    assert(c.isDir("/a/b"))
    val loc = Files.createTempDirectory("sftp_spec_mv")
    Files.writeString(loc.resolve("f.txt"), "z")
    c.uploadFile(loc.resolve("f.txt"), "/a/b/f.txt")
    c.renameFile("/a/b/f.txt", "/a/b/g.txt")
    assert(!c.exists("/a/b/f.txt") && c.exists("/a/b/g.txt"))
    val in = c.open("/a/b/g.txt")
    try assert(new String(in.readAllBytes()) === "z") finally in.close()
    c.removeDir("/a", recursive = true)
    assert(!c.exists("/a"))
  }

  test("renameFile replaces an existing target on a server that refuses " +
       "RENAME over a file") {
    val t = new StrictRenameTransport
    val strict = new SftpFileConnection(() => t)
    Files.writeString(root.resolve("rn_src.txt"), "new")
    Files.writeString(root.resolve("rn_dst.txt"), "old")
    strict.renameFile("/rn_src.txt", "/rn_dst.txt")
    assert(t.refused == 1)
    assert(!Files.exists(root.resolve("rn_src.txt")))
    assert(Files.readString(root.resolve("rn_dst.txt")) == "new")
    // a refusal that is not about an existing target is still an error
    intercept[java.io.IOException](strict.renameFile("/rn_absent.txt", "/rn_dst.txt"))
    assert(Files.readString(root.resolve("rn_dst.txt")) == "new")
    Files.delete(root.resolve("rn_dst.txt"))
    VanishAfterListing.assertUploadTwiceThenMove(strict, root.resolve("rt_strict"),
      "/rt_strict")
    assert(t.refused >= 2, "the second upload renamed over both targets")
  }

  test("FileDownloader pulls a filtered tree through the SFTP packet stack") {
    val loc = Files.createTempDirectory("sftp_spec_dl").toString
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

  test("a download killed mid-READ is failed and leaves no temp file") {
    val dir = Files.createDirectory(root.resolve("dropdl"))
    Files.write(dir.resolve("big.bin"), Array.fill[Byte](80 * 1024)(7))
    val flaky = new SftpFileConnection(
      () => new DroppingTransport(failOnType = SftpProtocol.FXP_READ))
    val dst = Files.createTempDirectory("sftp_spec_droptmp")
    try {
      val r = FileDownloader(flaky, "/dropdl", dst.toString).run()
      assert(r.failed.map(_._1) === Seq("/dropdl/big.bin"), r)
      assert(r.failed.head._2.getMessage.contains("packet type 5"), r.failed.head._2)
      assert(VanishAfterListing.tempFiles(dst).isEmpty)
      assert(!Files.exists(dst.resolve("big.bin")))
    } finally {
      Files.delete(dir.resolve("big.bin")); Files.delete(dir)
    }
  }

  test("READDIR pages a 1000-file directory at 100 names and the client lists it all") {
    val dir = Files.createDirectory(root.resolve("many"))
    val names = (0 until 1000).map(i => f"f$i%04d.txt")
    names.foreach(n => Files.writeString(dir.resolve(n), "x"))
    val t = new CountingTransport
    try {
      assert(new SftpFileConnection(() => t).listDir("/many").map(_.name) === names)
      // 10 NAME pages, then EOF
      assert(t.frameTypes.count(_ == SftpProtocol.FXP_READDIR) === 11)
    } finally {
      names.foreach(n => Files.delete(dir.resolve(n))); Files.delete(dir)
      t.close()
    }
  }

  test("a frame header claiming 2^31-1 bytes fails at once") {
    val bogusHeader = Array(0x7f, 0xff, 0xff, 0xff, SftpProtocol.FXP_NAME).map(_.toByte)
    val conn = new SftpFileConnection(() => scripted(Seq(version), bogusHeader))
    val e = intercept[java.io.IOException](conn.check())
    assert(e.getMessage.contains("2147483647"), e.getMessage)
  }

  test("a NAME reply truncated mid-string fails with an IOException") {
    import SftpProtocol.PacketBuilder
    val handle = (SftpProtocol.FXP_HANDLE, new PacketBuilder().u32(1).string("h"))
    // one entry whose name claims 100 bytes; 3 follow
    val truncated = (SftpProtocol.FXP_NAME,
      new PacketBuilder().u32(2).u32(1).u32(100).raw("abc".getBytes, 0, 3))
    val conn = new SftpFileConnection(
      () => scripted(Seq(version, handle, truncated), Array.emptyByteArray))
    val e = intercept[java.io.IOException](conn.listDir("/"))
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }

  test("each client frame crosses the transport as exactly one write") {
    val t = new CountingTransport
    val conn = new SftpFileConnection(() => t)
    val loc = Files.createTempDirectory("sftp_spec_count")
    try {
      conn.check()
      conn.stat("/top.csv")
      conn.listDir("/sub")
      conn.downloadFile("/big.bin", loc.resolve("big.bin"))
      conn.uploadFile(loc.resolve("big.bin"), "/counted.bin")
      conn.removeFile("/counted.bin")
      val types = t.frameTypes
      assert(!types.contains(-1), s"a write carried a partial frame: $types")
      assert(types.head === SftpProtocol.FXP_INIT)
      assert(Set(SftpProtocol.FXP_READ, SftpProtocol.FXP_WRITE).subsetOf(types.toSet))
    } finally t.close()
  }

  test("100 sequential STATs over loopback finish in under 2 s") {
    c.check() // handshake outside the timed loop
    val t0 = System.nanoTime()
    (1 to 100).foreach(_ => c.stat("/top.csv"))
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(seconds < 2.0, f"100 STATs took $seconds%.2f s")
  }

  test("FileUploader(ReplaceFile) twice, then FileMover: every file " +
       "successful, no temp file left") {
    VanishAfterListing.assertUploadTwiceThenMove(c, root.resolve("rt"), "/rt")
  }
}
