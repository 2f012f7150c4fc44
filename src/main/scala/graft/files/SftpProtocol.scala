package graft.files

import java.io.{EOFException, IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** SFTP version-3 packet codec (draft-ietf-secsh-filexfer-02 — the
  * dialect OpenSSH speaks). Shared by [[SftpFileConnection]] (client) and
  * [[MiniSftpServer]] (test double): both sides encode and decode the
  * SAME wire format, so the client is exercised against real SSH_FXP
  * packets, not a mock of itself.
  *
  * In production the byte stream runs inside an encrypted SSH channel
  * (what JSch / Apache MINA SSHD provide); that transport layer is the
  * [[SftpTransport]] seam. Only the crypto handshake is out of scope in
  * this container — the file-transfer protocol itself is fully real.
  */
object SftpProtocol {
  // packet types (§3)
  val FXP_INIT = 1; val FXP_VERSION = 2
  val FXP_OPEN = 3; val FXP_CLOSE = 4; val FXP_READ = 5; val FXP_WRITE = 6
  val FXP_LSTAT = 7; val FXP_OPENDIR = 11; val FXP_READDIR = 12
  val FXP_REMOVE = 13; val FXP_MKDIR = 14; val FXP_RMDIR = 15
  val FXP_REALPATH = 16; val FXP_STAT = 17; val FXP_RENAME = 18
  val FXP_STATUS = 101; val FXP_HANDLE = 102; val FXP_DATA = 103
  val FXP_NAME = 104; val FXP_ATTRS = 105

  // status codes (§7)
  val FX_OK = 0; val FX_EOF = 1; val FX_NO_SUCH_FILE = 2; val FX_FAILURE = 4

  // open pflags (§6.3)
  val FXF_READ = 0x01; val FXF_WRITE = 0x02; val FXF_CREAT = 0x08; val FXF_TRUNC = 0x10

  // ATTRS flag bits (§5)
  val ATTR_SIZE = 0x01; val ATTR_UIDGID = 0x02
  val ATTR_PERMISSIONS = 0x04; val ATTR_ACMODTIME = 0x08

  val S_IFDIR = 0x4000

  val ProtocolVersion = 3

  /** §5 file attributes; times are POSIX seconds as on the wire. */
  final case class Attrs(size: Option[Long] = None,
                         permissions: Option[Int] = None,
                         mtimeSec: Option[Long] = None) {
    def isDir: Boolean = permissions.exists(p => (p & 0xF000) == S_IFDIR)
  }

  /** Frame header: uint32 length (of type + payload), then the type byte. */
  private val HeaderSize = 5

  /** Largest frame length a peer may announce: OpenSSH's
    * `SFTP_MAX_MSG_LENGTH`. A larger claim is refused before anything is
    * allocated for it. */
  private val MaxFrameLength = 256 * 1024

  /** Growable big-endian packet writer mirroring the wire grammar:
    * byte / uint32 / uint64 / string (uint32 length + bytes). The first
    * `HeaderSize` bytes of its buffer are kept for the frame header,
    * which [[writePacket]] fills in, so a whole frame leaves in one write. */
  final class PacketBuilder {
    private var buf = new Array[Byte](256)
    private var end = HeaderSize

    /** Reserve `n` bytes at the end; returns their offset. */
    private def claim(n: Int): Int = {
      if (end + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, end + n))
      val at = end
      end += n
      at
    }
    private def put32(at: Int, v: Long): Unit = {
      buf(at) = (v >>> 24).toByte; buf(at + 1) = (v >>> 16).toByte
      buf(at + 2) = (v >>> 8).toByte; buf(at + 3) = v.toByte
    }

    // claim before touching `buf`: claiming may replace the array
    def byte(b: Int): this.type = { val at = claim(1); buf(at) = b.toByte; this }
    def u32(v: Long): this.type = { put32(claim(4), v); this }
    def u64(v: Long): this.type = u32(v >>> 32).u32(v)
    def string(s: String): this.type = bytes(s.getBytes(UTF_8))
    def bytes(b: Array[Byte]): this.type = u32(b.length).raw(b, 0, b.length)
    def raw(b: Array[Byte], off: Int, len: Int): this.type = {
      val at = claim(len); System.arraycopy(b, off, buf, at, len); this
    }
    def attrs(a: Attrs): this.type = {
      var flags = 0
      if (a.size.isDefined) flags |= ATTR_SIZE
      if (a.permissions.isDefined) flags |= ATTR_PERMISSIONS
      if (a.mtimeSec.isDefined) flags |= ATTR_ACMODTIME
      u32(flags)
      a.size.foreach(u64)
      a.permissions.foreach(p => u32(p))
      a.mtimeSec.foreach { m => u32(m); u32(m) } // atime, mtime
      this
    }

    /** Write the frame `uint32 length, byte type, payload` with ONE
      * `write`. Split writes cost a round trip each on TCP: Nagle holds
      * every segment after the first until the peer ACKs, and the peer
      * delays that ACK by up to ~40 ms. */
    private[SftpProtocol] def writeFrame(out: OutputStream, tpe: Int): Unit = {
      put32(0, end - HeaderSize + 1)
      buf(4) = tpe.toByte
      out.write(buf, 0, end)
      out.flush()
    }
  }

  /** Cursor over a received packet payload. A field that runs past the
    * payload is an IOException, never a zero-padded or partial value. */
  final class PacketReader(data: Array[Byte]) {
    private var pos = 0
    /** Offset of the next `n` bytes, which must lie inside the payload. */
    private def take(n: Long): Int = {
      if (n < 0 || n > remaining)
        throw new IOException(
          s"truncated SFTP packet: field of $n bytes at offset $pos, $remaining left")
      val at = pos
      pos += n.toInt
      at
    }
    def u32(): Long = {
      val at = take(4)
      ((data(at) & 0xffL) << 24) | ((data(at + 1) & 0xffL) << 16) |
        ((data(at + 2) & 0xffL) << 8) | (data(at + 3) & 0xffL)
    }
    def u64(): Long = (u32() << 32) | u32()
    def bytes(): Array[Byte] = {
      val n = u32()
      val at = take(n)
      java.util.Arrays.copyOfRange(data, at, pos)
    }
    def string(): String = new String(bytes(), UTF_8)
    def attrs(): Attrs = {
      val flags = u32().toInt
      val size = if ((flags & ATTR_SIZE) != 0) Some(u64()) else None
      if ((flags & ATTR_UIDGID) != 0) { u32(); u32() }
      val perms = if ((flags & ATTR_PERMISSIONS) != 0) Some(u32().toInt) else None
      val mtime = if ((flags & ATTR_ACMODTIME) != 0) { u32(); Some(u32()) } else None
      Attrs(size, perms, mtime)
    }
    def remaining: Int = data.length - pos
  }

  /** Send the packet `b` holds as frame type `tpe`, in one write. */
  def writePacket(out: OutputStream, tpe: Int, b: PacketBuilder): Unit =
    b.writeFrame(out, tpe)

  /** Read one framed packet: the header with one read, the payload with
    * one more. EOFException on orderly close; IOException on a length
    * outside `1..MaxFrameLength`, raised before the payload is allocated. */
  def readPacket(in: InputStream): (Int, Array[Byte]) = {
    val header = readExactly(in, HeaderSize)
    val len = new PacketReader(header).u32()
    if (len < 1 || len > MaxFrameLength)
      throw new IOException(
        s"SFTP frame length $len outside 1..$MaxFrameLength")
    (header(4) & 0xff, readExactly(in, len.toInt - 1))
  }

  private def readExactly(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    val got = in.readNBytes(b, 0, n)
    if (got < n) throw new EOFException(s"SFTP channel closed after $got of $n bytes")
    b
  }
}

/** The SSH transport seam: yields the byte streams of an open SFTP
  * subsystem channel. Production implementations wrap an encrypted SSH
  * session (reference sftp.py:50 rides paramiko the same way); the
  * in-container implementation is a loopback TCP socket to
  * [[MiniSftpServer]]. */
trait SftpTransport extends AutoCloseable {
  def input: InputStream
  def output: OutputStream
}

/** Plain-TCP transport — carries the SFTP subsystem over an unencrypted
  * socket (for the in-JVM test server; a real deployment substitutes an
  * SSH-channel-backed implementation with identical byte semantics). */
final class TcpSftpTransport(host: String, port: Int) extends SftpTransport {
  private val socket = new java.net.Socket(host, port)
  socket.setTcpNoDelay(true)
  val input: InputStream = socket.getInputStream
  val output: OutputStream = socket.getOutputStream
  def close(): Unit = socket.close()
}
