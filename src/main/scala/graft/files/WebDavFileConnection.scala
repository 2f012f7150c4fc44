package graft.files

import java.io.{ByteArrayInputStream, FileNotFoundException, InputStream}
import java.net.{URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.time.Instant
import java.time.format.DateTimeFormatter

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element

/** WebDAV protocol client (reference onetl/connection/file_connection/
  * webdav.py:49) implemented directly over the JDK's `java.net.http.
  * HttpClient` — WebDAV is plain HTTP (RFC 4918), so unlike SFTP/Samba no
  * external driver library is needed and the whole stack runs live in
  * this container against [[MiniWebDavServer]].
  *
  * Method mapping mirrors the reference client's use of its webdav3
  * library: list → PROPFIND Depth 1, stat/exists → PROPFIND Depth 0,
  * download → GET, upload → PUT, mkdirs → MKCOL per missing segment,
  * remove → DELETE (one request for a whole tree), rename → MOVE with
  * Destination and `Overwrite: T`. Multistatus XML is parsed with
  * the JDK DOM parser (namespace-aware: properties live in the `DAV:`
  * namespace).
  *
  * Each call is one stateless HTTP round trip over a pooled keep-alive
  * connection — the right shape for driver-side transfer planning; bulk
  * byte movement still streams (GET/PUT bodies are not buffered beyond
  * the JDK client's internal chunks).
  */
final class WebDavFileConnection(host: String, port: Int,
                                 user: String, password: String,
                                 https: Boolean = false) extends RemoteFileConnection {
  private val base = s"${if (https) "https" else "http"}://$host:$port"
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .build()
  private val auth = "Basic " + java.util.Base64.getEncoder
    .encodeToString(s"$user:$password".getBytes(UTF_8))

  private def encodePath(path: String): String =
    path.split('/').map(seg =>
      URLEncoder.encode(seg, UTF_8).replace("+", "%20")).mkString("/")

  private def req(path: String): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(base + encodePath(
        if (path.startsWith("/")) path else "/" + path)))
      .header("Authorization", auth)

  private def send[T](r: HttpRequest, h: HttpResponse.BodyHandler[T]): HttpResponse[T] =
    client.send(r, h)

  private def expect[T](resp: HttpResponse[T], ok: Int*): HttpResponse[T] = {
    if (!ok.contains(resp.statusCode()))
      throw new java.io.IOException(
        s"WebDAV ${resp.request.method} ${resp.request.uri} -> ${resp.statusCode()}")
    resp
  }

  // ---- PROPFIND parsing ---------------------------------------------------

  private case class DavEntry(href: String, isDir: Boolean, size: Long, mtime: Instant)

  private def propfindRaw(path: String, depth: Int): HttpResponse[Array[Byte]] =
    send(req(path).method("PROPFIND",
        HttpRequest.BodyPublishers.noBody())
      .header("Depth", depth.toString).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def propfind(path: String, depth: Int): Seq[DavEntry] =
    parseMultistatus(expect(propfindRaw(path, depth), 207).body())

  private def parseMultistatus(body: Array[Byte]): Seq[DavEntry] = {
    val doc = WebDavFileConnection.secureParse(body)
    val responses = doc.getElementsByTagNameNS("DAV:", "response")
    (0 until responses.getLength).map { i =>
      val e = responses.item(i).asInstanceOf[Element]
      def text(tag: String): Option[String] = {
        val ns = e.getElementsByTagNameNS("DAV:", tag)
        if (ns.getLength == 0) None else Some(ns.item(0).getTextContent.trim)
      }
      val href = URLDecoder.decode(text("href").getOrElse(""), UTF_8)
      val isDir = e.getElementsByTagNameNS("DAV:", "collection").getLength > 0
      val size = text("getcontentlength").map(_.toLong).getOrElse(0L)
      val mtime = text("getlastmodified")
        .map(s => Instant.from(DateTimeFormatter.RFC_1123_DATE_TIME.parse(s)))
        .getOrElse(Instant.EPOCH)
      DavEntry(href, isDir, size, mtime)
    }
  }

  /** Only 404 means "not there". Mapping every failure to None (as an
    * earlier revision did) made auth failures and server errors read as
    * missing files — a 401 or 500 during a transfer plan would silently
    * SKIP files instead of failing the run. */
  private def statOpt(path: String): Option[DavEntry] = {
    val resp = propfindRaw(path, 0)
    resp.statusCode() match {
      case 207 => parseMultistatus(resp.body()).headOption
      case 404 => None
      case other => throw new java.io.IOException(
        s"WebDAV PROPFIND ${resp.request.uri} -> $other")
    }
  }

  // ---- FileConnection SPI -------------------------------------------------

  /** OPTIONS must advertise a DAV compliance class — a plain web server
    * answering 200 without it is not a WebDAV endpoint. */
  def check(): this.type = {
    val resp = send(req("/").method("OPTIONS",
      HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
    expect(resp, 200)
    require(resp.headers().firstValue("DAV").isPresent,
      s"$base does not advertise WebDAV compliance (no DAV header)")
    this
  }

  def exists(path: String): Boolean = statOpt(path).isDefined
  def isDir(path: String): Boolean = statOpt(path).exists(_.isDir)
  def stat(path: String): PathStat = {
    val e = statOpt(path).getOrElse(
      throw new java.io.IOException(s"not found: $path"))
    PathStat(e.size, e.mtime)
  }

  def listDir(path: String): Seq[RemoteEntry] = {
    val self = if (path.endsWith("/")) path else path + "/"
    propfind(path, 1)
      .filterNot(e => e.href == self || e.href == path || e.href == "/" && path == "/")
      .map { e =>
        val clean = e.href.stripSuffix("/")
        RemoteEntry(clean, PathStat(e.size, e.mtime), e.isDir)
      }
      .sortBy(_.path)
  }

  protected def mkdir(path: String): Unit =
    expect(send(req(path).method("MKCOL",
      HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding()), 201)

  protected def rmdir(path: String): Unit =
    if (listDir(path).nonEmpty) throw new java.io.IOException(s"directory not empty: $path")
    else removeFile(path)

  def removeFile(path: String): Unit =
    expect(send(req(path).DELETE().build(),
      HttpResponse.BodyHandlers.discarding()), 204)

  /** A recursive remove is one DELETE of the collection (RFC 4918 §9.6.1). */
  override def removeDir(path: String, recursive: Boolean): Unit =
    if (recursive) removeFile(path) else rmdir(path)

  def renameFile(source: String, target: String): Unit =
    expect(send(req(source).method("MOVE",
        HttpRequest.BodyPublishers.noBody())
      .header("Destination", encodePath(target))
      .header("Overwrite", "T").build(),
      HttpResponse.BodyHandlers.discarding()), 201, 204)

  /** Only a 200 body lands in `local`; a 404 is a `FileNotFoundException`. */
  def downloadFile(remote: String, local: Path): Unit = {
    val resp = send(req(remote).GET().build(), (info: HttpResponse.ResponseInfo) =>
      if (info.statusCode == 200) HttpResponse.BodySubscribers.ofFile(local)
      else HttpResponse.BodySubscribers.replacing(local))
    if (resp.statusCode() == 404)
      throw new FileNotFoundException(s"WebDAV GET ${resp.request.uri} -> 404")
    expect(resp, 200)
  }

  def uploadFile(local: Path, remote: String): Unit =
    expect(send(req(remote).PUT(
        HttpRequest.BodyPublishers.ofFile(local)).build(),
      HttpResponse.BodyHandlers.discarding()), 201, 204)

  def open(path: String): InputStream = {
    val resp = send(req(path).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() != 200) {
      resp.body().close()
      throw new java.io.IOException(s"GET $path -> ${resp.statusCode()}")
    }
    resp.body()
  }
}

object WebDavFileConnection {
  /** Hardened XML parse for SERVER-CONTROLLED multistatus bodies: doctype
    * declarations are rejected outright and external general/parameter
    * entities disabled, so a malicious or compromised WebDAV server cannot
    * mount XXE (local file read / SSRF) through a PROPFIND response. */
  private[files] def secureParse(body: Array[Byte]): org.w3c.dom.Document = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setFeature("http://xml.org/sax/features/external-general-entities", false)
    dbf.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    dbf.setXIncludeAware(false)
    dbf.setExpandEntityReferences(false)
    dbf.newDocumentBuilder().parse(new ByteArrayInputStream(body))
  }
}
