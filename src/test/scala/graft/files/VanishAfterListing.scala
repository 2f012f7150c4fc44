package graft.files

import java.io.InputStream
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Test decorator: each listing deletes `victim` (a file of the served
  * tree, by its server-side path) right after it was listed, so a
  * transfer that walked that listing finds the source gone when it
  * fetches it. Every call delegates to `inner`. */
final class VanishAfterListing(inner: FileConnection, victim: Path) extends FileConnection {
  def check(): this.type = { inner.check(); this }
  def exists(path: String): Boolean = inner.exists(path)
  def isDir(path: String): Boolean = inner.isDir(path)
  def stat(path: String): PathStat = inner.stat(path)
  def listDir(path: String): Seq[RemoteEntry] = {
    val entries = inner.listDir(path)
    Files.deleteIfExists(victim)
    entries
  }
  def mkdirs(path: String): Unit = inner.mkdirs(path)
  def removeFile(path: String): Unit = inner.removeFile(path)
  def removeDir(path: String, recursive: Boolean): Unit = inner.removeDir(path, recursive)
  def renameFile(source: String, target: String): Unit = inner.renameFile(source, target)
  def downloadFile(remote: String, local: Path): Unit = inner.downloadFile(remote, local)
  def uploadFile(local: Path, remote: String): Unit = inner.uploadFile(local, remote)
  def open(path: String): InputStream = inner.open(path)
}

object VanishAfterListing {
  import org.scalatest.Assertions._

  /** Serve `kept.csv` and `gone.csv` from `<root>/<dir>`, which `conn`
    * names `sourceDir`; delete `gone.csv` right after the downloader's
    * walk lists it, download, and check the outcome: `gone.csv` is
    * missing, not failed, `kept.csv` landed, and no temp file is left.
    * The served directory is removed afterwards. */
  def assertMissingNotFailed(conn: FileConnection, root: Path, dir: String,
                             sourceDir: String): Unit = {
    val served = Files.createDirectories(root.resolve(dir))
    Files.writeString(served.resolve("kept.csv"), "k\n1\n")
    Files.writeString(served.resolve("gone.csv"), "k\n2\n")
    val target = Files.createTempDirectory("vanish_dst")
    try {
      val r = FileDownloader(
        new VanishAfterListing(conn, served.resolve("gone.csv")),
        sourceDir, target.toString).run()
      assert(r.failed.isEmpty, s"failed: ${r.failed}")
      assert(r.missing.size == 1 && r.missing.head.endsWith("/gone.csv"), r)
      assert(r.successful.size == 1 && r.successful.head.endsWith("/kept.csv"), r)
      assert(tempFiles(target).isEmpty)
    } finally {
      Files.deleteIfExists(served.resolve("kept.csv"))
      Files.deleteIfExists(served.resolve("gone.csv"))
      Files.deleteIfExists(served)
    }
  }

  /** The local files under `dir` whose names end in `.tmp`. */
  def tempFiles(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".tmp")).toList
    finally s.close()
  }
}
