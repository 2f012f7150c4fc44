package graft.files

import java.io.InputStream
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** Test base: every call is passed to `seen` by its method name, then
  * delegates to `inner`. */
class DelegatingConnection(inner: FileConnection) extends FileConnection {
  protected def seen(call: String): Unit = ()
  def check(): this.type = { seen("check"); inner.check(); this }
  def exists(path: String): Boolean = { seen("exists"); inner.exists(path) }
  def isDir(path: String): Boolean = { seen("isDir"); inner.isDir(path) }
  def stat(path: String): PathStat = { seen("stat"); inner.stat(path) }
  def listDir(path: String): Seq[RemoteEntry] = { seen("listDir"); inner.listDir(path) }
  def mkdirs(path: String): Unit = { seen("mkdirs"); inner.mkdirs(path) }
  def removeFile(path: String): Unit = { seen("removeFile"); inner.removeFile(path) }
  def removeDir(path: String, recursive: Boolean): Unit = {
    seen("removeDir"); inner.removeDir(path, recursive)
  }
  def renameFile(source: String, target: String): Unit = {
    seen("renameFile"); inner.renameFile(source, target)
  }
  def downloadFile(remote: String, local: Path): Unit = {
    seen("downloadFile"); inner.downloadFile(remote, local)
  }
  def uploadFile(local: Path, remote: String): Unit = {
    seen("uploadFile"); inner.uploadFile(local, remote)
  }
  def open(path: String): InputStream = { seen("open"); inner.open(path) }
}

/** Counts the calls made through it, by method name. */
final class RecordingConnection(inner: FileConnection) extends DelegatingConnection(inner) {
  private val counts = new ConcurrentHashMap[String, Int]()
  override protected def seen(call: String): Unit = counts.merge(call, 1, _ + _)
  def apply(call: String): Int = counts.getOrDefault(call, 0)
  /** STAT-like round trips: `exists`, `isDir` and `stat`. */
  def stats: Int = apply("exists") + apply("isDir") + apply("stat")
  def reset(): Unit = counts.clear()
  override def toString: String = counts.asScala.toSeq.sorted.mkString(", ")
}

/** Test decorator: each listing deletes `victim` (a file of the served
  * tree, by its server-side path) right after it was listed, so a
  * transfer that walked that listing finds the source gone when it
  * fetches it. Every call delegates to `inner`. */
final class VanishAfterListing(inner: FileConnection, victim: Path)
  extends DelegatingConnection(inner) {
  override def listDir(path: String): Seq[RemoteEntry] = {
    val entries = inner.listDir(path)
    Files.deleteIfExists(victim)
    entries
  }
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

  /** Upload a two-file tree (one file nested) to `<remoteDir>/up` twice
    * with `ReplaceFile`, the second time with new content, then move it
    * to `<remoteDir>/moved`. Every run must report every file successful,
    * the moved files must hold the second upload's content, and no temp
    * file may be left on the server. `served` is the server-side
    * directory `conn` names `remoteDir`; it is removed afterwards. */
  def assertUploadTwiceThenMove(conn: FileConnection, served: Path,
                                remoteDir: String): Unit = {
    val local = Files.createTempDirectory("roundtrip_src")
    Files.createDirectories(local.resolve("nested"))
    Files.writeString(local.resolve("nested/b.csv"), "k\n2\n")
    val up = FileUploader(conn, local.toString, s"$remoteDir/up",
      ifExists = FileIfExists.ReplaceFile)
    def allOk(r: FileTransferResult): Unit =
      assert(r.successful.size == 2 && r.failed.isEmpty && r.skipped.isEmpty &&
        r.missing.isEmpty, s"$r; failed: ${r.failed.map(_._2)}")
    try {
      Files.writeString(local.resolve("a.csv"), "k\n1\n")
      allOk(up.run())
      Files.writeString(local.resolve("a.csv"), "k\n1\n3\n")
      allOk(up.run())
      allOk(FileMover(conn, s"$remoteDir/up", s"$remoteDir/moved",
        ifExists = FileIfExists.ReplaceFile).run())
      assert(Files.readString(served.resolve("moved/a.csv")) == "k\n1\n3\n")
      assert(Files.readString(served.resolve("moved/nested/b.csv")) == "k\n2\n")
      assert(tempFiles(served).isEmpty, tempFiles(served))
    } finally {
      Seq(served, local).foreach { d =>
        if (Files.exists(d)) {
          val s = Files.walk(d)
          try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
          finally s.close()
        }
      }
    }
  }

  /** The local files under `dir` whose names end in `.tmp`. */
  def tempFiles(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".tmp")).toList
    finally s.close()
  }
}
