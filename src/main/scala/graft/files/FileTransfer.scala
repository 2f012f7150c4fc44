package graft.files

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import graft.core.{FileListHwm, FileMTimeHwm, HwmStrategy, Strategy}

/** Target-file-exists behavior (reference onetl/impl/file_exist_behavior.py). */
sealed trait FileIfExists
object FileIfExists {
  case object Error extends FileIfExists
  case object Ignore extends FileIfExists
  case object ReplaceFile extends FileIfExists
  case object ReplaceEntireDirectory extends FileIfExists
}

/** Per-transfer outcome quadrant (reference onetl/file/file_result.py:28-50). */
final case class FileTransferResult(successful: Seq[String] = Nil,
                                    failed: Seq[(String, Throwable)] = Nil,
                                    skipped: Seq[String] = Nil,
                                    missing: Seq[String] = Nil) {
  def raiseIfFailed(): this.type = {
    if (failed.nonEmpty || missing.nonEmpty)
      throw new IllegalStateException(
        s"${failed.size} failed, ${missing.size} missing; first: " +
          failed.headOption.map { case (p, e) => s"$p: ${e.getMessage}" }
            .orElse(missing.headOption).getOrElse(""))
    this
  }
  def isEmpty: Boolean =
    successful.isEmpty && failed.isEmpty && skipped.isEmpty && missing.isEmpty
}

object FileTransferResult {
  /** Sort each file's worker outcome — `("ok" | "skipped" | "missing",
    * path)` or a failure — into the result's four lists. */
  private[files] def collect(files: Seq[RemoteEntry],
                             outcomes: Seq[Try[(String, String)]]): FileTransferResult = {
    val zipped = files.zip(outcomes)
    FileTransferResult(
      successful = zipped.collect { case (_, Success(("ok", p))) => p },
      failed = zipped.collect { case (e, Failure(t)) => (e.path, t) },
      skipped = zipped.collect { case (_, Success(("skipped", p))) => p },
      missing = zipped.collect { case (_, Success(("missing", p))) => p })
  }
}

private object TransferPool {
  /** Bounded pool per run (reference file_downloader.py:795-828 uses a
    * ThreadPoolExecutor(workers)). */
  def run[A, B](items: Seq[A], workers: Int)(f: A => B): Seq[Try[B]] = {
    require(workers >= 1, "workers must be >= 1")
    if (items.isEmpty) return Nil
    val pool = Executors.newFixedThreadPool(math.min(workers, math.max(1, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.traverse(items)(a => Future(Try(f(a)))), Duration.Inf)
    finally pool.shutdown()
  }
}

/** Remote FS → local FS bulk copy: walk + filter + limit + HWM + thread
  * pool + temp-file atomicity + per-file statuses.
  *
  * Port of reference onetl/file/file_downloader/file_downloader.py:
  *  - files are downloaded to `<target>/.<name>.tmp` then atomically
  *    renamed (:865-878), so readers never see partial files;
  *  - `ifExists` ERROR/IGNORE/REPLACE_FILE/REPLACE_ENTIRE_DIRECTORY
  *    (options.py:35);
  *  - with a file HWM under an Incremental strategy, already-seen files are
  *    filtered out, and the HWM is updated AND SAVED in a `finally` even on
  *    partial failure (:771-775) — re-runs must not re-download files that
  *    did transfer;
  *  - `deleteSource` removes the remote file after a successful copy.
  */
final case class FileDownloader(connection: FileConnection,
                                sourcePath: String,
                                targetPath: String,
                                filters: Seq[FileFilter] = Nil,
                                limits: Seq[FileLimit] = Nil,
                                workers: Int = 1,
                                ifExists: FileIfExists = FileIfExists.Error,
                                deleteSource: Boolean = false,
                                hwmName: Option[String] = None,
                                hwmByMtime: Boolean = false) {

  private val local = new LocalFileConnection

  private def strategyHwm: Option[HwmStrategy] = Strategy.current match {
    case b: graft.core.BatchHwmStrategy =>
      // reference file_downloader.py:620: file HWMs have no batch window
      throw new IllegalArgumentException(
        s"file transfer cannot run under ${b.getClass.getSimpleName} — " +
          "file HWMs are not steppable; use IncrementalStrategy")
    case s: graft.core.IncrementalStrategy if s.offset.nonEmpty =>
      // reference file_downloader.py:624: offset is meaningless for files
      throw new IllegalArgumentException(
        "file transfer cannot use IncrementalStrategy(offset=...) — " +
          "file HWMs have no numeric window to widen")
    case s: HwmStrategy =>
      require(hwmName.nonEmpty,
        "incremental file transfer requires hwmName=... on the downloader")
      Some(s)
    case _ => None
  }

  /** Dry-run listing after filters/limits/HWM
    * (reference file_downloader.py:441-505). */
  def viewFiles(): Seq[RemoteEntry] = {
    val hwmFilter = strategyHwm.map { s =>
      val template =
        if (hwmByMtime) FileMTimeHwm(hwmName.get, sourcePath)
        else FileListHwm(hwmName.get, sourcePath)
      FileHwmFilter(s.fetchHwm(template))
    }
    val (files, _) = connection.walk(sourcePath, filters ++ hwmFilter, limits)
    files
  }

  def run(): FileTransferResult = {
    val strategy = strategyHwm
    val files = viewFiles()
    if (ifExists == FileIfExists.ReplaceEntireDirectory && local.exists(targetPath))
      local.removeDir(targetPath, recursive = true)
    Files.createDirectories(Paths.get(targetPath))

    val transferred = new java.util.concurrent.ConcurrentLinkedQueue[RemoteEntry]()
    try {
      val outcomes = TransferPool.run(files, workers) { e =>
        val rel = e.path.stripPrefix(sourcePath.stripSuffix("/")).stripPrefix("/")
        val dest = Paths.get(targetPath, rel)
        if (!connection.exists(e.path)) ("missing", e.path)
        else if (Files.exists(dest) && ifExists == FileIfExists.Ignore) ("skipped", e.path)
        else if (Files.exists(dest) && ifExists == FileIfExists.Error)
          throw new IllegalStateException(s"target $dest already exists")
        else {
          Files.createDirectories(dest.getParent)
          val tmp = dest.getParent.resolve("." + dest.getFileName + ".tmp")
          connection.downloadFile(e.path, tmp)
          Files.move(tmp, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          if (deleteSource) connection.removeFile(e.path)
          transferred.add(e)
          ("ok", dest.toString)
        }
      }
      FileTransferResult.collect(files, outcomes)
    } finally {
      // HWM updated+saved even on partial failure (reference :771-775).
      strategy.foreach { s =>
        val done = transferred.toArray(Array.empty[RemoteEntry])
        if (done.nonEmpty) {
          if (hwmByMtime) done.foreach(e => s.updateHwm(e.stat.mtime))
          else s.updateHwm(done.map(_.path).toSet)
        }
        s.saveHwm()
      }
    }
  }
}

/** local → remote mirror of the downloader
  * (reference onetl/file/file_uploader/file_uploader.py:51,158). */
final case class FileUploader(connection: FileConnection,
                              localPath: String,
                              targetPath: String,
                              filters: Seq[FileFilter] = Nil,
                              limits: Seq[FileLimit] = Nil,
                              workers: Int = 1,
                              ifExists: FileIfExists = FileIfExists.Error,
                              deleteLocal: Boolean = false) {

  private val local = new LocalFileConnection

  def viewFiles(): Seq[RemoteEntry] = local.walk(localPath, filters, limits)._1

  def run(): FileTransferResult = {
    val files = viewFiles()
    if (ifExists == FileIfExists.ReplaceEntireDirectory && connection.exists(targetPath))
      connection.removeDir(targetPath, recursive = true)
    connection.mkdirs(targetPath)
    val outcomes = TransferPool.run(files, workers) { e =>
      val rel = e.path.stripPrefix(localPath.stripSuffix("/")).stripPrefix("/")
      val dest = s"${targetPath.stripSuffix("/")}/$rel"
      val destDir = dest.substring(0, dest.lastIndexOf('/'))
      if (!local.exists(e.path)) ("missing", e.path)
      else if (connection.exists(dest) && ifExists == FileIfExists.Ignore) ("skipped", e.path)
      else if (connection.exists(dest) && ifExists == FileIfExists.Error)
        throw new IllegalStateException(s"target $dest already exists")
      else {
        connection.mkdirs(destDir)
        val tmp = s"$destDir/.${dest.substring(dest.lastIndexOf('/') + 1)}.tmp"
        connection.uploadFile(Paths.get(e.path), tmp)
        connection.renameFile(tmp, dest)
        if (deleteLocal) local.removeFile(e.path)
        ("ok", dest)
      }
    }
    FileTransferResult.collect(files, outcomes)
  }
}

/** remote → remote rename within one connection
  * (reference onetl/file/file_mover/file_mover.py:55,163, using
  * `rename_file`, file_connection.py:379). */
final case class FileMover(connection: FileConnection,
                           sourcePath: String,
                           targetPath: String,
                           filters: Seq[FileFilter] = Nil,
                           limits: Seq[FileLimit] = Nil,
                           workers: Int = 1,
                           ifExists: FileIfExists = FileIfExists.Error) {

  def viewFiles(): Seq[RemoteEntry] = connection.walk(sourcePath, filters, limits)._1

  def run(): FileTransferResult = {
    val files = viewFiles()
    connection.mkdirs(targetPath)
    val outcomes = TransferPool.run(files, workers) { e =>
      val rel = e.path.stripPrefix(sourcePath.stripSuffix("/")).stripPrefix("/")
      val dest = s"${targetPath.stripSuffix("/")}/$rel"
      val destDir = dest.substring(0, dest.lastIndexOf('/'))
      if (!connection.exists(e.path)) ("missing", e.path)
      else if (connection.exists(dest) && ifExists == FileIfExists.Ignore) ("skipped", e.path)
      else if (connection.exists(dest) && ifExists == FileIfExists.Error)
        throw new IllegalStateException(s"target $dest already exists")
      else {
        connection.mkdirs(destDir)
        if (connection.exists(dest)) connection.removeFile(dest)
        connection.renameFile(e.path, dest)
        ("ok", dest)
      }
    }
    FileTransferResult.collect(files, outcomes)
  }
}
