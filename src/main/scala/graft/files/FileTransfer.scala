package graft.files

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException, Paths}

import scala.util.{Failure, Success}

import graft.core.{FileListHwm, FileMTimeHwm, HwmStrategy, Strategy}
import graft.util.WorkerPool

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

/** The per-file step of [[FileDownloader]], [[FileUploader]] and
  * [[FileMover]] (reference file_downloader.py:830-878 and its uploader
  * and mover twins). `put` lands one walked file at a path of `dest`:
  *  - each file keeps its path relative to `sourceRoot` under `targetRoot`;
  *  - `ReplaceEntireDirectory` clears `targetRoot` once, before any file;
  *  - each distinct target directory gets one `mkdirs`, before the pool;
  *  - the target is STATed only under `Error` and `Ignore`;
  *  - a copy (`viaTemp`) lands at `<dir>/.<name>.tmp` and is renamed over
  *    the target (`renameFile` replaces), so readers never see a partial
  *    file; a move lands on the target directly;
  *  - `put` returns false when the operator found its source gone since
  *    the walk, having written nothing: the file is `missing`. Only the
  *    operator can tell that, so every exception is a failure, a target
  *    side not-found (an upload refused with a 550) included;
  *  - a failed copy deletes its temp file, and a cleanup error rides on
  *    the cause as suppressed;
  *  - `finish` runs after a file lands (delete the source, record it). */
private object TransferEngine {
  def run(files: Seq[RemoteEntry], sourceRoot: String, targetRoot: String,
          dest: FileConnection, workers: Int, ifExists: FileIfExists,
          viaTemp: Boolean, finish: RemoteEntry => Unit = _ => ())
         (put: (RemoteEntry, String) => Boolean): FileTransferResult = {
    if (ifExists == FileIfExists.ReplaceEntireDirectory && dest.exists(targetRoot))
      dest.removeDir(targetRoot, recursive = true)
    val base = sourceRoot.stripSuffix("/")
    val targets = files.map(e =>
      s"${targetRoot.stripSuffix("/")}/${e.path.stripPrefix(base).stripPrefix("/")}")
    (targetRoot +: targets.map(parent)).distinct.foreach(dest.mkdirs)
    val checkTarget = ifExists == FileIfExists.Error || ifExists == FileIfExists.Ignore
    val outcomes = WorkerPool.run(files.zip(targets), workers) { case (e, target) =>
      if (checkTarget && dest.exists(target)) {
        if (ifExists == FileIfExists.Ignore) ("skipped", e.path)
        else throw new IllegalStateException(s"target $target already exists")
      } else {
        val cut = target.lastIndexOf('/') + 1
        val landing =
          if (viaTemp) s"${target.substring(0, cut)}.${target.substring(cut)}.tmp" else target
        val found =
          try {
            val found = put(e, landing)
            if (found && viaTemp) dest.renameFile(landing, target)
            found
          } catch {
            case t: Throwable if viaTemp =>
              try dest.removeFile(landing) catch {
                case _: NoSuchFileException | _: FileNotFoundException => // never written
                case c: Throwable => t.addSuppressed(c)
              }
              throw t
          }
        if (found) { finish(e); ("ok", target) } else ("missing", e.path)
      }
    }
    val zipped = files.zip(outcomes)
    def tagged(tag: String) = zipped.collect { case (_, Success((`tag`, p))) => p }
    FileTransferResult(tagged("ok"), zipped.collect { case (e, Failure(t)) => (e.path, t) },
      tagged("skipped"), tagged("missing"))
  }

  private def parent(path: String): String = path.lastIndexOf('/') match {
    case 0 => "/"
    case i => path.substring(0, i)
  }
}

/** Remote FS → local FS bulk copy: walk + filter + limit + HWM + the
  * shared [[TransferEngine]].
  *
  * Port of reference onetl/file/file_downloader/file_downloader.py:
  *  - files land through a temp file renamed over the target (:865-878);
  *  - a listed file that is gone by the time it is fetched is `missing`,
  *    told apart by the connection's not-found exception, not a STAT;
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
    val transferred = new java.util.concurrent.ConcurrentLinkedQueue[RemoteEntry]()
    try {
      TransferEngine.run(files, sourcePath, targetPath, new LocalFileConnection,
        workers, ifExists, viaTemp = true, finish = e => {
          if (deleteSource) connection.removeFile(e.path)
          transferred.add(e)
        }) { (e, landing) =>
        try { connection.downloadFile(e.path, Paths.get(landing)); true }
        catch {
          // the connection's not-found for a source gone since the walk
          case _: NoSuchFileException | _: FileNotFoundException =>
            Files.deleteIfExists(Paths.get(landing))
            false
        }
      }
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

  def run(): FileTransferResult =
    TransferEngine.run(viewFiles(), localPath, targetPath, connection, workers,
      ifExists, viaTemp = true, finish = e => if (deleteLocal) local.removeFile(e.path)) {
      (e, landing) =>
        val source = Paths.get(e.path)
        // a local check: an absent source must not open a remote temp file
        Files.exists(source) && { connection.uploadFile(source, landing); true }
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
    // clearing a directory that holds the source would delete the source
    require(ifExists != FileIfExists.ReplaceEntireDirectory ||
      !Paths.get(sourcePath).normalize().startsWith(Paths.get(targetPath).normalize()),
      s"ReplaceEntireDirectory: target $targetPath holds the source $sourcePath")
    TransferEngine.run(viewFiles(), sourcePath, targetPath, connection, workers,
      ifExists, viaTemp = false) { (e, target) =>
      // one STAT: not every connection's renameFile reports an absent
      // source as a typed not-found
      connection.exists(e.path) && { connection.renameFile(e.path, target); true }
    }
  }
}
