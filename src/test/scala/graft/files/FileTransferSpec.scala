package graft.files

import java.nio.file.{Files, Paths}
import java.time.Instant

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

class FiltersLimitsSpec extends AnyFunSuite {
  private def e(path: String, size: Long = 10,
                mtime: Instant = Instant.parse("2024-06-01T00:00:00Z")) =
    RemoteEntry(path, PathStat(size, mtime), isDir = false)

  test("glob matches file name only") {
    assert(Glob("*.csv").matches(e("/data/a/x.csv")))
    assert(!Glob("*.csv").matches(e("/data/a/x.json")))
  }
  test("regexp is case-insensitive search on path") {
    assert(Regexp("DATA/.*\\.csv").matches(e("/data/a/x.csv")))
  }
  test("excludeDir prunes subtree") {
    val f = ExcludeDir("/data/tmp")
    assert(f.prunesDir("/data/tmp/sub"))
    assert(!f.matches(e("/data/tmp/x.csv")))
    assert(f.matches(e("/data/ok/x.csv")))
  }
  test("size + mtime ranges") {
    assert(FileSizeRange(min = Some(5), max = Some(15)).matches(e("/x", size = 10)))
    assert(!FileSizeRange(min = Some(11)).matches(e("/x", size = 10)))
    assert(FileModifiedTime(since = Some(Instant.parse("2024-01-01T00:00:00Z")))
      .matches(e("/x")))
    assert(!FileModifiedTime(until = Some(Instant.parse("2024-01-01T00:00:00Z")))
      .matches(e("/x")))
  }
  test("file HWM filter drops covered files") {
    val hwm = FileListHwm("h", "d", value = Set("/a/seen.csv"))
    assert(!FileHwmFilter(hwm).matches(e("/a/seen.csv")))
    assert(FileHwmFilter(hwm).matches(e("/a/new.csv")))
  }
  test("limits stop the walk and report reached") {
    val l = MaxFilesCount(2)
    l.reset()
    assert(!l.stopsAt(e("/1")) && !l.stopsAt(e("/2")) && l.stopsAt(e("/3")))
    assert(l.reached)
    val t = TotalFilesSize(25)
    t.reset()
    assert(!t.stopsAt(e("/1", size = 10)) && !t.stopsAt(e("/2", size = 10)))
    assert(t.stopsAt(e("/3", size = 10)) && t.reached)
  }
}

class FileTransferSpec extends AnyFunSuite {
  private def mkTree(root: String): Unit = {
    Files.createDirectories(Paths.get(root, "nested"))
    Files.createDirectories(Paths.get(root, "exclude_me"))
    Files.write(Paths.get(root, "a.csv"), "1,2\n".getBytes)
    Files.write(Paths.get(root, "b.csv"), "3,4\n".getBytes)
    Files.write(Paths.get(root, "c.json"), "{}\n".getBytes)
    Files.write(Paths.get(root, "nested", "d.csv"), "5,6\n".getBytes)
    Files.write(Paths.get(root, "exclude_me", "e.csv"), "7,8\n".getBytes)
  }
  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("walk applies filters during traversal; ExcludeDir prunes") {
    val src = tmp("walk"); mkTree(src)
    val conn = new LocalFileConnection
    val (files, stopped) = conn.walk(src,
      filters = Seq(Glob("*.csv"), ExcludeDir(s"$src/exclude_me")))
    assert(files.map(_.name).sorted == Seq("a.csv", "b.csv", "d.csv"))
    assert(!stopped)
    val (limited, hit) = conn.walk(src, Seq(Glob("*.csv")), Seq(MaxFilesCount(2)))
    assert(limited.size == 2 && hit)
  }

  test("downloader: structure preserved, atomicity temp files cleaned, result quadrant") {
    val src = tmp("dl-src"); mkTree(src)
    val dst = tmp("dl-dst")
    val r = FileDownloader(new LocalFileConnection, src, dst,
      filters = Seq(Glob("*.csv"), ExcludeDir(s"$src/exclude_me")),
      workers = 4, ifExists = FileIfExists.ReplaceFile).run()
    assert(r.successful.size == 3 && r.failed.isEmpty && r.missing.isEmpty)
    assert(Files.exists(Paths.get(dst, "nested", "d.csv")))
    // no temp litter left behind by the atomic-rename protocol
    val leftovers = Files.walk(Paths.get(dst)).filter(_.toString.endsWith(".tmp")).count()
    assert(leftovers == 0)
  }

  test("downloader ifExists: error marks failed, ignore skips") {
    val src = tmp("dl2-src"); mkTree(src)
    val dst = tmp("dl2-dst")
    val dl = FileDownloader(new LocalFileConnection, src, dst,
      filters = Seq(Glob("a.csv")), ifExists = FileIfExists.Error)
    assert(dl.run().successful.size == 1)
    val second = dl.run()
    assert(second.failed.size == 1 && second.successful.isEmpty)
    intercept[IllegalStateException](second.raiseIfFailed())
    val ignored = dl.copy(ifExists = FileIfExists.Ignore).run()
    assert(ignored.skipped.size == 1)
  }

  test("incremental download via FileListHwm: second run transfers nothing, new file only") {
    val src = tmp("inc-src"); mkTree(src)
    val dst = tmp("inc-dst")
    val store = new InMemoryHwmStore
    val dl = FileDownloader(new LocalFileConnection, src, dst,
      filters = Seq(Glob("*.csv")), ifExists = FileIfExists.ReplaceFile,
      hwmName = Some("dl.files"))
    val r1 = Strategy.using(new IncrementalStrategy(store = store)) { dl.run() }
    assert(r1.successful.size == 4)
    val r2 = Strategy.using(new IncrementalStrategy(store = store)) { dl.run() }
    assert(r2.isEmpty, s"second run must transfer nothing: $r2")
    Files.write(Paths.get(src, "fresh.csv"), "9,9\n".getBytes)
    val r3 = Strategy.using(new IncrementalStrategy(store = store)) { dl.run() }
    assert(r3.successful.map(p => Paths.get(p).getFileName.toString) == Seq("fresh.csv"))
  }

  test("batch strategies and offset-incremental are rejected for files") {
    val src = tmp("guard-src"); mkTree(src)
    val dl = FileDownloader(new LocalFileConnection, src, tmp("guard-dst"),
      hwmName = Some("g.files"))
    intercept[IllegalArgumentException] {
      Strategy.using(SnapshotBatchStrategy(step = 10L)) { dl.run() }
    }
    intercept[IllegalArgumentException] {
      Strategy.using(new IncrementalStrategy(offset = Some(5L),
        store = new InMemoryHwmStore)) { dl.run() }
    }
  }

  test("HWM is saved even when some files fail (partial-failure contract)") {
    val src = tmp("pf-src"); mkTree(src)
    val dst = tmp("pf-dst")
    val store = new InMemoryHwmStore
    // pre-create a conflicting target so a.csv fails under Error mode
    Files.createDirectories(Paths.get(dst))
    Files.write(Paths.get(dst, "a.csv"), "old".getBytes)
    val dl = FileDownloader(new LocalFileConnection, src, dst,
      filters = Seq(Glob("*.csv")), ifExists = FileIfExists.Error,
      hwmName = Some("pf.files"))
    val r = Strategy.using(new IncrementalStrategy(store = store)) { dl.run() }
    assert(r.failed.size == 1)
    val saved = store.get("pf.files").get.asInstanceOf[FileListHwm]
    assert(r.successful.forall(p => saved.value.exists(_.endsWith(
      Paths.get(p).getFileName.toString))), "transferred files must be in saved HWM")
    assert(!saved.value.exists(_.endsWith("a.csv")), "failed file must NOT be in HWM")
  }

  test("uploader + mover through the same SPI") {
    val src = tmp("up-src"); mkTree(src)
    val remote = tmp("up-remote")
    val conn = new LocalFileConnection
    val up = FileUploader(conn, src, remote, filters = Seq(Glob("*.csv")),
      workers = 2, ifExists = FileIfExists.ReplaceFile).run()
    assert(up.successful.size == 4)
    assert(Files.exists(Paths.get(remote, "nested", "d.csv")))

    val moved = tmp("mv-dst")
    val mv = FileMover(conn, remote, moved, ifExists = FileIfExists.ReplaceFile).run()
    assert(mv.successful.size == 4)
    assert(!Files.exists(Paths.get(remote, "a.csv")), "source removed by move")
    assert(Files.exists(Paths.get(moved, "a.csv")))
  }

  test("downloader deleteSource removes remote originals") {
    val src = tmp("del-src"); mkTree(src)
    val dst = tmp("del-dst")
    FileDownloader(new LocalFileConnection, src, dst,
      filters = Seq(Glob("a.csv")), ifExists = FileIfExists.ReplaceFile,
      deleteSource = true).run()
    assert(!Files.exists(Paths.get(src, "a.csv")))
    assert(Files.exists(Paths.get(dst, "a.csv")))
  }

  test("hadoop FS connection over file:// behaves like local") {
    val src = tmp("hd-src"); mkTree(src)
    val conn = new HadoopFsConnection("file:///")
    val (files, _) = conn.walk(src, Seq(Glob("*.csv")))
    assert(files.size == 4)
    val dst = tmp("hd-dst")
    val r = FileDownloader(conn, src, dst, filters = Seq(Glob("*.csv")),
      ifExists = FileIfExists.ReplaceFile).run()
    assert(r.successful.size == 4)
  }

  test("transfer engine round trips: one STAT per file only where ifExists " +
       "needs it, one mkdirs per target directory") {
    val src = tmp("rec-src"); mkTree(src) // 4 csv files in 3 directories
    val remote = new RecordingConnection(new LocalFileConnection)
    def upload(ifExists: FileIfExists) = {
      remote.reset()
      val r = FileUploader(remote, src, tmp("rec-up"), filters = Seq(Glob("*.csv")),
        ifExists = ifExists).run()
      assert(r.successful.size == 4, r)
      remote
    }
    val up = upload(FileIfExists.ReplaceFile)
    assert(up.stats == 0 && up("mkdirs") == 3 && up("renameFile") == 4, up)
    val upErr = upload(FileIfExists.Error)
    assert(upErr.stats == 4 && upErr("mkdirs") == 3, upErr)
    val upIgn = upload(FileIfExists.Ignore)
    assert(upIgn.stats == 4 && upIgn("mkdirs") == 3, upIgn)

    def move(ifExists: FileIfExists) = {
      val from = tmp("rec-mv-src"); mkTree(from)
      remote.reset()
      val r = FileMover(remote, from, tmp("rec-mv-dst"), filters = Seq(Glob("*.csv")),
        ifExists = ifExists).run()
      assert(r.successful.size == 4, r)
      remote
    }
    val mv = move(FileIfExists.ReplaceFile)
    // the walk lists 3 directories; each file costs one source STAT
    assert(mv.stats == 4 && mv("mkdirs") == 3 && mv("listDir") == 3, mv)
    val mvErr = move(FileIfExists.Error)
    assert(mvErr.stats == 8 && mvErr("mkdirs") == 3, mvErr)
  }

  test("a failed upload leaves no remote temp file") {
    val src = tmp("fail-src"); mkTree(src)
    val remote = tmp("fail-remote")
    val refusing = new DelegatingConnection(new LocalFileConnection) {
      override def renameFile(source: String, target: String): Unit =
        throw new java.io.IOException(s"injected: rename $source refused")
    }
    val r = FileUploader(refusing, src, remote, filters = Seq(Glob("*.csv")),
      ifExists = FileIfExists.ReplaceFile).run()
    assert(r.failed.size == 4 && r.successful.isEmpty, r)
    assert(r.failed.forall(_._2.getMessage.startsWith("injected")))
    assert(VanishAfterListing.tempFiles(Paths.get(remote)).isEmpty)
  }

  test("an upload the target refuses as not found is failed, not missing") {
    val src = tmp("nf-src"); mkTree(src)
    val remote = tmp("nf-remote")
    // e.g. an FTPS STOR answered 550, or SFTP OPEN answered NO_SUCH_FILE
    val refusing = new DelegatingConnection(new LocalFileConnection) {
      override def uploadFile(local: java.nio.file.Path, target: String): Unit =
        throw new java.io.FileNotFoundException(s"injected: 550 $target")
    }
    val r = FileUploader(refusing, src, remote, filters = Seq(Glob("*.csv")),
      ifExists = FileIfExists.ReplaceFile).run()
    assert(r.failed.size == 4 && r.missing.isEmpty && r.successful.isEmpty, r)
    assert(VanishAfterListing.tempFiles(Paths.get(remote)).isEmpty)
  }

  test("FileMover(ReplaceEntireDirectory) refuses a target that holds the source") {
    val root = tmp("mvr-anc")
    val src = Paths.get(root, "in").toString; mkTree(src)
    Seq(root, s"$root/", src, s"$root/./in/..").foreach { target =>
      intercept[IllegalArgumentException] {
        FileMover(new LocalFileConnection, src, target,
          ifExists = FileIfExists.ReplaceEntireDirectory).run()
      }
    }
    assert(Files.exists(Paths.get(src, "a.csv")), "the source is untouched")
    val r = FileMover(new LocalFileConnection, src, s"${root}2",
      filters = Seq(Glob("a.csv")), ifExists = FileIfExists.ReplaceEntireDirectory).run()
    assert(r.successful.size == 1, r)
  }

  test("FileMover(ReplaceEntireDirectory) clears the target directory first") {
    val src = tmp("mvr-src"); mkTree(src)
    val dst = tmp("mvr-dst")
    Files.write(Paths.get(dst, "stale.csv"), "old".getBytes)
    val r = FileMover(new LocalFileConnection, src, dst, filters = Seq(Glob("a.csv")),
      ifExists = FileIfExists.ReplaceEntireDirectory).run()
    assert(r.successful == Seq(Paths.get(dst, "a.csv").toString), r)
    assert(!Files.exists(Paths.get(dst, "stale.csv")), "target cleared before the move")
    assert(Files.readString(Paths.get(dst, "a.csv")) == "1,2\n")
  }

  test("a source deleted after the walk is missing, not failed: local and hadoop FS") {
    val root = Paths.get(tmp("vanish-src"))
    VanishAfterListing.assertMissingNotFailed(new LocalFileConnection, root, "v",
      root.resolve("v").toString)
    VanishAfterListing.assertMissingNotFailed(new HadoopFsConnection("file:///"), root, "v",
      root.resolve("v").toString)
  }
}
