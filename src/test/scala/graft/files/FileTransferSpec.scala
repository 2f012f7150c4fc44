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

  test("a source deleted after the walk is missing, not failed: local and hadoop FS") {
    val root = Paths.get(tmp("vanish-src"))
    VanishAfterListing.assertMissingNotFailed(new LocalFileConnection, root, "v",
      root.resolve("v").toString)
    VanishAfterListing.assertMissingNotFailed(new HadoopFsConnection("file:///"), root, "v",
      root.resolve("v").toString)
  }
}
