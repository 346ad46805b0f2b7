package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

class ScratchDirsSpec extends AnyFunSuite {

  private def age(p: Path, hours: Long): Unit = Files.setLastModifiedTime(p,
    FileTime.fromMillis(System.currentTimeMillis() - hours * 3600L * 1000))

  test("stale sweep judges a dir by the newest mtime under it") {
    val root = Files.createTempDirectory("scratch-sweep")
    // stale throughout: goes
    val stale = Files.createDirectories(root.resolve("stale/part"))
    val staleFile = Files.write(stale.resolve("f.parquet"), Array[Byte](1))
    Seq(staleFile, stale, stale.getParent).foreach(age(_, 2))
    // old top level, fresh nested file: still in use, stays
    val live = Files.createDirectories(root.resolve("live/part"))
    Files.write(live.resolve("f.parquet"), Array[Byte](1))
    Seq(live, live.getParent).foreach(age(_, 2))
    // protected fixture base: stays however old
    val fixture = Files.createDirectories(root.resolve("q-base-1"))
    age(fixture, 2)

    ScratchDirs.sweepStale(root)
    assert(!Files.exists(root.resolve("stale")))
    assert(Files.exists(live.resolve("f.parquet")))
    assert(Files.exists(fixture))
  }
}
