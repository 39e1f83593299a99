package graft.entry

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite

/** The class-init sweep of [[StreamQueries]] removes staged copies left
  * under a retired dir name and keeps those under a current one, even
  * when both are idle past the stale horizon.
  */
class StaleSweepSpec extends AnyFunSuite {
  private def idleDir(root: Path, name: String, mtimeMs: Long): Path = {
    val d = Files.createDirectories(root.resolve(name))
    val f = Files.write(d.resolve("events.parquet"), Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtimeMs))
    Files.setLastModifiedTime(d, FileTime.fromMillis(mtimeMs))
    d
  }

  test("a retired staged-dir prefix is swept, a current one stays") {
    val root = Files.createTempDirectory("graft-sweep-spec")
    try {
      val old = System.currentTimeMillis() - StreamQueries.StaleIdleMs - 60000L
      val retired = idleDir(root, "graft-stream-src-0123456789abcdef", old)
      val current = idleDir(root, "graft-stream-events-0123456789abcdef", old)
      val swept = StreamQueries.sweepStale(root, StreamQueries.SweptPrefixes)
      assert(swept == 1)
      assert(!Files.exists(retired))
      assert(Files.exists(current.resolve("events.parquet")))
    } finally {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally all.close()
    }
  }
}
