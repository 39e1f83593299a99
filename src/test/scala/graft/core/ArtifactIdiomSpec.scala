package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scans for mechanisms that have one owner in src/main:
  *   - sanctioned artifacts are built only through [[Caches.ArtifactMemo]],
  *     so a hand-built memo map or a direct sanction outside
  *     `core/Caches.scala` fails;
  *   - the `events.ts` encodings are decoded and encoded only in
  *     `core/SeriesOps.scala`, so the TIMESTAMP_NTZ type or the
  *     nanos-as-long setting named anywhere else fails.
  */
class ArtifactIdiomSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** `file:line: text` of every src/main line outside `owner` that `hit`s */
  private def offenders(owner: String)(hit: String => Boolean): List[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val exempt = root.resolve(owner)
    val stream = Files.walk(root)
    try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != exempt)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    finally stream.close()
  }

  test("no hand-built artifact cache or direct sanction outside Caches") {
    val found = offenders("graft/core/Caches.scala")(line =>
      line.contains("registerArtifactCache") ||
        line.contains("Caches.sanction("))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no events.ts encoding outside SeriesOps") {
    val found = offenders("graft/core/SeriesOps.scala")(line =>
      line.contains("TimestampNTZType") ||
        line.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
