package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: sanctioned artifacts are built only through
  * [[Caches.ArtifactMemo]], so the artifact lifecycle has one idiom. A
  * hand-built memo map or a direct sanction outside `core/Caches.scala`
  * fails here.
  */
class ArtifactIdiomSpec extends AnyFunSuite {
  test("no hand-built artifact cache or direct sanction outside Caches") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val caches = root.resolve("graft/core/Caches.scala")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != caches)
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("registerArtifactCache") ||
                line.contains("Caches.sanction(") =>
              s"${root.relativize(p)}:${i + 1}: ${line.trim}"
          }
        }.toList
      finally stream.close()
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
