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
  *     nanos-as-long setting named anywhere else fails;
  *   - the DQL combine functions live in `ops/Combs.scala` and the fused
  *     histogram reduction's HDR switch in `ops/Aggrs.scala`, so a fold
  *     body or a `quotient` case in either DQL compiler, or the HDR
  *     setting named outside Aggrs, fails.
  */
class ArtifactIdiomSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** `file:line: text` of every line that `hit`s in the src/main files
    * whose path relative to src/main/scala is `inScope`
    */
  private def offenders(inScope: String => Boolean)(
      hit: String => Boolean): List[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val stream = Files.walk(root)
    try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        inScope(root.relativize(p).toString))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    finally stream.close()
  }

  test("no hand-built artifact cache or direct sanction outside Caches") {
    val found = offenders(_ != "graft/core/Caches.scala")(line =>
      line.contains("registerArtifactCache") ||
        line.contains("Caches.sanction("))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no events.ts encoding outside SeriesOps") {
    val found = offenders(_ != "graft/core/SeriesOps.scala")(line =>
      line.contains("TimestampNTZType") ||
        line.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no combine function or HDR switch outside ops/Combs and ops/Aggrs") {
    val folds = offenders(p =>
      p.startsWith("graft/dql/") || p.startsWith("graft/streaming/"))(line =>
      line.contains("acc - x") || line.contains("acc * x") ||
        line.contains("case \"quotient\""))
    assert(folds.isEmpty, folds.mkString("\n", "\n", ""))
    val hdr = offenders(_ != "graft/ops/Aggrs.scala")(
      _.contains("spark.graft.dql.histogram.hdr"))
    assert(hdr.isEmpty, hdr.mkString("\n", "\n", ""))
  }
}
