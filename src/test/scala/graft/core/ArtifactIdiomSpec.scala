package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
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
  *     setting named outside Aggrs, fails;
  *   - parquet tables are read only through `core/Tables.scala` (declared
  *     schema or catalog), so a `.read.parquet(` or `.read.schema(`
  *     anywhere else fails.
  */
class ArtifactIdiomSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path relative to src/main/scala, text) of the src/main files whose
    * relative path is `inScope`
    */
  private def sources(inScope: String => Boolean): List[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val stream = Files.walk(root)
    try stream.iterator.asScala
      .map(p => (p, root.relativize(p).toString))
      .filter { case (p, rel) => p.toString.endsWith(".scala") && inScope(rel) }
      .map { case (p, rel) =>
        (rel, new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      }.toList
    finally stream.close()
  }

  /** `file:line: text` of every line that `hit`s in the src/main files
    * whose path relative to src/main/scala is `inScope`
    */
  private def offenders(inScope: String => Boolean)(
      hit: String => Boolean): List[String] =
    sources(inScope).flatMap { case (rel, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if hit(line) => s"$rel:${i + 1}: ${line.trim}"
      }
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

  test("no parquet read outside core/Tables") {
    val read = """\.read\s*\.\s*(parquet|schema)\s*\(""".r
    // Bench's fixed-work calibration probes: their seconds are compared
    // across runs as a measure of box load alone, so each probe read
    // must do the same work every time — a bare read that infers its
    // schema, whatever the catalog holds
    val probes = Seq("def probeDf", "def shuffleW")
    val found = sources(_ != "graft/core/Tables.scala").flatMap {
      case (rel, text) =>
        val lines = text.linesIterator.toIndexedSeq
        read.findAllMatchIn(text).map { m =>
          val i = text.substring(0, m.start).count(_ == '\n')
          (i, lines(i).trim)
        }.collect { case (i, line) if !(rel == "graft/Bench.scala" &&
            probes.exists(line.startsWith)) => s"$rel:${i + 1}: $line" }
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
