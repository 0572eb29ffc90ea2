package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Keeps [[Materializer]] the one seam for reuse points: direct
  * `localCheckpoint(` / `.persist(` calls in the library are allowed
  * only at the sites that are not reuse points (loop state that cuts
  * lineage, scoped persist/unpersist pairs). Counts are per file, so
  * a new direct call anywhere — or an extra one in an allowed file —
  * fails here and belongs behind `Materializer` instead. */
class ReuseSeamSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Code occurrences of `token` per file (comments stripped), keyed
    * by the path under `src/main/scala`; files without one omitted. */
  private def counts(token: String): Map[String, Int] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map { f =>
      val code = new String(Files.readAllBytes(f), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      root.relativize(f).toString ->
        (code.split(Pattern.quote(token), -1).length - 1)
    }.filter(_._2 > 0).toMap
  }

  test("localCheckpoint( appears only in Materializer and loop state") {
    assert(counts("localCheckpoint(") == Map(
      // the default strategy (lazy and eager forms)
      "graft/Materializer.scala" -> 2,
      // the rank state: the initial ranks and the per-iteration cut
      "graft/graph/PageRank.scala" -> 2,
      // connectedComponents and connectedComponentsStars loop frames
      "graft/llm/Dedup.scala" -> 4))
  }

  test(".persist( appears only at the three scoped persist sites") {
    assert(counts(".persist(") == Map(
      // nearDuplicates' shingle frame, connectedComponents' edges
      "graft/llm/Dedup.scala" -> 2,
      // the per-micro-batch frame
      "graft/streaming/Publication.scala" -> 1))
  }
}
