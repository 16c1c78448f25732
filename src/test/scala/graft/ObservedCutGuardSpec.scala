package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Observed aggregates go through `Snapshots.cutObserved`, whose cut is
  * eager by construction. A hand-written `Observation` read before any
  * action blocks forever, so no other main source may use one. */
class ObservedCutGuardSpec extends AnyFunSuite {
  private val raw = """\bObservation\b|\.observe\(""".r

  test("Observation / observe appear only in graph/Snapshots.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val allowed = root.resolve("graft/graph/Snapshots.scala")
    val walk = Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed)
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
      finally walk.close()
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
