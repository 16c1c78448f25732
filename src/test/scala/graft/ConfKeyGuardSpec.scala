package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Engine conf keys are a public surface: each one is a setting a
  * deployment can get wrong and a dial a spec must cover. A new
  * `spark.graft.*` key has to be added here on purpose; a value that
  * never needs changing is a constant instead. */
class ConfKeyGuardSpec extends AnyFunSuite {
  private val key = """"(spark\.graft\.[A-Za-z0-9_.]+)"""".r

  test("the spark.graft.* keys read under src/main/scala are exactly " +
    "the six engine knobs") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap((p: Path) => key.findAllMatchIn(Files.readString(p))
        .map(_.group(1)))
      .toSet
      finally walk.close()
    assert(found == Set(
      "spark.graft.graph.snapshotMemBytes",
      "spark.graft.graph.snapshotMemRows",
      "spark.graft.knn.maxExactBlock",
      "spark.graft.neardup.minMatchFrac",
      "spark.graft.rangeJoin.binWidth",
      "spark.graft.semantic.cellBudget"), found.toSeq.sorted.mkString("\n"))
  }
}
