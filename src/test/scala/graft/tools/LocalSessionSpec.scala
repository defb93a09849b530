package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class LocalSessionSpec extends AnyFunSuite {

  /** (file, line) for every non-comment line of src/main/scala that
   * contains `needle`. */
  private def codeLines(needle: String): Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.map(_.trim)
          .filterNot(l => l.startsWith("//") || l.startsWith("*") ||
            l.startsWith("/*"))
          .filter(_.contains(needle)).map(f -> _)
      }
    finally files.close()
  }

  test("LocalSession holds the only SparkSession.builder in src/main") {
    val hits = codeLines("SparkSession.builder")
    val stray = hits.filterNot(_._1.getFileName.toString == "LocalSession.scala")
    assert(stray.isEmpty, stray.map { case (f, l) => s"$f: $l" }.mkString("\n"))
    assert(hits.size == 1)
  }
}
