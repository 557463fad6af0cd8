package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-text rules no compiler checks. */
class SourceLintSpec extends AnyFunSuite {

  test("no scaladoc is stacked on another scaladoc in src/main/scala") {
    // a doc whose `*/` is followed (after blank lines) by another `/**`
    // documents nothing: only the second one attaches to the def below
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val stacked = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted.flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).toArray(Array.empty[String])
        lines.indices.filter(i => lines(i).trim.endsWith("*/")).flatMap { i =>
          val next = lines.indexWhere(_.trim.nonEmpty, i + 1)
          if (next > 0 && lines(next).trim.startsWith("/**")) Some(s"$p:${next + 1}") else None
        }
      }
    assert(stacked.isEmpty, stacked.mkString("stacked scaladocs at:\n", "\n", ""))
  }
}
