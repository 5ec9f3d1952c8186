package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source files stay plain text: a literal NUL byte makes `grep` report
  * "binary file matches" instead of the file's lines, which once hid two
  * environment reads from a grep audit of src/main/scala. Write the byte
  * as a unicode escape inside the literal.
  */
class SourceTextSpec extends AnyFunSuite {
  test("no file under src/main/scala contains a NUL byte") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val files = java.nio.file.Files.walk(root)
    try {
      val withNul = files.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filter(p => java.nio.file.Files.readAllBytes(p).contains(0.toByte))
        .map(_.toString).toSeq
      assert(withNul.isEmpty, s"NUL byte in: ${withNul.mkString(", ")}")
    } finally files.close()
  }

  test("the engine packages read no env var or system property") {
    // readers, functions and streaming are configured through the session
    // (`spark.graft.*`, reader options), never through the process
    val reads = "sys\\.env|System\\.getenv|sys\\.props|System\\.getProperty".r
    val hits = Seq("sources", "functions", "streaming").flatMap { pkg =>
      val root = java.nio.file.Paths.get("src/main/scala/graft", pkg)
      assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if reads.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    }
    assert(hits.isEmpty, s"configuration read outside the session:\n${hits.mkString("\n")}")
  }
}
