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
}
