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

  test("the engine packages ship the Hadoop conf one way: SerializableHadoopConf") {
    // Configuration.write/readFields (and Spark's SerializableConfiguration,
    // built on them) make every task re-parse the whole conf, gzip and all.
    // Sources are checked for the names, compiled classes for the calls.
    val named = "\\.readFields\\(|SerializableConfiguration".r
    val classes = java.nio.file.Paths.get(classOf[graft.sources.SerializableHadoopConf]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(java.nio.file.Files.isDirectory(classes), s"compiled classes not a directory: $classes")
    val hits = Seq("sources", "functions", "streaming").flatMap { pkg =>
      val src = java.nio.file.Paths.get("src/main/scala/graft", pkg)
      assert(java.nio.file.Files.isDirectory(src), s"run from the repository root: $src")
      val inSource = {
        val files = java.nio.file.Files.walk(src)
        try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if named.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
        finally files.close()
      }
      val inClasses = {
        val files = java.nio.file.Files.walk(classes.resolve(s"graft/$pkg"))
        try files.iterator().asScala.filter(_.toString.endsWith(".class"))
          .flatMap(p => confCalls(java.nio.file.Files.readAllBytes(p)).map(c => s"$p: $c"))
          .toList
        finally files.close()
      }
      inSource ++ inClasses
    }
    assert(hits.isEmpty, s"Hadoop conf shipped another way:\n${hits.mkString("\n")}")
  }

  /** Calls of Configuration.write/readFields in one class file. */
  private def confCalls(bytes: Array[Byte]): Seq[String] = {
    import org.apache.xbean.asm9.{ClassReader, ClassVisitor, MethodVisitor, Opcodes}
    val calls = Seq.newBuilder[String]
    new ClassReader(bytes).accept(new ClassVisitor(Opcodes.ASM9) {
      override def visitMethod(access: Int, name: String, desc: String, sig: String,
                               exceptions: Array[String]): MethodVisitor =
        new MethodVisitor(Opcodes.ASM9) {
          override def visitMethodInsn(op: Int, owner: String, callee: String, d: String,
                                       itf: Boolean): Unit =
            if (owner == "org/apache/hadoop/conf/Configuration" &&
                (callee == "write" || callee == "readFields"))
              calls += s"$name calls Configuration.$callee"
        }
    }, ClassReader.SKIP_DEBUG)
    calls.result()
  }
}
