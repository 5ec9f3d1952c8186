package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.sources.formats.FastaFormat
import graft.tools.MiniS3

/** The same tree listed on local disk (per-directory walk) and on the
  * in-process S3 server (one flat object listing per root) must give the
  * same files, partition columns and partition values, whatever the root
  * shape and the filtering options.
  */
class ListingParitySpec extends AnyFunSuite with SharedSpark {

  private def gz(text: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(text.getBytes(US_ASCII)); out.close()
    bos.toByteArray
  }

  private val record = ">s d\nACGT\n".getBytes(US_ASCII)

  /** Relative path -> bytes; a path ending in '/' is an empty directory. */
  private val tree: Seq[(String, Array[Byte])] = Seq(
    "loose.fasta" -> record,
    "notes.txt" -> record,
    "a=1/b=x/one.fasta" -> record,
    "a=1/b=x/two.fa" -> record,
    "a=1/b=y/three.fasta.gz" -> gz(">s d\nACGT\n"),
    "a=2/four.fasta" -> record,
    "a=2/_hidden.fasta" -> record,
    "a=2/.dot.fasta" -> record,
    "a=2/zero.fasta" -> Array.emptyByteArray,
    "x/a=3/five.faa" -> record,
    "c=9/" -> Array.emptyByteArray)

  private def localTree(): String = {
    val root = graft.TestTmp.dir("graft_parity").resolve("tree")
    tree.foreach { case (rel, bytes) =>
      val p = root.resolve(rel)
      if (rel.endsWith("/")) java.nio.file.Files.createDirectories(p)
      else {
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, bytes)
      }
    }
    root.toString
  }

  private def withS3Tree(f: String => Unit): Unit = {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    tree.foreach { case (rel, bytes) => s3.put("graft-test", s"tree/$rel", bytes) }
    try f("s3://graft-test/tree") finally s3.stop()
  }

  /** (relative file, partition values) rows and the partition columns. */
  private def listed(root: String, opts: Map[String, String])
      : (Seq[(String, Seq[String])], Seq[String]) = {
    val (files, cols) = new GraftTable(FastaFormat, opts + ("path" -> root)).listNow()
    (files.map { case (st, vals) =>
      st.getPath.toString.split("/tree/", 2)(1) -> vals.toSeq
    }, cols)
  }

  private val roots: Seq[String => String] = Seq(
    r => r, r => s"$r/a=1/b=x/one.fasta", r => s"$r/a=*", r => s"$r/x")
  private val optionSets: Seq[Map[String, String]] = Seq(
    Map.empty, Map("compression" -> "none"), Map("fileextension" -> "fa"))

  test("local walk and flat S3 listing agree on files, columns and values") {
    val local = localTree()
    withS3Tree { s3Root =>
      for (root <- roots; opts <- optionSets) {
        val want = listed(root(local), opts)
        val got = listed(root(s3Root), opts)
        assert(got == want, s"root ${root("<tree>")}, options $opts")
      }
      // the directory root sees the whole tree, the empty `c=9` included
      val (files, cols) = listed(s3Root, Map.empty)
      assert(cols == Seq("a", "c", "b"))
      assert(files.map(_._1) == Seq("a=1/b=x/one.fasta", "a=1/b=x/two.fa",
        "a=1/b=y/three.fasta.gz", "a=2/four.fasta", "loose.fasta", "x/a=3/five.faa"))
      assert(files.find(_._1 == "a=2/four.fasta").get._2 == Seq("2", null, null))
    }
  }

  test("a missing literal root still fails with 'path does not exist'") {
    val local = localTree()
    withS3Tree { s3Root =>
      Seq(s"$local/nope", s"$s3Root/nope").foreach { missing =>
        val e = intercept[Exception](spark.read.format("fasta").load(missing).count())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(msgs.contains("path does not exist"), msgs)
      }
    }
  }
}
