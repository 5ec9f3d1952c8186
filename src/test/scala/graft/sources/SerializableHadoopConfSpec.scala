package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.tools.MiniS3

/** Tasks get the session's Hadoop conf as plain key/value pairs
  * (SerializableHadoopConf). What a task decodes must be exactly what
  * `Configuration.readFields` would rebuild from `Configuration.write`,
  * and a key changed between two queries must reach the second query's
  * readers.
  */
class SerializableHadoopConfSpec extends AnyFunSuite with SharedSpark {

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Java serialization, as a task's closure takes it. */
  private def roundTrip(c: Configuration): Configuration = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(new SerializableHadoopConf(c))
    out.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf].value
  }

  private def viaReadFields(c: Configuration): Configuration = {
    val buf = new org.apache.hadoop.io.DataOutputBuffer()
    c.write(buf)
    val back = new Configuration(false)
    back.readFields(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(buf.getData, 0, buf.getLength)))
    back
  }

  /** Set `kvs` on the session's hadoopConfiguration for `body`, then restore. */
  private def withHadoopConf[T](kvs: (String, String)*)(body: Configuration => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = kvs.map { case (k, _) => k -> Option(conf.getRaw(k)) }
    try { kvs.foreach { case (k, v) => conf.set(k, v) }; body(conf) }
    finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("a session's hadoopConfiguration decodes to the pairs Configuration.readFields yields") {
    // a copy of the live conf, so the keys set here stay out of other suites
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val long = "αβγ-" * 20000 // 140k UTF-8 bytes: past writeUTF's 64 KiB cap
    assert(long.getBytes("UTF-8").length > 65535)
    conf.set("graft.test.runtime", "set-at-runtime")
    conf.set("graft.test.unicode", "Zürich ∑ 日本 𝄞")
    conf.set("graft.test.empty", "")
    conf.set("graft.test.long", long)
    conf.set("dfs.df.interval", "12345") // deprecated for fs.df.interval
    val decoded = roundTrip(conf)
    val expected = pairs(viaReadFields(conf))
    assert(expected.size > 100, "expected a live session conf")
    assert(pairs(decoded) == expected)
    assert(decoded.get("graft.test.runtime") == "set-at-runtime")
    assert(decoded.get("graft.test.unicode") == "Zürich ∑ 日本 𝄞")
    assert(decoded.getRaw("graft.test.empty") == "")
    assert(decoded.get("graft.test.long") == long)
    assert(decoded.get("fs.df.interval") == "12345")
    assert(decoded.get("dfs.df.interval") == "12345")
    // decoding adds no defaults beyond what was shipped
    assert(pairs(roundTrip(new Configuration(false))).isEmpty)
  }

  /** A bgzipped VCF of `n` chr1 records. */
  private def vcfGz(n: Int): Array[Byte] = {
    val data = new java.io.ByteArrayOutputStream()
    val w = new BgzfWriter(data)
    w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
      .getBytes("US-ASCII"))
    (0 until n).foreach { i =>
      w.write(s"chr1\t${i * 10 + 1}\t.\tA\tG\t50\tPASS\tAC=1\n".getBytes("US-ASCII"))
    }
    w.finish()
    data.toByteArray
  }

  /** Two MiniS3 servers, `a` then `b`, with `fs.s3.*` aimed at `a` for
    * `body`; `body` gets the session conf and a hook that stops `a`.
    */
  private def withTwoEndpoints(aObj: Array[Byte], bObj: Array[Byte])(
      body: (Configuration, MiniS3, () => Unit) => Unit): Unit = {
    val a = new MiniS3().start()
    val b = new MiniS3().start()
    var aUp = true
    try {
      a.put("graft-test", "calls/calls.vcf.gz", aObj)
      b.put("graft-test", "calls/calls.vcf.gz", bObj)
      withHadoopConf(
          "fs.s3.impl" -> classOf[graft.sources.s3.S3HttpFileSystem].getName,
          "fs.s3.impl.disable.cache" -> "true",
          "fs.s3.endpoint" -> a.endpoint) { conf =>
        body(conf, b, () => { a.stop(); aUp = false })
      }
    } finally { if (aUp) a.stop(); b.stop() }
  }

  test("an endpoint changed between two queries reaches the second query's readers") {
    withTwoEndpoints(vcfGz(100), vcfGz(250)) { (conf, b, stopA) =>
      def count(): Long = spark.read.format("vcf").load("s3://graft-test/calls").count()
      assert(count() == 100)
      // with `a` down, a reader shipped the old endpoint fails the query
      stopA()
      conf.set("fs.s3.endpoint", b.endpoint)
      assert(count() == 250)
    }
  }

  test("an endpoint changed between two actions on one DataFrame reaches the second action") {
    // the same bytes on both servers: the second action reuses the first's
    // planned partitions, so only where the readers connect differs
    val vcf = vcfGz(100)
    withTwoEndpoints(vcf, vcf) { (conf, b, stopA) =>
      val df = spark.read.format("vcf").load("s3://graft-test/calls").select("pos")
      assert(df.collect().length == 100)
      stopA()
      conf.set("fs.s3.endpoint", b.endpoint)
      assert(df.collect().length == 100)
    }
  }
}
