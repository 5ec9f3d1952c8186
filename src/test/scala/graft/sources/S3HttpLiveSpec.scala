package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.tools.MiniS3

/** LIVE object-store coverage: Spark reads/writes `s3://bucket/key` through
  * graft.sources.s3.S3HttpFileSystem speaking the real S3 REST protocol over
  * real HTTP sockets to an in-process server (graft.tools.MiniS3) — the
  * sandbox analog of the reference's localstack suites
  * (slt/fasta-scan-s3-tests.slt, slt/cram-remote-tests.slt). Unlike the
  * FakeS3AFileSystem contract tests this exercises ranged GETs, ListObjectsV2,
  * multipart upload and the COPY+DELETE rename on the wire.
  */
class S3HttpLiveSpec extends AnyFunSuite with SharedSpark {
  private val fx = "/root/reference/exon/exon-core/test-data/datasources"

  private def withS3(f: MiniS3 => Unit): Unit = {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try f(s3) finally s3.stop()
  }

  private def load(s3: MiniS3, bucket: String, key: String, localPath: String): Unit =
    s3.put(bucket, key, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(localPath)))

  test("live s3: plain FASTA scan over HTTP") {
    withS3 { s3 =>
      load(s3, "graft-test", "fasta/test.fasta", s"$fx/fasta/test.fasta")
      val n = spark.read.format("fasta").load("s3://graft-test/fasta/test.fasta").count()
      assert(n == 2)
      assert(s3.requests.stream().anyMatch(r => r._1 == "GET" && r._2.endsWith("test.fasta")))
    }
  }

  test("live s3: .fai region query issues ranged GETs, not a full scan") {
    withS3 { s3 =>
      load(s3, "graft-test", "fasta-indexed/test.fasta", s"$fx/fasta-indexed/test.fasta")
      load(s3, "graft-test", "fasta-indexed/test.fasta.fai", s"$fx/fasta-indexed/test.fasta.fai")
      val r = spark.read.format("fasta").option("region", "a:3-4")
        .load("s3://graft-test/fasta-indexed/test.fasta").head()
      assert(r.getString(0) == "a:3-4" && r.getString(2) == "CG")
      import scala.jdk.CollectionConverters._
      val ranged = s3.requests.asScala.filter(r =>
        r._1 == "GET" && r._2.endsWith("/test.fasta") &&
          r._3.exists(h => h.startsWith("bytes=") && !h.startsWith("bytes=0-")))
      assert(ranged.nonEmpty, "region read must seek via a non-zero Range header")
    }
  }

  test("live s3: tabix-pruned VCF region read over HTTP; index cached across queries") {
    withS3 { s3 =>
      load(s3, "graft-test", "vcf/index.vcf.gz", s"$fx/vcf/index.vcf.gz")
      load(s3, "graft-test", "vcf/index.vcf.gz.tbi", s"$fx/vcf/index.vcf.gz.tbi")
      val n = spark.read.format("vcf").option("region", "1:9999919-10000000")
        .load("s3://graft-test/vcf/index.vcf.gz").count()
      assert(n == 82)
      import scala.jdk.CollectionConverters._
      def tbiGets = s3.requests.asScala.count(r => r._1 == "GET" && r._2.endsWith(".tbi"))
      val before = tbiGets
      assert(before > 0, "first query must fetch the .tbi")
      // a second query over the same file re-plans but must hit the
      // driver-side parsed-index cache: zero additional .tbi fetches
      val n2 = spark.read.format("vcf").option("region", "1:9999919-10000000")
        .load("s3://graft-test/vcf/index.vcf.gz").count()
      assert(n2 == 82)
      assert(tbiGets == before,
        s"second query re-fetched the index ($before -> $tbiGets)")
    }
  }

  test("live s3: FASTA write commits via COPY+DELETE rename, reads back") {
    withS3 { s3 =>
      import spark.implicits._
      Seq(("w1", "d", "ACGT"), ("w2", "d", "TTTT")).toDF("id", "description", "sequence")
        .write.format("fasta").mode("overwrite").save("s3://graft-test/out")
      val back = spark.read.format("fasta").load("s3://graft-test/out")
      assert(back.count() == 2)
      assert(!s3.keys("graft-test").exists(_.contains("_temporary")),
        "job commit must clear its temp namespace")
      import scala.jdk.CollectionConverters._
      val copies = s3.requests.asScala.filter(r => r._1 == "PUT" &&
        r._2.contains("/out/"))
      assert(copies.nonEmpty, "commit should PUT (copy) into the final namespace")
    }
  }

  test("live s3: multipart upload for objects past the part size") {
    withS3 { s3 =>
      val conf = spark.sparkContext.hadoopConfiguration
      conf.setInt("fs.s3.multipart.size", 64 * 1024)
      try {
        val fs = new org.apache.hadoop.fs.Path("s3://graft-test/big.bin")
          .getFileSystem(conf)
        val out = fs.create(new org.apache.hadoop.fs.Path("s3://graft-test/big.bin"))
        val chunk = Array.tabulate[Byte](256 * 1024 + 17)(i => (i * 31 % 251).toByte)
        out.write(chunk); out.close()
        val got = s3.get("graft-test", "big.bin")
        assert(got.exists(_.sameElements(chunk)), "multipart reassembly must be byte-exact")
        import scala.jdk.CollectionConverters._
        val parts = s3.requests.asScala.filter(r => r._1 == "PUT" && r._2.endsWith("big.bin"))
        assert(parts.size >= 4, s"expected >=4 part uploads, saw ${parts.size}")
      } finally conf.unset("fs.s3.multipart.size")
    }
  }

  test("live s3: CRAM .crai-pruned region read over HTTP (cram-remote-tests.slt shape)") {
    withS3 { s3 =>
      load(s3, "graft-test", "cram/1404_index_multislice.cram",
        s"$fx/cram/1404_index_multislice.cram")
      load(s3, "graft-test", "cram/1404_index_multislice.cram.crai",
        s"$fx/cram/1404_index_multislice.cram.crai")
      // Fixture containers are ~1.3 KB; drop the reposition threshold so the
      // pruning skips behave like the multi-MB containers of a real CRAM,
      // where skipped containers must not be downloaded.
      val conf = spark.sparkContext.hadoopConfiguration
      conf.setLong("fs.s3.skip.reposition.threshold", 256)
      val n = try
        spark.read.format("cram").option("region", "CHROMOSOME_II")
          .load("s3://graft-test/cram/1404_index_multislice.cram").count()
      finally conf.unset("fs.s3.skip.reposition.threshold")
      assert(n == 10)
      import scala.jdk.CollectionConverters._
      val ranged = s3.requests.asScala.filter(r =>
        r._1 == "GET" && r._2.endsWith(".cram") &&
          r._3.exists(h => h.startsWith("bytes=") && !h.startsWith("bytes=0-")))
      assert(ranged.nonEmpty, ".crai pruning must seek to container offsets")
    }
  }

  private def withSignedS3(f: MiniS3 => Unit): Unit = {
    val s3 = new MiniS3().withAuth("graft-test-access", "graft-secret-key").start()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    conf.set("fs.s3.access.key", "graft-test-access")
    conf.set("fs.s3.secret.key", "graft-secret-key")
    try f(s3)
    finally {
      conf.unset("fs.s3.access.key")
      conf.unset("fs.s3.secret.key")
      s3.stop()
    }
  }

  test("live s3: SigV4-signed .fai region query — server verifies every signature") {
    withSignedS3 { s3 =>
      load(s3, "graft-test", "fasta-indexed/test.fasta", s"$fx/fasta-indexed/test.fasta")
      load(s3, "graft-test", "fasta-indexed/test.fasta.fai", s"$fx/fasta-indexed/test.fasta.fai")
      val r = spark.read.format("fasta").option("region", "a:3-4")
        .load("s3://graft-test/fasta-indexed/test.fasta").head()
      assert(r.getString(0) == "a:3-4" && r.getString(2) == "CG")
      import scala.jdk.CollectionConverters._
      // every request carried a SigV4 Authorization header the server accepted
      // (any verification failure would have 403'd the read above)
      val auths = s3.authHeaders.asScala
      assert(auths.nonEmpty && auths.forall(_.startsWith("AWS4-HMAC-SHA256")), auths.take(3))
      assert(auths.forall(_.contains("Credential=graft-test-access/")), auths.take(3))
      // and the region read still seeks: a signed, non-zero ranged GET
      val ranged = s3.requests.asScala.filter(r2 =>
        r2._1 == "GET" && r2._2.endsWith("/test.fasta") &&
          r2._3.exists(h => h.startsWith("bytes=") && !h.startsWith("bytes=0-")))
      assert(ranged.nonEmpty, "signed region read must seek via a non-zero Range header")
    }
  }

  test("live s3: SigV4-signed multipart write round-trips (per-part payload hashes)") {
    withSignedS3 { s3 =>
      val conf = spark.sparkContext.hadoopConfiguration
      conf.setInt("fs.s3.multipart.size", 64 * 1024)
      try {
        val p = new org.apache.hadoop.fs.Path("s3://graft-test/signed-big.bin")
        val fs = p.getFileSystem(conf)
        val chunk = Array.tabulate[Byte](200 * 1024 + 5)(i => (i * 37 % 249).toByte)
        val out = fs.create(p)
        out.write(chunk); out.close()
        assert(s3.get("graft-test", "signed-big.bin").exists(_.sameElements(chunk)),
          "signed multipart reassembly must be byte-exact")
      } finally conf.unset("fs.s3.multipart.size")
    }
  }

  test("live s3: signed reads under a prefix containing spaces and '~' (AWS encoding)") {
    withSignedS3 { s3 =>
      // space + tilde in the key: URLEncoder's '+'-for-space / %7E-for-~
      // wire form would sign differently from the AWS-canonical form and
      // 403 here; the directory scan also exercises a signed ListObjectsV2
      // with an encoded prefix= parameter.
      load(s3, "graft-test", "dir with space/ti~lde.fasta", s"$fx/fasta/test.fasta")
      val one = spark.read.format("fasta")
        .load("s3://graft-test/dir with space/ti~lde.fasta").count()
      assert(one == 2)
      val dir = spark.read.format("fasta")
        .load("s3://graft-test/dir with space").count()
      assert(dir == 2)
    }
  }

  test("live s3: a wrong secret key is rejected with 403") {
    val s3 = new MiniS3().withAuth("graft-test-access", "the-real-secret").start()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    conf.set("fs.s3.access.key", "graft-test-access")
    conf.set("fs.s3.secret.key", "a-wrong-secret")
    try {
      s3.put("graft-test", "x.fasta", ">a\nACGT\n".getBytes("US-ASCII"))
      val e = intercept[Exception] {
        spark.read.format("fasta").load("s3://graft-test/x.fasta").count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("403"), msgs)
    } finally {
      conf.unset("fs.s3.access.key")
      conf.unset("fs.s3.secret.key")
      s3.stop()
    }
  }

  test("live s3: directory scan via ListObjectsV2") {
    withS3 { s3 =>
      load(s3, "graft-test", "dir/a.fasta", s"$fx/fasta/test.fasta")
      load(s3, "graft-test", "dir/b.fasta", s"$fx/fasta/test.fasta")
      val n = spark.read.format("fasta").load("s3://graft-test/dir").count()
      assert(n == 4)
      assert(s3.requests.stream().anyMatch(r =>
        r._1 == "GET" && r._2.stripSuffix("/") == "graft-test"))
    }
  }

  test("live s3: range-ignoring server stays linear on positioned reads, still correct") {
    // A server/proxy that answers every ranged GET with 200 + the full body
    // must flip the stream to its cached forward fallback: a forward sweep
    // of positioned reads then costs O(1) GETs total (one adopted body),
    // not one download-and-skip-from-zero per call — O(n^2/window) bytes.
    val s3 = new MiniS3().withIgnoredRanges().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    try {
      val data = Array.tabulate[Byte](1 << 20)(i => ((i * 131) ^ (i >> 7)).toByte)
      s3.put("graft-test", "noranges/blob.bin", data)
      val p = new org.apache.hadoop.fs.Path("s3://graft-test/noranges/blob.bin")
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        import scala.jdk.CollectionConverters._
        def getCount: Int = s3.requests.asScala
          .count(r => r._1 == "GET" && r._2.endsWith("blob.bin"))
        val buf = new Array[Byte](4096)
        // forward window sweep, 16 positioned reads
        val positions = (1 to 16).map(i => i.toLong * 60000)
        positions.foreach { pos =>
          in.readFully(pos, buf, 0, buf.length)
          assert((0 until buf.length).forall(j => buf(j) == data(pos.toInt + j)),
            s"wrong bytes at $pos from the fallback stream")
        }
        val afterForward = getCount
        assert(afterForward <= 2,
          s"forward positioned sweep issued $afterForward GETs; " +
            "the adopted fallback body should serve them all")
        // a backward jump is allowed exactly one reopen
        in.readFully(100L, buf, 0, 64)
        assert((0 until 64).forall(j => buf(j) == data(100 + j)))
        assert(getCount <= afterForward + 1,
          "backward positioned read should cost at most one reopen")
      } finally in.close()
    } finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  // ---- request shape of a region query ----------------------------------

  /** A bgzipped VCF with a `.tbi`: 100 records per chrom, at 1, 101, 201, … */
  private def indexedVcf(chroms: Seq[String]): (Array[Byte], Array[Byte]) = {
    val data = new java.io.ByteArrayOutputStream()
    val w = new BgzfWriter(data)
    val tbi = new TabixWriter(chroms)
    w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
      .getBytes("US-ASCII"))
    for (r <- chroms.indices; i <- 0 until 100) {
      val pos = i * 100 + 1
      val vs = w.virtualPos
      w.write(s"${chroms(r)}\t$pos\t.\tA\tG\t50\tPASS\tAC=1\n".getBytes("US-ASCII"))
      tbi.add(r, pos - 1, pos, vs, w.virtualPos)
    }
    w.finish()
    val idx = graft.TestTmp.file("shape", ".tbi")
    tbi.write(idx)
    (data.toByteArray, java.nio.file.Files.readAllBytes(idx))
  }

  /** pop=p0/{s0,s1} and pop=p1/s2 hold chr1 and chr2; pop=p1/s3 holds chr2
    * only, so its index drops it from a chr1 query.
    */
  private def putCohort(s3: MiniS3): Unit = {
    val both = indexedVcf(Seq("chr1", "chr2"))
    val chr2 = indexedVcf(Seq("chr2"))
    Seq("pop=p0/sample=s0" -> both, "pop=p0/sample=s1" -> both,
        "pop=p1/sample=s2" -> both, "pop=p1/sample=s3" -> chr2).foreach {
      case (dir, (vcf, tbi)) =>
        s3.put("graft-test", s"cohort/$dir/calls.vcf.gz", vcf)
        s3.put("graft-test", s"cohort/$dir/calls.vcf.gz.tbi", tbi)
    }
  }

  private def chr1Count(root: String): Long =
    spark.read.format("vcf").load(root)
      .where("chrom = 'chr1' AND pos BETWEEN 1001 AND 2000").count()

  /** Requests `body` sends, as (LISTs, HEADs, the rest). */
  private def requestsOf(s3: MiniS3)(body: => Unit)
      : (Seq[String], Seq[String], Seq[(String, String, Option[String])]) = {
    import scala.jdk.CollectionConverters._
    val before = s3.requests.size
    body
    val reqs = s3.requests.asScala.drop(before).toSeq
    val (lists, rest) = reqs.partition(r => r._1 == "GET" && r._2.stripSuffix("/") == "graft-test")
    val (heads, other) = rest.partition(_._1 == "HEAD")
    (lists.map(_._2), heads.map(_._2), other)
  }

  test("live s3: a region query over a hive cohort is 1 LIST, 0 HEAD, 1 ranged GET per kept file") {
    withS3 { s3 =>
      putCohort(s3)
      assert(chr1Count("s3://graft-test/cohort") == 30) // loads and caches the indexes
      var n = 0L
      val (lists, heads, other) = requestsOf(s3) { n = chr1Count("s3://graft-test/cohort") }
      assert(n == 30)
      assert(lists.size == 1, lists)
      assert(heads.isEmpty, heads)
      val kept = Seq("s0", "s1", "s2").map(s => s"/sample=$s/calls.vcf.gz")
      assert(other.size == kept.size && other.forall(r => r._1 == "GET" &&
        r._3.exists(_.startsWith("bytes=")) && kept.exists(r._2.endsWith)), other)
    }
  }

  test("live s3: a literal file root costs at most 1 LIST and 1 HEAD") {
    withS3 { s3 =>
      putCohort(s3)
      val file = "s3://graft-test/cohort/pop=p0/sample=s0/calls.vcf.gz"
      assert(chr1Count(file) == 10)
      var n = 0L
      val (lists, heads, other) = requestsOf(s3) { n = chr1Count(file) }
      assert(n == 10)
      assert(lists.size <= 1 && heads.size <= 1, (lists, heads))
      assert(other.size == 1 && other.head._2.endsWith("/calls.vcf.gz"), other)
    }
  }

  test("live s3: one spark.read load lists its root once, the query included") {
    withS3 { s3 =>
      putCohort(s3)
      val (lists, _, _) = requestsOf(s3) {
        val df = spark.read.format("vcf").load("s3://graft-test/cohort")
        assert(df.columns.toSeq.takeRight(2) == Seq("pop", "sample"))
        assert(df.where("chrom = 'chr1' AND pos BETWEEN 1001 AND 2000").count() == 30)
      }
      assert(lists.size == 1, lists)
    }
  }
}
