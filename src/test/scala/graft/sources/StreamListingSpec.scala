package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.SharedSpark
import graft.tools.MiniS3

/** Committed-prefix skip in GraftMicroBatchStream: a trigger must sort only
  * files PAST the committed boundary key, not re-sort everything ever
  * landed — the difference between O(new) and O(all-files log all-files)
  * per trigger at a 100 TB landing zone.
  */
class StreamListingSpec extends AnyFunSuite with SharedSpark {

  test("maxFilesPerTrigger bounds each micro-batch; AvailableNow drains in multiple batches") {
    val dir = graft.TestTmp.dir("graft_stream_mft").toString
    val ckpt = graft.TestTmp.dir("graft_stream_mft_ckpt").toString
    val out = graft.TestTmp.dir("graft_stream_mft_out").toString
    (0 until 10).foreach { i =>
      val tmp = java.nio.file.Paths.get(dir, f".f$i%02d.fasta.tmp")
      java.nio.file.Files.writeString(tmp, s">r$i\nACGT\n")
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, f"f$i%02d.fasta"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val q = spark.readStream.format("fasta")
      .option("maxFilesPerTrigger", "3").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 10)
    // 10 files at 3 per trigger = 4 committed batches
    val batches = new java.io.File(ckpt, "offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 4, s"expected >=4 micro-batches, offsets log has $batches")
  }

  test("maxBytesPerTrigger admits at least one file and bounds batches") {
    val dir = graft.TestTmp.dir("graft_stream_mbt").toString
    val ckpt = graft.TestTmp.dir("graft_stream_mbt_ckpt").toString
    val out = graft.TestTmp.dir("graft_stream_mbt_out").toString
    (0 until 4).foreach { i =>
      val tmp = java.nio.file.Paths.get(dir, f".g$i.fasta.tmp")
      java.nio.file.Files.writeString(tmp, s">g$i\n" + "ACGT" * 100 + "\n")
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, f"g$i.fasta"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val q = spark.readStream.format("fasta")
      .option("maxBytesPerTrigger", "1") // below one file: still admits one
      .load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 4)
    val batches = new java.io.File(ckpt, "offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 4, s"expected one file per batch, offsets log has $batches")
  }

  test("binary formats stream too: readStream over BAM files") {
    val fx = "/root/reference/exon/exon-core/test-data/datasources"
    val dir = graft.TestTmp.dir("graft_stream_bam").toString
    val ckpt = graft.TestTmp.dir("graft_stream_bam_ckpt").toString
    val out = graft.TestTmp.dir("graft_stream_bam_out").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fx/bam/test.bam"),
      java.nio.file.Paths.get(dir, "a.bam"))
    val q = spark.readStream.format("bam").load(dir)
      .select("name", "reference", "start")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 61)
  }

  test("maxFileAge skips history: only files within the age of the newest process") {
    val dir = graft.TestTmp.dir("graft_stream_age").toString
    val ckpt = graft.TestTmp.dir("graft_stream_age_ckpt").toString
    val out = graft.TestTmp.dir("graft_stream_age_out").toString
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i => // stale backlog: 2 hours old
      val p = java.nio.file.Paths.get(dir, s"old$i.fasta")
      java.nio.file.Files.writeString(p, s">o$i\nAAAA\n")
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(now - 2 * 3600 * 1000L))
    }
    (0 until 3).foreach { i => // fresh landings
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"new$i.fasta"), s">n$i\nCCCC\n")
    }
    val q = spark.readStream.format("fasta")
      .option("maxFileAge", "30m").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.read.parquet(out).select("id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("n0", "n1", "n2"),
      s"expected only fresh files, got ${ids.mkString(",")}")
  }

  test("steady-state triggers sort only newly-arrived files, not the full directory") {
    val dir = graft.TestTmp.dir("graft_stream_many").toString
    val ckpt = graft.TestTmp.dir("graft_stream_many_ckpt").toString
    val out = graft.TestTmp.dir("graft_stream_many_out").toString

    def writeFasta(name: String, id: String): Unit = {
      val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
      java.nio.file.Files.writeString(tmp, s">$id\nATCG\n")
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    (0 until 300).foreach(i => writeFasta(f"a$i%04d.fasta", s"a$i"))

    val q = spark.readStream.format("fasta").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 300)

      // after the 300-file batch committed, later triggers must filter the
      // committed prefix out BEFORE sorting — only new arrivals reach the
      // sort (the O(all-files log all-files) per-trigger stall at a 100 TB
      // landing zone is exactly this re-sort)
      Thread.sleep(1100) // distinct mtime past the committed boundary key
      GraftMicroBatchStream.maxTriggerSortedFiles.set(-1)
      (0 until 3).foreach(i => writeFasta(f"b$i%04d.fasta", s"b$i"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 303)
      val sorted = GraftMicroBatchStream.maxTriggerSortedFiles.get()
      assert(sorted >= 0, "no trigger listed after reset")
      assert(sorted <= 3, s"a trigger re-sorted $sorted files, expected <= 3")
    } finally q.stop()
  }

  test("s3: a stream orders objects by LastModified and re-reads one rewritten in place") {
    val s3 = new MiniS3().start()
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3.impl", "fs.s3.endpoint", "fs.s3.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
    conf.set("fs.s3.endpoint", s3.endpoint)
    conf.set("fs.s3.impl.disable.cache", "true")
    val ckpt = graft.TestTmp.dir("graft_stream_s3_ckpt").toString
    val t0 = 1700000000000L
    def put(name: String, id: String, mtime: Long): Unit =
      s3.put("graft-test", s"land/$name.fasta", s">$id\nACGT\n".getBytes("US-ASCII"), mtime)
    // one id list per micro-batch, in batch order
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def drain(): Unit = spark.readStream.format("fasta")
      .option("maxFilesPerTrigger", "1").load("s3://graft-test/land")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(df.select("id").collect().map(_.getString(0)).toSeq.sorted); ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    try {
      // names sort against put order: the offset key is (LastModified, path)
      put("a", "a1", t0 + 4000)
      put("b", "b1", t0 + 2000)
      put("c", "c1", t0)
      drain()
      assert(batches.toArray.toSeq == Seq(Seq("c1"), Seq("b1"), Seq("a1")))
      // a rewrite at the same length gets a later LastModified: it sorts
      // past the committed offset and is read again
      batches.clear()
      put("b", "b2", t0 + 6000)
      drain()
      assert(batches.toArray.toSeq == Seq(Seq("b2")))
    } finally {
      s3.stop()
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }
}
