package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import org.apache.spark.sql.functions._

/** BAM sink round trip: the fixture-proven BAM reader must decode files
  * produced by the BAM sink (BamEncoder) identically to the htslib-produced
  * original, region reads must prune through the self-written `.bai`, and
  * the `.bai` metadata pseudo-bins must answer `samtools idxstats`-shaped
  * counts for the sink's own output.
  */
class BamSinkSpec extends AnyFunSuite with SharedSpark {

  private val fx = "/root/reference/exon/exon-core/test-data/datasources"
  private val cols = graft.sources.formats.SamFormat.dataSchema.fieldNames

  test("bam sink round trip: rows identical to the htslib-produced original") {
    val dir = graft.TestTmp.dir("graft_bam_sink").toString
    val src = spark.read.format("bam").load(s"$fx/bam/test.bam")
    src.repartitionByRange(2, col("reference"), col("start"))
      .sortWithinPartitions(col("reference").asc_nulls_last, col("start").asc_nulls_last)
      .write.format("bam").mode("overwrite")
      .option("headerFrom", s"$fx/bam/test.bam").save(dir)

    val back = spark.read.format("bam").load(dir)
    val key = Seq(col("reference"), col("start"), col("name"), col("flag"))
    val a = src.orderBy(key: _*).collect()
    val b = back.orderBy(key: _*).collect()
    assert(a.length == b.length && a.length > 0, s"${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\n  orig $x\n  sink $y") }
  }

  test("region read through the sink's own .bai matches a full-scan filter") {
    val dir = graft.TestTmp.dir("graft_bam_sink_rg").toString
    spark.read.format("bam").load(s"$fx/bam/test.bam")
      .repartitionByRange(2, col("reference"), col("start"))
      .sortWithinPartitions(col("reference").asc_nulls_last, col("start").asc_nulls_last)
      .write.format("bam").mode("overwrite")
      .option("headerFrom", s"$fx/bam/test.bam").save(dir)

    val full = spark.read.format("bam").load(dir)
    val exp = full.filter(col("reference") === "chr1" &&
      col("start") <= 12209145L && col("end") >= 12200000L).count()
    val got = spark.read.format("bam").option("region", "chr1:12200000-12209145")
      .load(dir).count()
    assert(got == exp && got > 0, s"region=$got filter=$exp")
  }

  test("sink .bai carries idxstats metadata: recordCount answers without a scan") {
    val dir = graft.TestTmp.dir("graft_bam_sink_cnt").toString
    spark.read.format("bam").load(s"$fx/bam/test.bam")
      .repartitionByRange(2, col("reference"), col("start"))
      .sortWithinPartitions(col("reference").asc_nulls_last, col("start").asc_nulls_last)
      .write.format("bam").mode("overwrite")
      .option("headerFrom", s"$fx/bam/test.bam").save(dir)

    val conf = spark.sparkContext.hadoopConfiguration
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".bam")).map(_.getAbsolutePath).sorted
    assert(parts.nonEmpty)
    val metaTotal = parts.map { p =>
      BaiIndex.recordCount(new org.apache.hadoop.fs.Path(p), conf)
        .getOrElse(fail(s"no metadata count from $p.bai"))
    }.sum
    val scanned = spark.read.format("bam").load(dir).count()
    assert(metaTotal == scanned && scanned > 0, s"meta=$metaTotal scan=$scanned")
  }

  test("synthesized dictionary via option(refs) round-trips") {
    import spark.implicits._
    val dir = graft.TestTmp.dir("graft_bam_sink_refs").toString
    val rows = (1 to 500).map { i =>
      val chrom = if (i <= 300) "ctgA" else "ctgB"
      val pos = (if (i <= 300) i else i - 300) * 40L + 1
      (s"read$i", 0, chrom, pos, pos + 9, "60", "10M", null: String,
        "ACGTACGTAC", Seq.fill(10)(30L))
    }
    val df = rows.toDF(cols.init: _*)
      .withColumn("tags", lit(null).cast("array<struct<tag:string,value:string>>"))
      .repartitionByRange(2, col("reference"), col("start"))
      .sortWithinPartitions("reference", "start")
    df.write.format("bam").mode("overwrite")
      .option("refs", "ctgA:100000,ctgB:100000").save(dir)

    val back = spark.read.format("bam").load(dir)
    assert(back.count() == 500)
    assert(back.filter(col("reference") === "ctgB").count() == 200)
    val reg = spark.read.format("bam").option("region", "ctgA:401-801")
      .load(dir).count()
    val exp = back.filter(col("reference") === "ctgA" &&
      col("start") <= 801L && col("end") >= 401L).count()
    assert(reg == exp && reg > 0, s"region=$reg filter=$exp")
  }

  test("unsorted partitions are refused with the sort recipe") {
    import spark.implicits._
    val dir = graft.TestTmp.dir("graft_bam_sink_bad").toString
    val rows = Seq(
      ("r1", 0, "ctgA", 500L, 509L, "60", "10M", null: String, "ACGTACGTAC",
        Seq.fill(10)(30L)),
      ("r2", 0, "ctgA", 100L, 109L, "60", "10M", null: String, "ACGTACGTAC",
        Seq.fill(10)(30L)))
    val df = rows.toDF(cols.init: _*)
      .withColumn("tags", lit(null).cast("array<struct<tag:string,value:string>>"))
      .coalesce(1)
    val e = intercept[Exception] {
      df.write.format("bam").mode("overwrite")
        .option("refs", "ctgA:100000").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("sorted")), msgs(e).mkString(" | "))
  }
}
