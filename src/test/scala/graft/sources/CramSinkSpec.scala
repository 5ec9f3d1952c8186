package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import org.apache.spark.sql.functions._

/** CRAM sink round trip: the fixture-proven CRAM reader must decode files
  * produced by the CRAM sink (CramEncoder) — no_ref (RR=false) CRAM 3.0, every base
  * verbatim in feature series — identically to the BAM original, with no
  * reference FASTA on either side.
  */
class CramSinkSpec extends AnyFunSuite with SharedSpark {

  private val fx = "/root/reference/exon/exon-core/test-data/datasources"
  private val cols = graft.sources.formats.SamFormat.dataSchema.fieldNames

  test("cram sink round trip: rows identical to the BAM original, no reference needed") {
    val dir = graft.TestTmp.dir("graft_cram_sink").toString
    val src = spark.read.format("bam").load(s"$fx/bam/test.bam")
    src.repartition(2)
      .write.format("cram").mode("overwrite")
      .option("headerFrom", s"$fx/bam/test.bam").save(dir)

    val back = spark.read.format("cram").load(dir)
    // the fixture holds rows identical in (ref, start, name, flag) that
    // differ only in quals/tags — hash those in so the sort is total
    val key = Seq(col("reference"), col("start"), col("name"), col("flag"),
      hash(col("quality_score")), hash(col("tags")))
    val a = src.orderBy(key: _*).collect()
    val b = back.orderBy(key: _*).collect()
    assert(a.length == b.length && a.length > 0, s"${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\n  orig $x\n  sink $y") }
  }

  test("synthesized dictionary via option(refs): cigar shapes survive the feature encoding") {
    import spark.implicits._
    val dir = graft.TestTmp.dir("graft_cram_sink_refs").toString
    // exercise every feature the writer emits: match runs, insertion, soft
    // clip, deletion, ref skip, hard clip, padding, unmapped, missing quals
    val df = Seq(
      ("r1", 0, Option("ctgA"), Option(11L), Option.empty[Long], Option("60"),
        Option("4M2I4M"), Option("ctgA"), Option("ACGTTTACGT"),
        Option(Seq.fill(10)(30L))),
      ("r2", 16, Option("ctgA"), Option(40L), Option.empty[Long], Option("13"),
        Option("2S6M2S"), Option.empty[String], Option("NNACGTACNN"),
        Option((1L to 10L).toSeq)),
      ("r3", 0, Option("ctgB"), Option(7L), Option.empty[Long], Option("0"),
        Option("3M5D3M2N4M"), Option("ctgA"), Option("ACGTTTACGT"),
        Option.empty[Seq[Long]]),
      ("r4", 0, Option("ctgB"), Option(100L), Option.empty[Long], Option("60"),
        Option("2H10M3H"), Option.empty[String], Option("ACGTACGTAC"),
        Option(Seq.fill(10)(2L))),
      ("r5", 0, Option("ctgB"), Option(200L), Option.empty[Long], Option("60"),
        Option("5M1P5M"), Option.empty[String], Option("ACGTACGTAC"),
        Option(Seq.fill(10)(41L))),
      ("r6", 4, Option.empty[String], Option.empty[Long], Option.empty[Long],
        Option.empty[String], Option.empty[String], Option.empty[String],
        Option("ACGT"), Option(Seq(30L, 31L, 32L, 33L)))
    ).toDF(cols.init: _*)
      .withColumn("tags", when(col("name") === "r1",
        array(struct(lit("NM").as("tag"), lit("2").as("value")),
          struct(lit("XS").as("tag"), lit("note with spaces").as("value"))))
        .otherwise(lit(null)
          .cast("array<struct<tag:string,value:string>>")))

    df.write.format("cram").mode("overwrite")
      .option("refs", "ctgA:1000,ctgB:1000").save(dir)
    val back = spark.read.format("cram").load(dir)
      .orderBy(col("name")).collect()
    assert(back.length == 6)
    val byName = back.map(r => r.getString(0) -> r).toMap
    // cigars round-trip exactly (M runs re-merge to the same ops)
    assert(byName("r1").getString(6) == "4M2I4M")
    assert(byName("r2").getString(6) == "2S6M2S")
    assert(byName("r3").getString(6) == "3M5D3M2N4M")
    assert(byName("r4").getString(6) == "2H10M3H")
    assert(byName("r5").getString(6) == "5M1P5M")
    assert(byName("r6").isNullAt(6)) // unmapped: no cigar
    // sequences verbatim with no reference available
    assert(byName("r1").getString(8) == "ACGTTTACGT")
    assert(byName("r3").getString(8) == "ACGTTTACGT")
    assert(byName("r6").getString(8) == "ACGT")
    // quals only when present
    assert(byName("r3").isNullAt(9))
    assert(byName("r2").getSeq[Long](9) == (1L to 10L).toSeq)
    // end derives from the CIGAR reference span (M+D+N)
    assert(byName("r3").getLong(4) == 7L - 1 + 3 + 5 + 3 + 2 + 4)
    // typed tags round-trip ('i' re-typed int + 'Z' string)
    val tags = byName("r1").getSeq[org.apache.spark.sql.Row](10)
      .map(t => (t.getString(0), t.getString(1)))
    assert(tags == Seq(("NM", "2"), ("XS", "note with spaces")))
    // mate reference survives via the detached NS series
    assert(byName("r1").getString(7) == "ctgA")
    assert(byName("r3").getString(7) == "ctgA")
  }

  test("region reads prune the sink's own containers via headers and .crai") {
    import spark.implicits._
    val dir = graft.TestTmp.dir("graft_cram_sink_prune").toString
    val df = (1 to 600).map { i =>
      val chrom = if (i <= 300) "ctgA" else "ctgB"
      val pos = (if (i <= 300) i else i - 300) * 3L + 1
      (s"read$i", 0, Option(chrom), Option(pos), Option.empty[Long],
        Option("60"), Option("10M"), Option.empty[String],
        Option("ACGTACGTAC"), Option(Seq.fill(10)(30L)))
    }.toDF(cols.init: _*)
      .withColumn("tags", lit(null).cast("array<struct<tag:string,value:string>>"))
    // sorted input -> one single-ref container per reference
    df.orderBy(col("reference"), col("start")).coalesce(1)
      .write.format("cram").mode("overwrite")
      .option("refs", "ctgA:2000,ctgB:2000").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".cram")).head
    assert(new java.io.File(part.getAbsolutePath + ".crai").exists(),
      "sink must commit a .crai sibling")
    // a ctgB region must skip ctgA's container (counter is process-global;
    // delta over this one read)
    val before = graft.sources.formats.CramFormat.containersSkipped.get()
    val got = spark.read.format("cram").option("region", "ctgB:1-100")
      .load(dir).count()
    val skipped = graft.sources.formats.CramFormat.containersSkipped.get() - before
    val exp = spark.read.format("cram").load(dir)
      .filter(col("reference") === "ctgB" && col("start") <= 100L &&
        col("end") >= 1L).count()
    assert(got == exp && got > 0, s"region=$got filter=$exp")
    assert(skipped >= 1, s"ctgA container was not pruned (skipped=$skipped)")
  }

  test("containers stream: multi-container output reads back whole") {
    import spark.implicits._
    val dir = graft.TestTmp.dir("graft_cram_sink_multi").toString
    val n = 25000 // > containerRecords, forces 3 containers in one part
    val df = (1 to n).map { i =>
      (s"read$i", 0, "ctgA", (i % 900) + 1L, null: java.lang.Long, "60",
        "8M", null: String, "ACGTACGT", Seq.fill(8)(30L))
    }.toDF(cols.init: _*)
      .withColumn("tags", lit(null).cast("array<struct<tag:string,value:string>>"))
      .coalesce(1)
    df.write.format("cram").mode("overwrite")
      .option("refs", "ctgA:1000").save(dir)
    val back = spark.read.format("cram").load(dir)
    assert(back.count() == n)
    assert(back.agg(sum(length(col("sequence")))).head().getLong(0) == 8L * n)
  }
}
