package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input rows for the sink specs, built from `spark.range`
  * so no fixture file is needed. Each yields rows already sorted
  * the way the coordinate sinks require when read in id order (one
  * partition after `coalesce(1)`).
  */
object SinkRows {

  /** A fixed `len`-base sequence per row. */
  private def bases(len: Int) =
    translate(substring(md5(col("id").cast("string")), 1, len),
      "0123456789abcdef", "ACGTACGTACGTACGT")

  def fasta(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).select(
      concat(lit("s"), col("id")).as("id"),
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("desc "), col("id"))).as("description"),
      bases(24).as("sequence"))

  def fastq(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).select(
      concat(lit("q"), col("id")).as("name"),
      when(col("id") % 4 === 0, lit(null).cast("string"))
        .otherwise(lit("run1")).as("description"),
      bases(20).as("sequence"),
      translate(substring(md5((col("id") + 7).cast("string")), 1, 20),
        "0123456789abcdef", "ABCDEFGHIJ#%+:;!").as("quality_scores"))

  def vcf(spark: SparkSession, n: Long): DataFrame = {
    val half = n / 2
    spark.range(0, n).select(
      when(col("id") < half, "chrA").otherwise("chrB").as("chrom"),
      ((col("id") % half) * 150 + 1).as("pos"),
      when(col("id") % 5 === 0, array(concat(lit("rs"), col("id").cast("string"))))
        .otherwise(lit(null).cast("array<string>")).as("id"),
      lit("A").as("ref"),
      when(col("id") % 3 === 0, array(lit("T"), lit("G"))).otherwise(array(lit("C")))
        .as("alt"),
      when(col("id") % 7 === 0, lit(null).cast("float"))
        .otherwise((col("id") % 50).cast("float") + 0.5f).as("qual"),
      when(col("id") % 4 === 0, array(lit("q10"))).otherwise(array(lit("PASS")))
        .as("filter"),
      concat(lit("DP="), (col("id") % 100).cast("string"),
        when(col("id") % 2 === 0, ";AF=0.5").otherwise(lit(";AF=0.25,0.75")),
        when(col("id") % 6 === 0, ";DB").otherwise(lit(""))).as("info"),
      concat(lit("GT:DP\t0|1:"), (col("id") % 90).cast("string"), lit("\t"),
        when(col("id") % 9 === 0, ".").otherwise(lit("1/1")), lit(":"),
        (col("id") % 40).cast("string")).as("formats"))
  }

  /** A VCF header declaring every id that [[vcf]] rows use. */
  val VcfHeader: String =
    """##fileformat=VCFv4.3
      |##contig=<ID=chrA,length=10000000>
      |##contig=<ID=chrB,length=10000000>
      |##FILTER=<ID=PASS,Description="ok">
      |##FILTER=<ID=q10,Description="low">
      |##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">
      |##INFO=<ID=AF,Number=A,Type=Float,Description="freq">
      |##INFO=<ID=DB,Number=0,Type=Flag,Description="db">
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">
      |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	s1	s2
      |""".stripMargin

  /** Writes [[VcfHeader]] into `dir` and returns its path. */
  def vcfHeaderFile(dir: java.nio.file.Path): String = {
    val h = dir.resolve("header.vcf")
    java.nio.file.Files.writeString(h, VcfHeader)
    h.toString
  }

  val SamRefs = "chr0:5000000,chr1:5000000"

  /** Alignments on chr0 then chr1, starts ascending, with three CIGAR
    * shapes, some reverse-strand flags, and integer and string
    * tags on every other row.
    */
  def sam(spark: SparkSession, n: Long): DataFrame = {
    val half = n / 2
    spark.range(0, n).select(
      concat(lit("r"), col("id")).as("name"),
      when(col("id") % 5 === 4, lit(16)).otherwise(lit(0)).as("flag"),
      when(col("id") < half, "chr0").otherwise("chr1").as("reference"),
      ((col("id") % half) * 37 + 1).as("start"),
      ((col("id") % half) * 37 + 10).as("end"),
      (col("id") % 60).cast("string").as("mapping_quality"),
      when(col("id") % 3 === 0, "3S7M").when(col("id") % 3 === 1, "5M2D5M")
        .otherwise("10M").as("cigar"),
      lit(null).cast("string").as("mate_reference"),
      bases(10).as("sequence"),
      transform(array_repeat(col("id") % 40, 10), (q, i) => q + i).as("quality_score"),
      when(col("id") % 2 === 0,
        array(struct(lit("NM").as("tag"), (col("id") % 3).cast("string").as("value")),
          struct(lit("XS").as("tag"), concat(lit("x"), col("id")).as("value"))))
        .otherwise(array().cast("array<struct<tag:string,value:string>>")).as("tags"))
  }

  /** Non-overlapping bedGraph intervals on chrA then chrB. */
  def bigwig(spark: SparkSession, n: Long): DataFrame = {
    val half = n / 2
    spark.range(0, n).select(
      when(col("id") < half, "chrA").otherwise("chrB").as("name"),
      ((col("id") % half) * 100).cast("int").as("start"),
      ((col("id") % half) * 100 + 50 + col("id") % 40).cast("int").as("end"),
      ((col("id") % 13).cast("float") * 0.5f).as("value"))
  }
}
