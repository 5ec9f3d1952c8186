package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** CRAM container splits: a big CRAM full scan must fan out over parallel
  * chunks — at the `.crai` sibling's container offsets when one exists
  * (GraftScan.alignedCutChunks + CramFormat.alignedCutOffsets), and by
  * task-open resync when it doesn't (the landing-zone shape; see
  * CramResyncSplitSpec). Rows must be invariant to the chunking: each
  * container is decoded by exactly the chunk owning its start offset. A
  * `.crai` that cannot be read plans the file as one task.
  */
class CramSplitSpec extends AnyFunSuite with SharedSpark {

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** One-shard sorted CRAM through the engine's own sink (10k records per
    * container -> ~8 data containers), written with its `.crai`. A second
    * copy has the `.crai` removed for the index-free arm.
    */
  private lazy val (cramDir, cramNoIdxDir): (String, String) = {
    val dir = graft.TestTmp.dir("cram_split").toString + "/t"
    val n = 80000L
    val refs = (0 until 4).map(i => s"chr$i:40000000").mkString(",")
    spark.range(0, n).select(
        concat(lit("r"), col("id")).as("name"),
        lit(0).as("flag"),
        concat(lit("chr"), (col("id") % 4).cast("string")).as("reference"),
        ((col("id") / 4).cast("long") * 150 + 1).as("start"),
        ((col("id") / 4).cast("long") * 150 + 100).as("end"),
        lit("30").as("mapping_quality"),
        lit("100M").as("cigar"),
        lit(null).cast("string").as("mate_reference"),
        translate(substring(concat(md5(col("id").cast("string")),
            md5((col("id") + n).cast("string")),
            md5((col("id") + 2 * n).cast("string")),
            md5((col("id") + 3 * n).cast("string"))), 1, 100),
          "0123456789abcdef", "ACGTACGTACGTACGT").as("sequence"),
        array_repeat(lit(30L), 100).as("quality_score"),
        array().cast("array<struct<tag:string,value:string>>").as("tags"))
      .repartitionByRange(1, col("reference"), col("start"))
      .sortWithinPartitions("reference", "start")
      .write.format("cram").mode("overwrite").option("refs", refs).save(dir)
    // second copy without the .crai: the index-free (resync) arm
    val ni = graft.TestTmp.dir("cram_split_noidx").toString + "/t"
    new java.io.File(ni).mkdirs()
    new java.io.File(dir).listFiles().foreach { f =>
      if (f.getName.endsWith(".cram")) {
        val t = java.nio.file.Paths.get(ni, f.getName)
        java.nio.file.Files.deleteIfExists(t)
        java.nio.file.Files.copy(f.toPath, t)
      }
    }
    (dir, ni)
  }

  private def assertSameRows(split: DataFrame, whole: DataFrame): Unit = {
    assert(split.count() == whole.count())
    assert(split.except(whole).count() == 0, "split scan produced extra/changed rows")
    assert(whole.except(split).count() == 0, "split scan dropped rows")
  }

  private def read(dir: String): DataFrame =
    spark.read.format("cram").load(dir)
      .select("name", "flag", "reference", "start", "end", "cigar")

  test("cram full scan splits at .crai container offsets; rows invariant") {
    val whole = read(cramDir)
    assert(whole.rdd.getNumPartitions == 1, "corpus unexpectedly split at default conf")
    assert(whole.count() == 80000L)
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val split = read(cramDir)
      val parts = split.rdd.getNumPartitions
      assert(parts >= 3, s"expected >=3 aligned chunk partitions, got $parts")
      assertSameRows(split, whole)
    }
  }

  // the no-.crai planner path is the task-open resync (ChunkKind.Container;
  // CramResyncSplitSpec covers it in depth)
  test("unindexed cram (no .crai) splits index-free (task-open resync)") {
    val whole = read(cramNoIdxDir)
    assert(whole.count() == 80000L)
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val split = read(cramNoIdxDir)
      val parts = split.rdd.getNumPartitions
      assert(parts >= 3, s"index-free split did not engage: $parts partition(s)")
      assertSameRows(split, whole)
    }
  }

  test("aligned split invariance across chunk sizes") {
    val whole = read(cramDir)
    for (sz <- Seq("131072", "524288", "1048576")) {
      withConf("spark.sql.files.maxPartitionBytes" -> sz,
               "spark.sql.files.openCostInBytes" -> "1024") {
        assertSameRows(read(cramDir), whole)
      }
    }
  }

  test("region read on a split cram still prunes and filters exactly") {
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val got = spark.read.format("cram").option("region", "chr1:1-1501")
        .load(cramDir).count()
      // chr1 rows overlapping [1,1501]: starts 1,151,...,1501
      assert(got == 11, s"expected 11 rows in chr1:1-1501, got $got")
    }
  }

  test("sweep offsets equal the .crai container offsets") {
    // the sweep is test-side: chain containerSpanAt from the FILE_HEADER
    // container at offset 26 through the no-index copy to EOF
    val nf = new java.io.File(cramNoIdxDir).listFiles()
      .filter(_.getName.endsWith(".cram")).minBy(_.getName)
    val fmt = new graft.sources.formats.CramFormat(None, Nil)
    val swept = CramResyncSplitSpec.containerStarts(fmt,
      java.nio.file.Files.readAllBytes(nf.toPath))
    assert(swept.length >= 4, s"sweep found only ${swept.length} containers")
    val f = new java.io.File(cramDir).listFiles()
      .filter(_.getName.endsWith(".cram")).minBy(_.getName)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration()).getRaw
    val viaCrai = fmt.alignedCutOffsets(fs,
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), f.length())
    assert(viaCrai != null && viaCrai.nonEmpty, ".crai returned no offsets")
    // crai offsets (data containers) are a subset of the swept container
    // starts (which also include the FILE_HEADER and EOF containers)
    assert(viaCrai.toSet.subsetOf(swept.toSet),
      "crai offsets are not all true container starts per the sweep")
    // and the no-index copy has no aligned cuts: it is resynced instead
    assert(fmt.alignedCutOffsets(fs, new org.apache.hadoop.fs.Path(nf.getAbsolutePath),
      nf.length()) == null)
  }

  test("an unreadable .crai plans the file as one task with the whole-file rows") {
    val src = new java.io.File(cramNoIdxDir).listFiles()
      .filter(_.getName.endsWith(".cram")).minBy(_.getName)
    val dir = graft.TestTmp.dir("cram_bad_crai").toFile
    val f = new java.io.File(dir, src.getName)
    java.nio.file.Files.copy(src.toPath, f.toPath)
    java.nio.file.Files.write(new java.io.File(dir, src.getName + ".crai").toPath,
      "this is not a gzip'd crai\n".getBytes("US-ASCII"))
    val whole = read(cramNoIdxDir)
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val (parts, warned) = plannerWarnings(read(f.getAbsolutePath).rdd.getNumPartitions)
      assert(parts == 1, s"an unreadable .crai must plan one task, got $parts")
      // the refusal is logged once, naming the CRAM, its .crai and the cause
      val named = warned.filter(w => w.contains(f.getAbsolutePath) &&
        w.contains(f.getName + ".crai") && w.contains("Not in GZIP format"))
      assert(named.size == 1, warned.mkString("\n"))
      assertSameRows(read(f.getAbsolutePath), whole)
    }
  }

  /** `body`'s result and the WARN messages the scan planner logged while
    * it ran.
    */
  private def plannerWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = org.apache.logging.log4j.LogManager.getLogger(classOf[GraftScan])
      .asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("planner-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try {
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally { logger.removeAppender(capture); capture.stop() }
  }

  test("a repaired .crai re-splits the file while the cram is unchanged") {
    val src = new java.io.File(cramDir).listFiles()
      .filter(_.getName.endsWith(".cram")).minBy(_.getName)
    val dir = graft.TestTmp.dir("cram_repaired_crai").toFile
    val f = new java.io.File(dir, src.getName)
    java.nio.file.Files.copy(src.toPath, f.toPath)
    val crai = new java.io.File(dir, src.getName + ".crai").toPath
    java.nio.file.Files.write(crai, "this is not a gzip'd crai\n".getBytes("US-ASCII"))
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      assert(read(f.getAbsolutePath).rdd.getNumPartitions == 1)
      java.nio.file.Files.copy(java.nio.file.Paths.get(src.getPath + ".crai"), crai,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val parts = read(f.getAbsolutePath).rdd.getNumPartitions
      assert(parts >= 3, s"the repaired .crai was not used: $parts partition(s)")
      assertSameRows(read(f.getAbsolutePath), read(cramDir))
    }
  }
}
