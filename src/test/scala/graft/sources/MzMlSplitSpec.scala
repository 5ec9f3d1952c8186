package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Raw-cut resync splits of big uncompressed mzML: tasks align to the
  * next `<spectrum` start tag they own and parse each element's bytes as
  * its own document (XML forbids unescaped '<' in text/attribute values,
  * so the byte pattern is markup for certain). Exercised here with the
  * awkward element shapes the copier must survive: self-closed empty
  * spectra, '>' and '/' inside quoted attribute values, and cuts landing
  * mid-base64. Plain-gzip copies stay one task.
  */
class MzMlSplitSpec extends AnyFunSuite with SharedSpark {

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private val nSpec = 3000

  private lazy val mzFile: java.io.File = {
    val dir = graft.TestTmp.dir("mzml_split")
    val f = new java.io.File(dir.toFile, "big.mzML")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    def b64zlib(vals: Array[Double]): String = {
      val bb = java.nio.ByteBuffer.allocate(vals.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      val defl = new java.util.zip.Deflater()
      defl.setInput(bb.array()); defl.finish()
      val out = new java.io.ByteArrayOutputStream(vals.length * 8)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      defl.end()
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    w.write("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<mzML><run><spectrumList>\n")
    (0 until nSpec).foreach { i =>
      if (i % 100 == 99) {
        // empty SELF-CLOSED spectrum with '>' and '/' inside a quoted
        // attribute value — the copier's quote-aware start-tag scan
        w.write(s"""<spectrum id="gt>slash/ empty=$i" index="$i" defaultArrayLength="0"/>\n""")
      } else {
        val n = 40
        val mz = Array.tabulate(n)(j => 100.0 + i % 7 + j * 9.97)
        val inten = Array.tabulate(n)(j => ((i * 31 + j * 17) % 10000).toDouble)
        w.write(s"""<spectrum id="scan=$i" index="$i" defaultArrayLength="$n">""")
        w.write("""<binaryDataArrayList count="2">""")
        w.write("""<binaryDataArray><cvParam accession="MS:1000514" name="m/z array"/>""" +
          """<cvParam accession="MS:1000523" name="64-bit float"/>""" +
          """<cvParam accession="MS:1000574" name="zlib compression"/>""" +
          s"<binary>${b64zlib(mz)}</binary></binaryDataArray>")
        w.write("""<binaryDataArray><cvParam accession="MS:1000515" name="intensity array"/>""" +
          """<cvParam accession="MS:1000523" name="64-bit float"/>""" +
          """<cvParam accession="MS:1000574" name="zlib compression"/>""" +
          s"<binary>${b64zlib(inten)}</binary></binaryDataArray>")
        w.write("</binaryDataArrayList></spectrum>\n")
      }
    }
    w.write("</spectrumList></run></mzML>\n")
    w.close()
    f
  }

  private def read(path: String): DataFrame =
    spark.read.format("mzml").load(path)
      .select(col("id"), size(col("mz.mz")).as("n_mz"),
        expr("CAST(aggregate(intensity.intensity, 0D, (a, x) -> a + x) AS LONG)")
          .as("sum_inten"))

  test("big mzml fans out via spectrum-tag resync; rows invariant") {
    val whole = withConf("spark.sql.files.maxPartitionBytes" -> "1073741824",
                         "spark.sql.files.openCostInBytes" -> "1073741824") {
      val w = read(mzFile.getAbsolutePath)
      assert(w.rdd.getNumPartitions == 1)
      w
    }
    assert(whole.count() == nSpec)
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val split = read(mzFile.getAbsolutePath)
      val parts = split.rdd.getNumPartitions
      assert(parts >= 4, s"mzml resync split did not engage: $parts partition(s)")
      assert(split.count() == nSpec)
      assert(split.except(whole).count() == 0 && whole.except(split).count() == 0,
        "split scan produced different rows")
    }
  }

  test("invariance across cut sizes (cuts land mid-base64, mid-tag, mid-attr)") {
    val whole = withConf("spark.sql.files.maxPartitionBytes" -> "1073741824",
                         "spark.sql.files.openCostInBytes" -> "1073741824") {
      read(mzFile.getAbsolutePath)
    }
    for (sz <- Seq("131072", "524288", "1048576")) {
      withConf("spark.sql.files.maxPartitionBytes" -> sz,
               "spark.sql.files.openCostInBytes" -> "1024") {
        val split = read(mzFile.getAbsolutePath)
        assert(split.except(whole).count() == 0 && whole.except(split).count() == 0,
          s"rows not invariant at maxPartitionBytes=$sz")
      }
    }
  }

  test("split decodes exactly: closed-form intensity sums and empty spectra") {
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "16384") {
      val df = spark.read.format("mzml").load(mzFile.getAbsolutePath)
      val r = df.agg(
        count(lit(1)),
        sum(when(col("mz").isNull || size(col("mz.mz")) === 0, 1L).otherwise(0L)),
        sum(expr("aggregate(intensity.intensity, 0D, (a, x) -> a + x)"))).head
      assert(r.getLong(0) == nSpec)
      assert(r.getLong(1) == nSpec / 100, "self-closed empty spectra lost in the split")
      val exp = (0 until nSpec).filter(_ % 100 != 99)
        .map(i => (0 until 40).map(j => ((i * 31 + j * 17) % 10000).toLong).sum).sum
      assert(r.getDouble(2).toLong == exp, s"intensity sum ${r.getDouble(2)} != $exp")
    }
  }

  // A commented-out spectrum and a '<spectrum' inside a processing
  // instruction are NOT records: the whole-file StAX path never sees them,
  // so the raw-byte resync scan must not either (XML allows '<' in
  // comments/PIs — only text and attribute values forbid it).
  test("'<spectrum' inside comments and PIs yields no phantom rows in split mode") {
    val dir = graft.TestTmp.dir("mzml_split_comment")
    val f = new java.io.File(dir.toFile, "commented.mzML")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    val n = 800
    w.write("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<mzML><run><spectrumList>\n")
    (0 until n).foreach { i =>
      if (i % 50 == 0) {
        // a full well-formed spectrum element, commented out
        w.write(s"""<!-- disabled: <spectrum id="phantom_c$i" index="$i" """ +
          s"""defaultArrayLength="0"></spectrum> -->\n""")
        // and one inside a processing instruction
        w.write(s"""<?vendor keep <spectrum id="phantom_p$i"/> ?>\n""")
      }
      w.write(s"""<spectrum id="scan=$i" index="$i" defaultArrayLength="0">""" +
        s"""<cvParam accession="MS:1000511" name="ms level" value="${i % 3 + 1}"/>""" +
        s"""<pad>${"x" * 600}</pad></spectrum>\n""")
    }
    w.write("</spectrumList></run></mzML>\n")
    w.close()
    def rd() = spark.read.format("mzml").load(f.getAbsolutePath)
      .select(col("id"), col("cv_params")(0)("value").as("lvl"))
    val whole = withConf("spark.sql.files.maxPartitionBytes" -> "1073741824",
                         "spark.sql.files.openCostInBytes" -> "1073741824") {
      val wdf = rd(); assert(wdf.rdd.getNumPartitions == 1); wdf
    }
    assert(whole.count() == n)
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
             "spark.sql.files.openCostInBytes" -> "1024") {
      val split = rd()
      assert(split.rdd.getNumPartitions >= 4,
        s"resync split did not engage: ${split.rdd.getNumPartitions}")
      assert(split.count() == n, "phantom rows from commented/PI spectra")
      assert(split.except(whole).count() == 0 && whole.except(split).count() == 0)
      assert(!split.select("id").collect().map(_.getString(0))
        .exists(_.startsWith("phantom")), "phantom id surfaced")
    }
  }

  // "-->" is LEGAL XML character/attribute data (only "]]>" is forbidden in
  // content, and even that is legal inside attribute values): a file
  // carrying both inside cvParam values must still SPLIT, with rows
  // identical to the whole-file plan. r14's always-armed tripwire refused
  // these files whenever a cut landed mid-record before the closer bytes;
  // the pre-accept-tolerant scan reads them fine.
  test("'-->' and ']]>' inside attribute values: file still splits, rows invariant") {
    val dir = graft.TestTmp.dir("mzml_split_arrow")
    val f = new java.io.File(dir.toFile, "arrow.mzML")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    val n = 900
    w.write("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<mzML><run><spectrumList>\n")
    (0 until n).foreach { i =>
      // every record carries a closer-lookalike in an attribute value, so
      // ANY mid-record cut puts one in the resync scan's pre-accept window
      val trap = if (i % 2 == 0) s"mapsTo --> node$i" else s"cut ]]> here$i"
      w.write(s"""<spectrum id="scan=$i" index="$i" defaultArrayLength="0">""" +
        s"""<cvParam accession="MS:1000511" name="ms level" value="${i % 3 + 1}"/>""" +
        s"""<userParam name="annotation" value="$trap"/>""" +
        s"""<pad>${"z" * 500}</pad></spectrum>\n""")
    }
    w.write("</spectrumList></run></mzML>\n")
    w.close()
    def rd() = spark.read.format("mzml").load(f.getAbsolutePath)
      .select(col("id"), col("cv_params")(0)("value").as("lvl"))
    val whole = withConf("spark.sql.files.maxPartitionBytes" -> "1073741824",
                         "spark.sql.files.openCostInBytes" -> "1073741824") {
      val wdf = rd(); assert(wdf.rdd.getNumPartitions == 1); wdf
    }
    assert(whole.count() == n)
    for (sz <- Seq("65536", "131072")) {
      withConf("spark.sql.files.maxPartitionBytes" -> sz,
               "spark.sql.files.openCostInBytes" -> "1024") {
        val split = rd()
        assert(split.rdd.getNumPartitions >= 3,
          s"file with '-->' in attributes must still split: ${split.rdd.getNumPartitions}")
        assert(split.count() == n)
        assert(split.except(whole).count() == 0 && whole.except(split).count() == 0,
          s"rows diverged at maxPartitionBytes=$sz")
      }
    }
  }

  // Namespace-prefixed documents stay whole-file: a '<mz:spectrum' fragment
  // parsed alone would lose its namespace context, so resyncSplitSniff
  // ('<mzML'/'<indexedmzML' unprefixed) must refuse to split them — with
  // identical rows to prove the fallback is a plan change, not a data one.
  test("namespace-prefixed mzML stays whole-file under split-forcing confs") {
    val dir = graft.TestTmp.dir("mzml_split_prefixed")
    val f = new java.io.File(dir.toFile, "prefixed.mzML")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    val n = 500
    w.write("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    w.write("<mz:mzML xmlns:mz=\"http://psi.hupo.org/ms/mzml\">" +
      "<mz:run><mz:spectrumList>\n")
    (0 until n).foreach { i =>
      w.write(s"""<mz:spectrum id="scan=$i" index="$i" defaultArrayLength="0">""" +
        s"""<mz:cvParam accession="MS:1000511" name="ms level" value="${i % 3 + 1}"/>""" +
        s"""<mz:pad>${"y" * 400}</mz:pad></mz:spectrum>\n""")
    }
    w.write("</mz:spectrumList></mz:run></mz:mzML>\n")
    w.close()
    def rd() = spark.read.format("mzml").load(f.getAbsolutePath)
      .select(col("id"), col("cv_params")(0)("value").as("lvl"))
    val whole = withConf("spark.sql.files.maxPartitionBytes" -> "1073741824",
                         "spark.sql.files.openCostInBytes" -> "1073741824") { rd() }
    assert(whole.count() == n)
    withConf("spark.sql.files.maxPartitionBytes" -> "65536",
             "spark.sql.files.openCostInBytes" -> "1024") {
      val df = rd()
      assert(df.rdd.getNumPartitions == 1,
        "prefixed document must refuse the split plan (fragments lose namespace context)")
      assert(df.count() == n)
      assert(df.except(whole).count() == 0 && whole.except(df).count() == 0)
    }
  }

  test("plain-gzip copy stays one task, same rows") {
    val gz = new java.io.File(mzFile.getParentFile, "big.mzML.gz")
    if (!gz.exists()) {
      val in = java.nio.file.Files.readAllBytes(mzFile.toPath)
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(gz), 1 << 16)
      out.write(in); out.close()
    }
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
             "spark.sql.files.openCostInBytes" -> "1024") {
      val gzDf = read(gz.getAbsolutePath)
      assert(gzDf.rdd.getNumPartitions == 1,
        "plain gzip cannot be entered mid-stream and must stay one task")
      assert(gzDf.count() == nSpec)
    }
  }

  test("the reader's Inflater ends in the next() that serves the last row") {
    import graft.sources.formats.MzMlFormat
    val before = MzMlFormat.liveReaderInflaters.get
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(mzFile), 1 << 16)
    try {
      val whole = FileChunk(mzFile.getAbsolutePath, 0, mzFile.length, mzFile.length, Array.empty)
      val it = MzMlFormat.records(new RecordInput(whole, in), Array(0))
      (1 until nSpec).foreach(_ => it.next())
      assert(MzMlFormat.liveReaderInflaters.get == before + 1, "released before the last row")
      it.next() // the last row: no hasNext() after it
      assert(MzMlFormat.liveReaderInflaters.get == before)
    } finally in.close()
  }

  test("LIMIT 1 and a full drain both release every reader Inflater") {
    import graft.sources.formats.MzMlFormat
    val before = MzMlFormat.liveReaderInflaters.get
    val df = spark.read.format("mzml").load(mzFile.getAbsolutePath)
    assert(df.limit(1).collect().length == 1)
    assert(MzMlFormat.liveReaderInflaters.get == before, "LIMIT 1 left an Inflater open")
    assert(df.select("id").collect().length == nSpec)
    assert(MzMlFormat.liveReaderInflaters.get == before, "a full drain left an Inflater open")
  }
}
