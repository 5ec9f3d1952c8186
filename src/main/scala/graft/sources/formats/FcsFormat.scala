package graft.sources.formats

import java.io.{DataInputStream, InputStream}
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.types._
import graft.sources._

/** FCS (flow cytometry standard) binary reader. Schema is file-driven: one
  * FLOAT column per parameter, named by the $PnS long names from the TEXT
  * segment (reference exon/exon-fcs/src/reader/mod.rs:218-230; fixture
  * `Guava Muse.fcs` = 10 parameters x 108 events).
  *
  * Supported: $DATATYPE F (float32), $BYTEORD 1,2,3,4 / 4,3,2,1, DATA
  * segment located via the header offsets or $BEGINDATA/$ENDDATA.
  */
object FcsFormat extends GraftFormat {
  override def shortName: String = "fcs"
  override def defaultExtensions: Seq[String] = Seq("fcs")
  override val dataSchema: StructType = StructType(Nil)

  private final case class Meta(params: Seq[String], nEvents: Int, dataStart: Long,
                                bigEndian: Boolean)

  private def readMeta(in: InputStream): Meta = {
    var pos = 0L
    def readFully(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var got = 0
      while (got < n) {
        val r = in.read(b, got, n - got)
        require(r >= 0, "fcs: truncated file")
        got += r
      }
      pos += n
      b
    }
    def skipTo(target: Long): Unit = {
      var remaining = target - pos
      require(remaining >= 0, s"fcs: cannot seek backwards ($pos -> $target)")
      while (remaining > 0) {
        val skipped = in.skip(remaining)
        require(skipped > 0, "fcs: truncated while skipping")
        remaining -= skipped
        pos += skipped
      }
    }
    val header = new String(readFully(58), java.nio.charset.StandardCharsets.US_ASCII)
    require(header.startsWith("FCS"), "not an FCS file")
    val textStart = header.substring(10, 18).trim.toLong
    val textEnd = header.substring(18, 26).trim.toLong
    val headerDataStart = header.substring(26, 34).trim.toLong

    skipTo(textStart)
    val text = new String(readFully((textEnd - textStart + 1).toInt),
      java.nio.charset.StandardCharsets.US_ASCII)
    val delim = text.charAt(0)
    val parts = text.substring(1).split(java.util.regex.Pattern.quote(delim.toString), -1)
    val kv = parts.grouped(2).collect { case Array(k, v) => k.trim -> v.trim }.toMap

    val nPar = kv.getOrElse("$PAR", "0").toInt
    val nTot = kv.getOrElse("$TOT", "0").toInt
    val dtype = kv.getOrElse("$DATATYPE", "F")
    require(dtype == "F", s"fcs: unsupported $$DATATYPE $dtype (only F)")
    val byteord = kv.getOrElse("$BYTEORD", "4,3,2,1")
    // FCS 2.0 permits mixed orders like 3,4,1,2 — decoding those as LE
    // would yield plausible-looking garbage, so fail loudly instead.
    require(byteord == "4,3,2,1" || byteord == "1,2,3,4",
      s"fcs: unsupported $$BYTEORD '$byteord' (only 4,3,2,1 or 1,2,3,4)")
    val bigEndian = byteord == "4,3,2,1"
    val names = (1 to nPar).map { i =>
      kv.getOrElse(s"$$P${i}S", kv.getOrElse(s"$$P${i}N", s"P$i"))
    }
    val dataStart =
      if (headerDataStart > 0) headerDataStart
      else kv.getOrElse("$BEGINDATA", "0").toLong
    skipTo(dataStart)
    Meta(names, nTot, dataStart, bigEndian)
  }

  override def inferDataSchema(files: Seq[FileStatus],
                               open: FileStatus => InputStream): StructType = {
    require(files.nonEmpty, "fcs: no files to infer schema from")
    val in = open(files.head)
    val meta = try readMeta(in) finally in.close()
    StructType(meta.params.map(p => StructField(p, FloatType, nullable = false)))
  }

  /** Fixed-stride split of big FCS files: the header/TEXT segment IS the
    * index — DATA is $TOT rows of 4*$PAR bytes from dataStart — so exact
    * row-aligned cut offsets cost ONE small driver read (memoized by the
    * planner). Readers seek to their cut and decode exactly the events
    * whose start byte lies in [startOffset, end), via the generic
    * aligned-chunk machinery. Cuts are emitted FINE-grained at a fixed,
    * conf-independent quantum (max(256 KiB, fileSize/2^16, one row)) and
    * the planner's maxSplit grouping picks the actual chunk size — the
    * cut list must not depend on any tunable, because the planner
    * memoizes it per (path, mtime, len). A million-event cytometry file
    * fans out instead of one task; the quantum cap bounds the cut list
    * at ~64k entries for any file size.
    */
  override def alignedCutOffsets(fs: org.apache.hadoop.fs.FileSystem,
                                 path: org.apache.hadoop.fs.Path,
                                 fileSize: Long): Array[Long] = {
    val in = fs.open(path)
    val meta = try readMeta(in) finally in.close()
    val rowBytes = 4L * meta.params.length
    if (rowBytes <= 0 || meta.nEvents <= 0) return null
    val quantum = math.max(rowBytes, math.max(256L << 10, fileSize >> 16))
    val rowsPerCut = math.max(1L, quantum / rowBytes)
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var r = rowsPerCut
    while (r < meta.nEvents) {
      out += meta.dataStart + r * rowBytes
      r += rowsPerCut
    }
    if (out.isEmpty) null else out.toArray
  }

  override def records(input: RecordInput, schema: StructType,
                       required: Array[Int]): Iterator[Array[Any]] =
    new Iterator[Array[Any]] {
      // Whole-file/head chunk: readMeta leaves the stream positioned at
      // the DATA segment. Aligned mid-file chunk: the stream is already
      // seeked to the (row-aligned) cut; the meta comes from one small
      // re-read of the head.
      private val meta =
        if (input.chunk.startOffset > 0) {
          val in2 = input.reopenRaw()
          try readMeta(in2) finally in2.close()
        } else readMeta(input.stream)
      private val din = new DataInputStream(input.stream)
      private val nPar = schema.fields.length
      require(meta.params.length == nPar,
        s"fcs: file has ${meta.params.length} parameters but the table schema " +
          s"(inferred from the first listed file) has $nPar — mixed-layout " +
          "directories are not supported")
      private val rowBytes = 4L * nPar
      // events owned by this chunk: start byte in [startOffset, end)
      private val e0: Long =
        if (input.chunk.startOffset <= 0) 0L
        else {
          val rel = input.chunk.startOffset - meta.dataStart
          require(rel >= 0 && rel % rowBytes == 0,
            s"fcs: cut ${input.chunk.startOffset} is not row-aligned " +
              s"(dataStart=${meta.dataStart}, rowBytes=$rowBytes)")
          rel / rowBytes
        }
      private val e1: Long =
        if (input.end == Long.MaxValue) meta.nEvents.toLong
        else math.min(meta.nEvents.toLong, math.max(0L,
          (input.end - meta.dataStart + rowBytes - 1) / rowBytes))
      private var emitted = 0L

      // Block-wise decode: DataInputStream.readInt per value is four
      // byte-reads and an endianness fix-up each — ~200 ns/float on a
      // 240M-float file. Rows are read in ~64 KiB blocks (readFully keeps
      // the truncation-raises-EOF contract) and values decoded by absolute
      // ByteBuffer.getFloat in the file's byte order; only the REQUIRED
      // columns decode at all.
      // $PAR=0 declares zero-byte rows: no bytes to decode and no columns to
      // project — emit nothing rather than divide by zero below (the split
      // planner already refuses rowBytes<=0 in alignedCutOffsets).
      private val chunkRows =
        if (rowBytes <= 0) 1 else math.max(1L, (1L << 16) / rowBytes).toInt
      private val buf = new Array[Byte]((chunkRows * rowBytes).toInt)
      private val bb = java.nio.ByteBuffer.wrap(buf).order(
        if (meta.bigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      private var bufRows = 0
      private var bufIdx = 0

      override def hasNext: Boolean = e0 + emitted < e1

      override def next(): Array[Any] = {
        if (bufIdx == bufRows) {
          val left = e1 - (e0 + emitted)
          bufRows = math.min(chunkRows.toLong, left).toInt
          din.readFully(buf, 0, bufRows * rowBytes.toInt)
          bufIdx = 0
        }
        emitted += 1
        val base = bufIdx * rowBytes.toInt
        bufIdx += 1
        val out = new Array[Any](required.length)
        var j = 0
        while (j < required.length) {
          out(j) = bb.getFloat(base + 4 * required(j))
          j += 1
        }
        out
      }
    }
}
