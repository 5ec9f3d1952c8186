package graft.sources

import java.io.{BufferedOutputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StructType

/** BAM sink: binary alignment records inside BGZF with a sibling `.bai`
  * per part file, the third index family the engine both reads and writes
  * (after `.tbi` VCF/GFF). The reference has no BAM sink at all — its
  * `COPY` only targets text formats (sinks/simple_record_sink.rs) — so
  * this is beyond-reference surface, shaped like `samtools view -b` +
  * `samtools index` but parallel per task.
  *
  * The BAM reference dictionary (names + lengths) cannot be derived from
  * the rows, exactly as `samtools` cannot convert SAM→BAM without `@SQ`
  * headers; callers pass either
  *   `option("headerFrom", <existing .bam>)` — copy header text + refs, or
  *   `option("refs", "name:len,name:len,...")` — synthesize a minimal
  *   coordinate-sorted header.
  * Rows must arrive sorted by (reference in header order, start) within
  * each partition, unmapped-without-coordinate rows last — the writer
  * refuses otherwise rather than emit a silently-wrong index. The `.bai`
  * carries the metadata pseudo-bin (37450: virtual span + mapped/unmapped
  * counts) and trailing n_no_coor, so `samtools idxstats`-shaped count
  * pushdown works against the sink's own output.
  *
  * Tag values are stored as strings in the scan schema (BamFormat.parseTags
  * flattens every numeric width to its decimal form), so the writer re-types
  * integers as 'i' and everything else as 'Z': lossless through this
  * engine's own reader, width-normalizing for external ones.
  */
object BamHeader {
  /** (header text, refs as (name, length)) from an existing BAM. */
  def read(path: Path, conf: Configuration): (String, Array[(String, Int)]) = {
    val in = new MultiMemberGzipInputStream(path.getFileSystem(conf).open(path))
    val h =
      try formats.BamFormat.readHeader(new LeIn(in))
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"${e.getMessage}: $path", e) }
      finally in.close()
    (h.text, h.refs)
  }

  /** Minimal coordinate-sorted header text for a synthesized dictionary. */
  def synthesize(refs: Array[(String, Int)]): String = {
    val sb = new StringBuilder("@HD\tVN:1.6\tSO:coordinate\n")
    refs.foreach { case (n, l) => sb.append(s"@SQ\tSN:$n\tLN:$l\n") }
    sb.toString
  }

  def parseRefsOption(s: String): Array[(String, Int)] =
    s.split(',').map { part =>
      val i = part.lastIndexOf(':')
      require(i > 0, s"refs option entries must be name:length, got '$part'")
      (part.substring(0, i), part.substring(i + 1).trim.toInt)
    }

  /** Reference name -> tid, in dictionary order. */
  def tids(refs: Array[(String, Int)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](refs.length * 2)
    refs.indices.foreach(i => m.put(refs(i)._1, i))
    m
  }

  /** The dictionary of a BAM or CRAM write, resolved on the driver: every
    * task needs the identical tid numbering or the per-part indexes would
    * disagree.
    */
  def resolve(sink: String, options: Map[String, String],
              conf: Configuration): (String, Array[(String, Int)]) =
    options.get("headerfrom") match {
      case Some(src) => read(new Path(src), conf)
      case None => options.get("refs") match {
        case Some(r) =>
          val rs = parseRefsOption(r)
          (synthesize(rs), rs)
        case None => throw new IllegalArgumentException(
          s"$sink write requires the target reference dictionary: pass " +
            "option(\"headerFrom\", <existing .bam>) or " +
            "option(\"refs\", \"name:len,name:len,...\") — the same " +
            "@SQ requirement samtools imposes on SAM->BAM conversion")
      }
    }
}

/** A parsed BAM header: its SAM text and its reference dictionary. */
final class BamHeader(val text: String, val refs: Array[(String, Int)]) {
  /** Reference names by id, for the per-record lookup. */
  val names: Array[String] = refs.map(_._1)
}

/** BAM job: the resolved header text and dictionary. */
final class BamSink(headerText: String, refs: Array[(String, Int)]) extends SinkJob {
  def dataSchema: StructType = formats.SamFormat.dataSchema
  def extension: String = "bam"
  def siblings: Seq[String] = Seq(".bai")
  def open(out: OutputStream, fileName: String): SinkEncoder =
    new BamEncoder(headerText, refs, out)
}

object BamSink {
  def apply(options: Map[String, String], conf: Configuration): BamSink = {
    val (text, refs) = BamHeader.resolve("bam", options, conf)
    new BamSink(text, refs)
  }
}

private final class BamEncoder(headerText: String, refs: Array[(String, Int)],
                               raw: OutputStream) extends SinkEncoder {

  private val tidOf = BamHeader.tids(refs)

  private val bgzf = new BgzfWriter(new BufferedOutputStream(raw, 1 << 16))
  private val bai = new BaiWriter(refs.length)
  private var lastTid = -1
  private var lastPos = -1L
  private var sawNoCoor = false

  private val SeqNibble: Array[Byte] = {
    val a = Array.fill[Byte](128)(15) // unknown base -> N
    "=ACMGRSVTWYHKDBN".zipWithIndex.foreach { case (c, i) => a(c.toInt) = i.toByte }
    a('a') = 1; a('c') = 2; a('g') = 4; a('t') = 8; a('n') = 15
    a
  }
  private val CigarOp: Array[Byte] = {
    val a = Array.fill[Byte](128)(-1)
    "MIDNSHP=X".zipWithIndex.foreach { case (c, i) => a(c.toInt) = i.toByte }
    a
  }
  private val IntRe = "-?\\d+".r.pattern

  // one record buffer per part, reset per record; its bytes go to the
  // BGZF writer in place, behind a reused block_size prefix
  private val body = new LeOut(new RecordBuffer(1 << 14))
  private val blockSize = new Array[Byte](4)

  locally {
    body.bytes(Array[Byte]('B', 'A', 'M', 1))
    val text = headerText.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    body.i32(text.length); body.bytes(text)
    body.i32(refs.length)
    refs.foreach { case (name, len) =>
      val nb = (name + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      body.i32(nb.length); body.bytes(nb); body.i32(len)
    }
    bgzf.write(body.os.bytes, 0, body.os.size())
  }

  override def write(v: Array[Any]): Unit = {
    val ref = if (v(2) == null) null else v(2).toString
    val refId =
      if (ref == null) -1
      else {
        val t = tidOf.get(ref)
        if (t == null) throw new IllegalArgumentException(
          s"bam write: reference '$ref' is not in the header dictionary " +
            s"(${refs.length} refs); fix option(\"headerFrom\"/\"refs\")")
        t.intValue()
      }
    val pos0 = if (v(3) == null) -1L else v(3).asInstanceOf[Long] - 1
    // coordinate-sort precondition, mirrored from the tabix sinks: a broken
    // ordering would produce a silently-wrong .bai — refuse loudly instead
    if (refId < 0 || pos0 < 0) sawNoCoor = true
    else {
      if (sawNoCoor || refId < lastTid || (refId == lastTid && pos0 < lastPos))
        throw new IllegalArgumentException(
          s"bam write requires rows sorted by (reference in header order, " +
            s"start) within each partition, unmapped rows last; got " +
            s"$ref:${pos0 + 1} out of order. Sort with " +
            "df.repartitionByRange(...).sortWithinPartitions(col(\"reference\")" +
            ".asc_nulls_last, col(\"start\").asc_nulls_last)")
      lastTid = refId; lastPos = pos0
    }

    val name = if (v(0) == null) "*" else v(0).toString
    val flag = v(1).asInstanceOf[Int]
    val mapq = if (v(5) == null) 255 else v(5).toString.toInt
    val cigar = if (v(6) == null) null else v(6).toString
    val mateRef = if (v(7) == null) null else v(7).toString
    val nextRefId =
      if (mateRef == null) -1
      else { val t = tidOf.get(mateRef); if (t == null) -1 else t.intValue() }
    val seq = if (v(8) == null) null else v(8).toString
    val lSeq = if (seq == null) 0 else seq.length

    // cigar ops + reference span (end consistent with the reader's
    // CIGAR-derived `end` so the index matches what scans report)
    var nCigar = 0
    var refLen = 0L
    val cigarOps = new scala.collection.mutable.ArrayBuffer[Int](8)
    if (cigar != null && cigar != "*") {
      var n = 0L
      var ci = 0
      while (ci < cigar.length) {
        val c = cigar.charAt(ci)
        if (c >= '0' && c <= '9') n = n * 10 + (c - '0')
        else {
          val op = CigarOp(c.toInt)
          require(op >= 0, s"bad CIGAR op '$c' in $cigar")
          cigarOps += ((n.toInt << 4) | op)
          op match {
            case 0 | 2 | 3 | 7 | 8 => refLen += n // M D N = X
            case _ => ()
          }
          n = 0
        }
        ci += 1
      }
      nCigar = cigarOps.length
    }
    val end0 = if (pos0 < 0) 0L else pos0 + math.max(refLen, 1L)
    val bin = if (pos0 >= 0) TabixIndex.reg2bin(pos0, end0) else 4680

    val nameBytes = (name + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    body.os.reset()
    // block_size goes out ahead of the buffer once the tags are encoded
    body.i32(refId); body.i32(pos0.toInt)
    body.u8(nameBytes.length); body.u8(mapq)
    body.i16(bin)
    body.i16(nCigar)
    body.i16(flag)
    body.i32(lSeq); body.i32(nextRefId); body.i32(-1 /* next_pos: not in scan schema */)
    body.i32(0 /* tlen: not in scan schema */)
    body.bytes(nameBytes)
    cigarOps.foreach(body.i32)
    if (lSeq > 0) {
      var si = 0
      while (si < lSeq) {
        val hi = SeqNibble(seq.charAt(si) & 0x7f) << 4
        val lo = if (si + 1 < lSeq) SeqNibble(seq.charAt(si + 1) & 0x7f) else 0
        body.u8(hi | lo)
        si += 2
      }
      v(9) match {
        case null => (0 until lSeq).foreach(_ => body.u8(0xff))
        case arr: ArrayData =>
          var qi = 0
          while (qi < lSeq) {
            body.u8((if (qi < arr.numElements()) arr.getLong(qi) else 0xffL).toInt)
            qi += 1
          }
      }
    }
    v(10) match {
      case null => ()
      case tags: ArrayData =>
        var ti = 0
        while (ti < tags.numElements()) {
          val t = tags.getStruct(ti, 2)
          val tag = t.getUTF8String(0).toString
          val value = if (t.isNullAt(1)) "" else t.getUTF8String(1).toString
          body.u8(tag.charAt(0)); body.u8(tag.charAt(1))
          if (IntRe.matcher(value).matches() &&
              value.toLong >= Int.MinValue && value.toLong <= Int.MaxValue) {
            body.u8('i'); body.i32(value.toInt)
          } else {
            body.u8('Z')
            body.bytes((value + "\u0000").getBytes(
              java.nio.charset.StandardCharsets.US_ASCII))
          }
          ti += 1
        }
    }
    val bs = body.os.size()
    blockSize(0) = bs.toByte; blockSize(1) = (bs >> 8).toByte
    blockSize(2) = (bs >> 16).toByte; blockSize(3) = (bs >> 24).toByte

    val vStart = bgzf.virtualPos
    bgzf.write(blockSize)
    bgzf.write(body.os.bytes, 0, bs)
    if (refId >= 0 && pos0 >= 0)
      bai.add(refId, pos0, end0, vStart, bgzf.virtualPos, (flag & 4) == 0)
    else bai.addNoCoor()
  }

  override def finish(): Seq[(String, OutputStream => Unit)] = {
    close()
    Seq(".bai" -> (os => bai.write(os)))
  }

  override def close(): Unit = { bgzf.finish(); raw.close() }
}

/** A ByteArrayOutputStream whose filled prefix `bytes(0 until size)` is
  * read in place, without the copy `toByteArray` makes.
  */
private final class RecordBuffer(capacity: Int)
    extends java.io.ByteArrayOutputStream(capacity) {
  def bytes: Array[Byte] = buf
}
