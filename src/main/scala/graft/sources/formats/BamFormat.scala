package graft.sources.formats

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources._
import graft.sources.FormatUtil._

/** BAM reader: binary alignment records inside BGZF, hand-decoded from the
  * public SAM/BAM spec (§4.2). Output schema and value semantics match the
  * SAM text reader (same golden row as sam-select-tests.slt; 1-based start,
  * CIGAR-derived end, raw Phred quality list, 255 mapq -> null).
  *
  * This object holds the header, resync validator and record parse; how a
  * chunk is entered (whole file, `.bai` chunk, index-free resync cut) is
  * the shared driver BgzfRecords.
  */
object BamFormat extends GraftFormat with BgzfRecordCodec[BamHeader] {
  override def shortName: String = "bam"
  override def defaultExtensions: Seq[String] = Seq("bam")
  override val dataSchema: StructType = SamFormat.dataSchema
  override def regionColumns: Option[(String, String, String)] =
    Some(("reference", "start", "end"))

  private val SeqCode = "=ACMGRSVTWYHKDBN"
  // byte table for the 4-bit base decode: the hot loop writes ASCII bytes
  // straight into the output array (a StringBuilder + String + UTF-8
  // re-encode per read was ~18% of the BAM decode profile)
  private val SeqCodeBytes = SeqCode.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val CigarOps = "MIDNSHP=X"

  /** The header from a stream positioned at the magic: the one parse behind
    * the reader, BaiIndex.forBam and a sink's `headerFrom`.
    */
  override def readHeader(in: LeIn): BamHeader = {
    val magic = in.bytes(4)
    require(magic(0) == 'B' && magic(1) == 'A' && magic(2) == 'M', "not a BAM file")
    val text = new String(in.bytes(in.i32()), java.nio.charset.StandardCharsets.US_ASCII)
    val nRef = in.i32()
    val refs = Array.fill(nRef) {
      val lName = in.i32()
      val name = new String(in.bytes(lName), 0, lName - 1,
        java.nio.charset.StandardCharsets.US_ASCII) // strip trailing NUL
      (name, in.i32())
    }
    new BamHeader(text, refs)
  }

  override def refCount(h: BamHeader): Int = h.refs.length

  override def bgzfRecordResync: Boolean = true

  @inline private def bI32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 3) & 0xff) << 24)
  @inline private def bU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Validate a candidate record start at `b(c)`: walk the chain of
    * block_size-linked record headers, checking each against the BAM spec's
    * hard invariants (refID/next_refID within the header's reference count,
    * positions >= -1, read name present and NUL-terminated, block_size no
    * smaller than the fixed fields it must contain). Two chained valid
    * headers make a payload false positive astronomically unlikely — the
    * same technique (and largely the same checks) as hadoop-bam's
    * BAMSplitGuesser. Returns 1 valid, 0 invalid, -1 need more buffered
    * bytes to decide.
    */
  override def validateChain(b: Array[Byte], n: Int, c: Int,
                             nRef: Int, exhausted: Boolean): Int = {
    var p = c.toLong
    var k = 0
    while (true) {
      if (p + 36 > n)
        return if (!exhausted) -1 else if (k >= 1 && p == n) 1 else 0
      val pi = p.toInt
      val bs = bI32(b, pi)
      if (bs < 34 || bs > (1 << 28)) return 0
      val refId = bI32(b, pi + 4)
      if (refId < -1 || refId >= nRef) return 0
      if (bI32(b, pi + 8) < -1) return 0
      val lrn = b(pi + 12) & 0xff
      if (lrn < 1) return 0
      val ncig = bU16(b, pi + 16)
      val lseq = bI32(b, pi + 20)
      if (lseq < 0) return 0
      val nrid = bI32(b, pi + 24)
      if (nrid < -1 || nrid >= nRef) return 0
      if (bI32(b, pi + 28) < -1) return 0
      if (bs < 32L + lrn + 4L * ncig + (lseq + 1L) / 2 + lseq) return 0
      if (p + 36 + lrn > n) return if (exhausted) 0 else -1
      if (b(pi + 36 + lrn - 1) != 0) return 0
      var q = pi + 36
      while (q < pi + 36 + lrn - 1) { if (b(q) == 0) return 0; q += 1 }
      k += 1
      if (k >= 2) return 1
      p += 4L + bs
      if (p > n) return if (exhausted) 0 else -1
    }
    1 // unreachable
  }

  override def records(input: RecordInput, schema: StructType,
                       required: Array[Int]): Iterator[Array[Any]] =
    BgzfRecords.records(this, input, required)

  override def parseRecord(in: LeIn, blockSize: Int, h: BamHeader,
                           required: Array[Int]): Array[Any] = {
    val refs = h.names
    val refId = in.i32()
    val pos0 = in.i32()
    val lReadName = in.u8()
    val mapq = in.u8()
    in.u16() // bin
    val nCigar = in.u16()
    val flag = in.u16()
    val lSeq = in.i32()
    val nextRefId = in.i32()
    in.i32() // next_pos
    in.i32() // tlen
    val nameBytes = in.bytes(lReadName)
    val cigarOps = Array.fill(nCigar)(in.i32())
    val seqBytes = in.bytes((lSeq + 1) / 2)
    val qualBytes = in.bytes(lSeq)
    val tagLen = blockSize - 32 - lReadName - 4 * nCigar - (lSeq + 1) / 2 - lSeq
    val tagBytes = in.bytes(tagLen)

    def cigarString: String = {
      if (nCigar == 0) return null
      val sb = new java.lang.StringBuilder()
      cigarOps.foreach { op => sb.append(op >>> 4).append(CigarOps.charAt(op & 0xf)) }
      sb.toString
    }
    def refLen: Long = cigarOps.iterator.map { op =>
      (op & 0xf) match {
        case 0 | 2 | 3 | 7 | 8 => (op >>> 4).toLong // M D N = X
        case _ => 0L
      }
    }.sum
    val unmapped = refId < 0 || pos0 < 0 || nCigar == 0

    // while + @switch: required.map's Function1 dispatch is a measured
    // per-record tax (see the r17 VCF parse notes)
    val row = new Array[Any](required.length)
    var k = 0
    while (k < required.length) {
      row(k) = (required(k): @scala.annotation.switch) match {
        case 0 =>
          // missing name: empty or the "*" placeholder (bytes incl. the NUL)
          if (lReadName <= 1 || (lReadName == 2 && nameBytes(0) == '*')) null
          else UTF8String.fromBytes(nameBytes, 0, lReadName - 1)
        case 1 => flag
        case 2 => if (refId < 0) null else utf8(refs(refId))
        case 3 => if (refId < 0 || pos0 < 0) null else (pos0 + 1).toLong
        case 4 => if (unmapped) null else pos0 + refLen
        case 5 => if (mapq == 255) null else utf8(mapq.toString)
        case 6 => if (nCigar == 0) null else utf8(cigarString)
        case 7 =>
          if (nextRefId < 0) null else utf8(refs(nextRefId))
        case 8 =>
          if (lSeq == 0) null
          else {
            val out = new Array[Byte](lSeq)
            var i = 0
            while (i < lSeq) {
              val b = seqBytes(i / 2) & 0xff
              out(i) = SeqCodeBytes(if (i % 2 == 0) b >>> 4 else b & 0xf)
              i += 1
            }
            UTF8String.fromBytes(out)
          }
        case 9 =>
          if (lSeq == 0 || (qualBytes.nonEmpty && (qualBytes(0) & 0xff) == 0xff)) null
          else {
            // primitive long array, no per-value boxing (100 boxed Longs per
            // read showed up as Arrays.copyOf churn in the decode profile)
            val arr = new Array[Long](lSeq)
            var i = 0
            while (i < lSeq) { arr(i) = qualBytes(i) & 0xff; i += 1 }
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
              .fromPrimitiveArray(arr)
          }
        case 10 => parseTags(tagBytes)
      }
      k += 1
    }
    row
  }

  /** Binary tags -> ARRAY<STRUCT<tag, value-as-string>> (same surface as the
    * SAM text reader's unparsed-tags mode).
    */
  private def parseTags(bytes: Array[Byte]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def readString(): String = {
      val sb = new java.lang.StringBuilder()
      var c = bb.get()
      while (c != 0) { sb.append(c.toChar); c = bb.get() }
      sb.toString
    }
    while (bb.remaining() >= 4) {
      val tag = "" + bb.get().toChar + bb.get().toChar
      val typ = bb.get().toChar
      val value: String = typ match {
        case 'A' => bb.get().toChar.toString
        case 'c' => bb.get().toString
        case 'C' => (bb.get() & 0xff).toString
        case 's' => bb.getShort().toString
        case 'S' => (bb.getShort() & 0xffff).toString
        case 'i' => bb.getInt().toString
        case 'I' => (bb.getInt() & 0xffffffffL).toString
        case 'f' => floatStr(bb.getFloat())
        case 'Z' => readString()
        case 'H' => readString()
        case 'B' =>
          val elem = bb.get().toChar
          val n = bb.getInt()
          val vals = (0 until n).map { _ =>
            elem match {
              case 'c' => bb.get().toString
              case 'C' => (bb.get() & 0xff).toString
              case 's' => bb.getShort().toString
              case 'S' => (bb.getShort() & 0xffff).toString
              case 'i' => bb.getInt().toString
              case 'I' => (bb.getInt() & 0xffffffffL).toString
              case 'f' => floatStr(bb.getFloat())
            }
          }
          vals.mkString(",")
        case _ => return new GenericArrayData(out.toArray) // unknown: stop
      }
      out += new GenericInternalRow(Array[Any](utf8(tag), utf8(value)))
    }
    new GenericArrayData(out.toArray)
  }

  private def floatStr(f: Float): String = {
    if (f == f.toLong.toFloat && math.abs(f) < 1e15f) {
      val l = f.toLong
      if (l.toFloat == f) return l.toString
    }
    f.toString
  }
}
