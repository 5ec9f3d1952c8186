package graft.sources

import java.io.{BufferedOutputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StructType

/** CRAM 3.0 sink — reference-less ("no_ref") CRAM, the mode `samtools view
  * -O cram --output-fmt-option no_ref` writes: the preservation map carries
  * RR=false and every read base travels verbatim in feature data series
  * ('b' runs for CIGAR match spans, 'I'/'S' for insertions and soft clips),
  * so neither writer nor reader needs the reference FASTA. The reference
  * engine has no CRAM sink at all (its COPY targets text formats only,
  * sinks/simple_record_sink.rs) — beyond-reference surface, and the fourth
  * binary family the engine both reads and writes (BAM/.bai, VCF/.tbi,
  * GFF/.tbi, now CRAM).
  *
  * Layout per spec (§6, §8-9): file definition, FILE_HEADER container with
  * the SAM text, then single-reference data containers — one per
  * consecutive same-reference run of ≤ `containerRecords` rows — each a
  * compression header block (preservation map RN=1 AP=0 RR=0, TD built from
  * this container's tag layouts, all data series EXTERNAL /
  * BYTE_ARRAY_STOP / BYTE_ARRAY_LEN into per-series external blocks), one
  * slice, gzip'd blocks with per-block CRC32 — and the canonical 38-byte
  * EOF container, plus a `.crai` sibling. Single-reference headers carry
  * real aliStart/aliSpan, so region readers prune the sink's own output by
  * header coordinates AND by the `.crai` without decoding. Mate info is
  * written detached (CF 0x2), positions absolute (AP=0), so records are
  * self-contained and containers parallelize with no cross-container state.
  *
  * Same header contract as the BAM sink: `option("headerFrom", <.bam>)` or
  * `option("refs", "name:len,...")` resolves the dictionary on the driver so
  * every task numbers references identically.
  */
final class CramSink(headerText: String, refs: Array[(String, Int)],
                     containerRecords: Int) extends SinkJob {
  def dataSchema: StructType = formats.SamFormat.dataSchema
  def extension: String = "cram"
  def siblings: Seq[String] = Seq(".crai")
  def open(out: OutputStream, fileName: String): SinkEncoder =
    new CramEncoder(headerText, refs, containerRecords, out, fileName)
}

object CramSink {
  def apply(options: Map[String, String], conf: Configuration): CramSink = {
    val (text, refs) = BamHeader.resolve("cram", options, conf)
    // records per container: 10k matches samtools' default granularity;
    // tests set it lower to make many-container fixtures for the split
    // sweeps
    new CramSink(text, refs,
      math.max(1, options.getOrElse("containerrecords", "10000").toInt))
  }
}

/** Low-level CRAM byte emitters shared by the writer and its spec. */
object CramCodec {
  def itf8(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    if (v >= 0 && v < 0x80) out.write(v)
    else if (v >= 0 && v < 0x4000) { out.write(0x80 | (v >> 8)); out.write(v & 0xff) }
    else if (v >= 0 && v < 0x200000) {
      out.write(0xC0 | (v >> 16)); out.write((v >> 8) & 0xff); out.write(v & 0xff)
    } else if (v >= 0 && v < 0x10000000) {
      out.write(0xE0 | (v >> 24)); out.write((v >> 16) & 0xff)
      out.write((v >> 8) & 0xff); out.write(v & 0xff)
    } else { // full 32 bits (also all negatives, e.g. ref id -1/-2)
      out.write(0xF0 | ((v >>> 28) & 0x0f)); out.write((v >>> 20) & 0xff)
      out.write((v >>> 12) & 0xff); out.write((v >>> 4) & 0xff); out.write(v & 0x0f)
    }
  }

  /** LTF8 for the small non-negative counters this writer emits. */
  def ltf8(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    require(v >= 0, s"ltf8 writer handles non-negative values, got $v")
    if (v < 0x80L) out.write(v.toInt)
    else if (v < 0x4000L) { out.write(0x80 | (v >> 8).toInt); out.write((v & 0xff).toInt) }
    else if (v < 0x200000L) {
      out.write(0xC0 | (v >> 16).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write((v & 0xff).toInt)
    } else {
      require(v < 0x10000000L, s"ltf8 writer limited to < 2^28, got $v")
      out.write(0xE0 | (v >> 24).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
  }

  /** One block: method/ctype/cid/sizes/payload + CRC32 (spec §8). Payloads
    * above the gzip floor compress with method 1; tiny ones go raw.
    */
  def block(ctype: Int, cid: Int, raw: Array[Byte],
            tryGzip: Boolean = true): Array[Byte] = {
    val (method, payload) =
      if (tryGzip && raw.length >= 64) {
        val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(raw); gz.finish(); gz.close()
        val z = bos.toByteArray
        if (z.length < raw.length) (1, z) else (0, raw)
      } else (0, raw)
    val b = new java.io.ByteArrayOutputStream(payload.length + 16)
    b.write(method); b.write(ctype); itf8(b, cid)
    itf8(b, payload.length); itf8(b, raw.length)
    b.write(payload, 0, payload.length)
    val body = b.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    new LeOut(b).i32(crc.getValue.toInt)
    b.toByteArray
  }

  /** Container header for a blocks-section of `length` bytes (spec §9). */
  def containerHeader(length: Int, refSeqId: Int, aliStart: Int, aliSpan: Int,
                      nRec: Int, bases: Long,
                      nBlocks: Int, landmarks: Seq[Int]): Array[Byte] = {
    val h = new java.io.ByteArrayOutputStream(64)
    new LeOut(h).i32(length)
    itf8(h, refSeqId); itf8(h, aliStart); itf8(h, aliSpan); itf8(h, nRec)
    ltf8(h, 0L) // global record counter (informational)
    ltf8(h, bases)
    itf8(h, nBlocks)
    itf8(h, landmarks.length); landmarks.foreach(itf8(h, _))
    val body = h.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    new LeOut(h).i32(crc.getValue.toInt)
    h.toByteArray
  }

  /** The canonical CRAM 3.0 EOF container (spec §9 end-of-file marker):
    * an empty container with refSeqId -1 and aliStart 0x454F46 ("EOF"),
    * holding one raw empty compression-header block.
    */
  def eofContainer(): Array[Byte] = {
    val blk = block(1, 0, Array[Byte](0x01, 0x00, 0x01, 0x00, 0x01, 0x00),
      tryGzip = false)
    val out = new java.io.ByteArrayOutputStream(64)
    out.write(containerHeader(blk.length, -1, 0x454F46, 0, 0, 0L, 1, Seq(0)), 0,
      containerHeader(blk.length, -1, 0x454F46, 0, 0, 0L, 1, Seq(0)).length)
    out.write(blk, 0, blk.length)
    out.toByteArray
  }
}

private final class CramEncoder(headerText: String, refs: Array[(String, Int)],
                                containerRecords: Int, raw: OutputStream,
                                fileName: String) extends SinkEncoder {

  import CramCodec._

  private val tidOf = BamHeader.tids(refs)

  private val out = new BufferedOutputStream(raw, 1 << 16)
  private val IntRe = "-?\\d+".r.pattern

  // one buffered row = the resolved per-record values; flushed per container
  private final case class Rec(name: String, flag: Int, refId: Int, pos: Long,
                               refSpan: Long, mapq: Int, cigar: String,
                               mateRefId: Int, seq: String, quals: Array[Int],
                               tags: Array[(String, Char, Array[Byte])])
  private val pending = new scala.collection.mutable.ArrayBuffer[Rec](containerRecords)
  private var written = 0L // absolute file offset, for the .crai sibling
  private val craiEntries =
    new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Long, Long)]

  private def emit(bytes: Array[Byte]): Unit = {
    out.write(bytes)
    written += bytes.length
  }

  locally {
    // file definition: magic, 3.0, 20-byte id
    emit(Array[Byte]('C', 'R', 'A', 'M', 3, 0))
    val id = new Array[Byte](20)
    fileName.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      .take(20).copyToArray(id)
    emit(id)
    // FILE_HEADER container: i32 text length + SAM text in one block
    val text = headerText.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val payload = new java.io.ByteArrayOutputStream(text.length + 4)
    new LeOut(payload).i32(text.length); payload.write(text, 0, text.length)
    val blk = block(0 /* FILE_HEADER */, 0, payload.toByteArray)
    emit(containerHeader(blk.length, 0, 0, 0, 0, 0L, 1, Seq(0)))
    emit(blk)
  }

  override def write(v: Array[Any]): Unit = {
    val ref = if (v(2) == null) null else v(2).toString
    val refId =
      if (ref == null) -1
      else {
        val t = tidOf.get(ref)
        if (t == null) throw new IllegalArgumentException(
          s"cram write: reference '$ref' is not in the header dictionary " +
            s"(${refs.length} refs); fix option(\"headerFrom\"/\"refs\")")
        t.intValue()
      }
    val mateRef = if (v(7) == null) null else v(7).toString
    val mateRefId =
      if (mateRef == null) -1
      else { val t = tidOf.get(mateRef); if (t == null) -1 else t.intValue() }
    val quals = v(9) match {
      case null => null
      case arr: ArrayData =>
        val q = new Array[Int](arr.numElements())
        var qi = 0
        while (qi < q.length) { q(qi) = arr.getLong(qi).toInt; qi += 1 }
        q
    }
    val tags: Array[(String, Char, Array[Byte])] = v(10) match {
      case null => Array.empty
      case arr: ArrayData =>
        (0 until arr.numElements()).map { ti =>
          val t = arr.getStruct(ti, 2)
          val tag = t.getUTF8String(0).toString
          val value = if (t.isNullAt(1)) "" else t.getUTF8String(1).toString
          // same re-typing policy as the BAM sink: decimal ints as 'i',
          // everything else 'Z' (lossless through this engine's reader)
          if (IntRe.matcher(value).matches() &&
              value.toLong >= Int.MinValue && value.toLong <= Int.MaxValue) {
            val raw4 = new Array[Byte](4)
            val iv = value.toInt
            raw4(0) = iv.toByte; raw4(1) = (iv >> 8).toByte
            raw4(2) = (iv >> 16).toByte; raw4(3) = (iv >> 24).toByte
            (tag, 'i', raw4)
          } else
            (tag, 'Z',
              value.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        }.toArray
    }
    val cigarStr = if (v(6) == null) null else v(6).toString
    // reference span (M/D/N/=/X) for the container header's aliStart/aliSpan
    var refSpan = 0L
    if (cigarStr != null && cigarStr != "*") {
      var n = 0L; var ci = 0
      while (ci < cigarStr.length) {
        val c = cigarStr.charAt(ci)
        if (c >= '0' && c <= '9') n = n * 10 + (c - '0')
        else { if ("MDN=X".indexOf(c) >= 0) refSpan += n; n = 0 }
        ci += 1
      }
    }
    pending += Rec(
      name = if (v(0) == null) "*" else v(0).toString,
      flag = v(1).asInstanceOf[Int],
      refId = refId,
      pos = if (v(3) == null) 0L else v(3).asInstanceOf[Long],
      refSpan = math.max(refSpan, 1L),
      mapq = if (v(5) == null) 255 else v(5).toString.toInt,
      cigar = cigarStr,
      mateRefId = mateRefId,
      seq = if (v(8) == null) null else v(8).toString,
      quals = quals, tags = tags)
    if (pending.length >= containerRecords) flushContainer()
  }

  /** Per-data-series external streams. readInt(codec 1) consumes ITF8 while
    * readByte(codec 1) consumes a raw byte — the per-series split below must
    * mirror the reader exactly.
    */
  private object Cid {
    val BF = 1; val CF = 2; val RI = 3; val RL = 4; val AP = 5; val RG = 6
    val RN = 7; val MF = 8; val NS = 9; val NP = 10; val TS = 11; val TL = 12
    val FN = 13; val FC = 14; val FP = 15; val DL = 16; val RS = 17
    val HC = 18; val PD = 19; val BA = 20; val QS = 21; val BB = 22
    val IN = 23; val SC = 24; val MQ = 25; val TagLen = 26; val TagVal = 27
  }

  /** Flush buffered rows as one container per consecutive same-reference
    * run: sorted input yields few single-reference containers whose header
    * coordinates (and `.crai` lines) let region readers skip them without
    * decoding — the same pruning the reader proves on htslib files.
    * Unsorted input still writes correctly, just in more containers.
    */
  private def flushContainer(): Unit = {
    if (pending.isEmpty) return
    var i = 0
    while (i < pending.length) {
      var j = i + 1
      while (j < pending.length && pending(j).refId == pending(i).refId) j += 1
      emitContainer(pending.view.slice(i, j).toIndexedSeq)
      i = j
    }
    pending.clear()
  }

  private def emitContainer(run: IndexedSeq[Rec]): Unit = {
    val refSeqId = run.head.refId
    val mappedPos = run.filter(r => r.refId >= 0 && r.pos > 0)
    val aliStart = if (mappedPos.isEmpty) 0L else mappedPos.map(_.pos).min
    val aliEnd =
      if (mappedPos.isEmpty) 0L else mappedPos.map(r => r.pos + r.refSpan - 1).max
    val aliSpan = if (mappedPos.isEmpty) 0L else aliEnd - aliStart + 1
    val streams = scala.collection.mutable.LinkedHashMap.empty[Int, java.io.ByteArrayOutputStream]
    def st(cid: Int): java.io.ByteArrayOutputStream =
      streams.getOrElseUpdate(cid, new java.io.ByteArrayOutputStream(4096))
    def wInt(cid: Int, v: Int): Unit = itf8(st(cid), v)
    def wByte(cid: Int, v: Int): Unit = st(cid).write(v & 0xff)
    def wStop(cid: Int, bytes: Array[Byte]): Unit = {
      val s = st(cid); s.write(bytes, 0, bytes.length); s.write(0)
    }

    // TD: tag layout dictionary for this container (tag+type triplets)
    val tdLines = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def tlOf(tags: Array[(String, Char, Array[Byte])]): Int = {
      val line = tags.map { case (t, typ, _) => s"$t$typ" }.mkString
      tdLines.getOrElseUpdate(line, tdLines.size)
    }

    var bases = 0L
    run.foreach { r =>
      val rl = if (r.seq == null) 0 else r.seq.length
      bases += rl
      val unmapped = (r.flag & 4) != 0
      val cf = 0x2 /* detached */ | (if (r.quals != null) 0x1 else 0)
      wInt(Cid.BF, r.flag)
      wInt(Cid.CF, cf)
      // no RI series: single-reference slices carry the ref in the header,
      // and the reader only consults RI when the slice id is -2
      wInt(Cid.RL, rl)
      wInt(Cid.AP, r.pos.toInt)
      wInt(Cid.RG, -1)
      wStop(Cid.RN, r.name.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      wInt(Cid.MF, 0); wInt(Cid.NS, r.mateRefId); wInt(Cid.NP, 0); wInt(Cid.TS, 0)
      wInt(Cid.TL, tlOf(r.tags))
      r.tags.foreach { case (_, _, rawv) =>
        wInt(Cid.TagLen, rawv.length)
        st(Cid.TagVal).write(rawv, 0, rawv.length)
      }
      if (!unmapped) {
        // CIGAR -> features; every read base travels verbatim (no_ref)
        val feats = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
        var rp = 1 // 1-based read position
        val cigar = if (r.cigar == null || r.cigar == "*") s"${rl}M" else r.cigar
        if (rl > 0 || (r.cigar != null && r.cigar != "*")) {
          var n = 0L
          var ci = 0
          while (ci < cigar.length) {
            val c = cigar.charAt(ci)
            if (c >= '0' && c <= '9') n = n * 10 + (c - '0')
            else {
              val len = n.toInt
              val fpAt = rp
              c match {
                case 'M' | '=' | 'X' =>
                  val sub = r.seq.substring(rp - 1, rp - 1 + len)
                  feats += { () =>
                    wByte(Cid.FC, 'b'); wInt(Cid.FP, fpAt)
                    wStop(Cid.BB,
                      sub.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
                  }
                  rp += len
                case 'I' =>
                  val sub = r.seq.substring(rp - 1, rp - 1 + len)
                  feats += { () =>
                    wByte(Cid.FC, 'I'); wInt(Cid.FP, fpAt)
                    wStop(Cid.IN,
                      sub.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
                  }
                  rp += len
                case 'S' =>
                  val sub = r.seq.substring(rp - 1, rp - 1 + len)
                  feats += { () =>
                    wByte(Cid.FC, 'S'); wInt(Cid.FP, fpAt)
                    wStop(Cid.SC,
                      sub.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
                  }
                  rp += len
                case 'D' =>
                  feats += { () => wByte(Cid.FC, 'D'); wInt(Cid.FP, fpAt); wInt(Cid.DL, len) }
                case 'N' =>
                  feats += { () => wByte(Cid.FC, 'N'); wInt(Cid.FP, fpAt); wInt(Cid.RS, len) }
                case 'H' =>
                  feats += { () => wByte(Cid.FC, 'H'); wInt(Cid.FP, fpAt); wInt(Cid.HC, len) }
                case 'P' =>
                  feats += { () => wByte(Cid.FC, 'P'); wInt(Cid.FP, fpAt); wInt(Cid.PD, len) }
                case other => throw new IllegalArgumentException(
                  s"cram write: unsupported CIGAR op '$other' in ${r.cigar}")
              }
              n = 0
            }
            ci += 1
          }
        }
        wInt(Cid.FN, feats.length)
        feats.foreach(_.apply())
        wInt(Cid.MQ, r.mapq)
        if (r.quals != null) r.quals.foreach(q => wByte(Cid.QS, q))
      } else {
        if (r.seq != null) r.seq.foreach(ch => wByte(Cid.BA, ch))
        if (r.quals != null) r.quals.foreach(q => wByte(Cid.QS, q))
      }
    }

    // ---- compression header ----
    val ph = new java.io.ByteArrayOutputStream(1024)
    locally { // preservation map: RN=1, AP=0 (absolute), RR=0 (no_ref), TD
      val m = new java.io.ByteArrayOutputStream(256)
      itf8(m, 4)
      m.write('R'); m.write('N'); m.write(1)
      m.write('A'); m.write('P'); m.write(0)
      m.write('R'); m.write('R'); m.write(0)
      m.write('T'); m.write('D')
      val td = new java.io.ByteArrayOutputStream(128)
      tdLines.keys.foreach { line =>
        val b = line.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        td.write(b, 0, b.length); td.write(0)
      }
      itf8(m, td.size()); td.writeTo(m)
      val mb = m.toByteArray
      itf8(ph, mb.length); ph.write(mb, 0, mb.length)
    }
    locally { // data series encodings: EXTERNAL (1) ints/bytes, stop (5) arrays
      val m = new java.io.ByteArrayOutputStream(512)
      val ext = Seq("BF" -> Cid.BF, "CF" -> Cid.CF,
        "RL" -> Cid.RL, "AP" -> Cid.AP, "RG" -> Cid.RG, "MF" -> Cid.MF,
        "NS" -> Cid.NS, "NP" -> Cid.NP, "TS" -> Cid.TS, "TL" -> Cid.TL,
        "FN" -> Cid.FN, "FC" -> Cid.FC, "FP" -> Cid.FP, "DL" -> Cid.DL,
        "RS" -> Cid.RS, "HC" -> Cid.HC, "PD" -> Cid.PD, "BA" -> Cid.BA,
        "QS" -> Cid.QS, "MQ" -> Cid.MQ)
      val stop = Seq("RN" -> Cid.RN, "BB" -> Cid.BB, "IN" -> Cid.IN,
        "SC" -> Cid.SC)
      itf8(m, ext.length + stop.length)
      ext.foreach { case (k, cid) =>
        m.write(k.charAt(0)); m.write(k.charAt(1))
        itf8(m, 1) // EXTERNAL
        val p = new java.io.ByteArrayOutputStream(8); itf8(p, cid)
        itf8(m, p.size()); p.writeTo(m)
      }
      stop.foreach { case (k, cid) =>
        m.write(k.charAt(0)); m.write(k.charAt(1))
        itf8(m, 5) // BYTE_ARRAY_STOP
        val p = new java.io.ByteArrayOutputStream(8); p.write(0); itf8(p, cid)
        itf8(m, p.size()); p.writeTo(m)
      }
      val mb = m.toByteArray
      itf8(ph, mb.length); ph.write(mb, 0, mb.length)
    }
    locally { // tag encodings: BYTE_ARRAY_LEN{len: EXTERNAL, val: EXTERNAL}
      val m = new java.io.ByteArrayOutputStream(256)
      val keys = tdLines.keys.flatMap(_.grouped(3)).toSeq.distinct
      itf8(m, keys.length)
      keys.foreach { k =>
        itf8(m, (k.charAt(0).toInt << 16) | (k.charAt(1).toInt << 8) | k.charAt(2).toInt)
        itf8(m, 4) // BYTE_ARRAY_LEN
        val p = new java.io.ByteArrayOutputStream(16)
        itf8(p, 1) // len codec EXTERNAL
        val lp = new java.io.ByteArrayOutputStream(8); itf8(lp, Cid.TagLen)
        itf8(p, lp.size()); lp.writeTo(p)
        itf8(p, 1) // val codec EXTERNAL
        val vp = new java.io.ByteArrayOutputStream(8); itf8(vp, Cid.TagVal)
        itf8(p, vp.size()); vp.writeTo(p)
        itf8(m, p.size()); p.writeTo(m)
      }
      val mb = m.toByteArray
      itf8(ph, mb.length); ph.write(mb, 0, mb.length)
    }

    // ---- slice header ----
    val extBlocks = streams.toSeq.map { case (cid, s) =>
      block(4 /* EXTERNAL */, cid, s.toByteArray)
    }
    val sh = new java.io.ByteArrayOutputStream(128)
    itf8(sh, refSeqId); itf8(sh, aliStart.toInt); itf8(sh, aliSpan.toInt)
    itf8(sh, run.length)
    ltf8(sh, 0L) // record counter
    itf8(sh, 1 + extBlocks.length) // core + externals
    itf8(sh, streams.size); streams.keys.foreach(itf8(sh, _))
    itf8(sh, -1) // no embedded reference
    sh.write(new Array[Byte](16), 0, 16) // MD5 (optional; zeros = unset)

    val blocks = new java.io.ByteArrayOutputStream(1 << 16)
    val chBlock = block(1 /* COMPRESSION_HEADER */, 0, ph.toByteArray)
    blocks.write(chBlock, 0, chBlock.length)
    val landmarks = Seq(blocks.size()) // slice header offset in blocks section
    val shBlock = block(2 /* SLICE_HEADER */, 0, sh.toByteArray, tryGzip = false)
    blocks.write(shBlock, 0, shBlock.length)
    val coreBlock = block(5 /* CORE */, 0, Array.emptyByteArray, tryGzip = false)
    blocks.write(coreBlock, 0, coreBlock.length)
    extBlocks.foreach(b => blocks.write(b, 0, b.length))

    val containerOffset = written
    emit(containerHeader(blocks.size(), refSeqId, aliStart.toInt,
      aliSpan.toInt, run.length, bases, 1 + 1 + 1 + extBlocks.length,
      landmarks))
    val blockBytes = blocks.toByteArray
    emit(blockBytes)
    craiEntries += ((refSeqId, aliStart, aliSpan, containerOffset,
      landmarks.head.toLong, (blockBytes.length - landmarks.head).toLong))
  }

  override def finish(): Seq[(String, OutputStream => Unit)] = {
    flushContainer()
    emit(CramCodec.eofContainer())
    out.close()
    // `.crai` sibling: one gzip'd text line per slice (spec §4), so region
    // readers prune this part's containers without decoding them
    val crai = new java.io.ByteArrayOutputStream(64 * craiEntries.length + 32)
    val cs = new java.util.zip.GZIPOutputStream(crai)
    try {
      craiEntries.foreach { case (seqId, start, span, cOff, sOff, sSize) =>
        cs.write(s"$seqId\t$start\t$span\t$cOff\t$sOff\t$sSize\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
    } finally cs.close()
    Seq(".crai" -> (os => crai.writeTo(os)))
  }

  override def close(): Unit = out.close()
}
