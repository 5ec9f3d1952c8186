package graft.sources.formats

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources._
import graft.sources.FormatUtil._

/** CRAM 3.0 reader, hand-decoded from the public CRAM specification:
  * containers -> compression header (preservation map, data-series and tag
  * encodings) -> slices (core + external blocks) -> records. Implements the
  * block codecs legal in CRAM 3.0: raw/gzip/bzip2/lzma plus rANS 4x8
  * orders 0 and 1 (order-1 is samtools' default), and the EXTERNAL /
  * HUFFMAN / BYTE_ARRAY_LEN /
  * BYTE_ARRAY_STOP / BETA value encodings. CIGAR is reconstructed from read
  * features; `end` is start + reference-consumed length.
  *
  * With `.option("fastaReference", path)` the read bases are reconstructed
  * from the reference slice + substitution matrix + features; without it
  * (or for chromosomes missing from the FASTA) `sequence` is null for
  * mapped reads. Unmapped reads always carry their stored bases.
  */
class CramFormat(refPath: Option[String],
                 regions: Seq[(String, Long, Long)] = Nil) extends GraftFormat {
  override def shortName: String = "cram"
  override def defaultExtensions: Seq[String] = Seq("cram")
  override val dataSchema: StructType = SamFormat.dataSchema
  override def regionColumns: Option[(String, String, String)] =
    Some(("reference", "start", "end"))
  // unindexed CRAMs split by task-open resync (resyncContainerStart): the
  // driver cuts at raw offsets in O(1) — no per-container driver I/O
  override def containerResync: Boolean = true

  /** A `.crai` sibling vetoes resync — the index gives exact cuts through
    * alignedCutOffsets. Checked uncached by the planner (the sibling can
    * appear after this file was first planned).
    */
  override def resyncIndexSibling(path: org.apache.hadoop.fs.Path)
      : Option[org.apache.hadoop.fs.Path] = Some(CraiIndex.craiPath(path))

  /** CRAM 3.x magic (the `.crai` veto lives in [[resyncIndexSibling]],
    * outside the sniff cache).
    */
  override def resyncSplitSniff(fs: org.apache.hadoop.fs.FileSystem,
                                path: org.apache.hadoop.fs.Path): Boolean = {
    val in = fs.open(path)
    try {
      val b = new Array[Byte](6)
      in.readFully(0L, b, 0, 6)
      b(0) == 'C' && b(1) == 'R' && b(2) == 'A' && b(3) == 'M' &&
        b(4) == 3 && (b(5) == 0 || b(5) == 1)
    } finally in.close()
  }

  // ---- primitive readers ----

  private final class In(val b: Array[Byte], var o: Int) {
    def eof: Boolean = o >= b.length
    def u8(): Int = { val v = b(o) & 0xff; o += 1; v }
    def bytes(n: Int): Array[Byte] = { val v = java.util.Arrays.copyOfRange(b, o, o + n); o += n; v }
    def skip(n: Int): Unit = {
      o += n
      require(o <= b.length, s"cram: block underrun skipping $n bytes")
    }
    def i32le(): Int = { val v = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24); o += 4; v }
    def itf8(): Int = {
      val f = u8()
      val v =
        if (f < 0x80) f
        else if (f < 0xC0) ((f & 0x3f) << 8) | u8()
        else if (f < 0xE0) ((f & 0x1f) << 16) | (u8() << 8) | u8()
        else if (f < 0xF0) ((f & 0x0f) << 24) | (u8() << 16) | (u8() << 8) | u8()
        else (((f & 0x0f).toLong << 28) | (u8().toLong << 20) | (u8() << 12) |
          (u8() << 4) | (u8() & 0x0f)).toInt
      v
    }
    def ltf8(): Long = {
      val f = u8()
      var n = 0
      while (n < 8 && ((f << n) & 0x80) != 0) n += 1
      var v: Long = if (n < 8) (f & (0xff >>> n)).toLong else 0L
      (0 until n).foreach(_ => v = (v << 8) | u8())
      v
    }
  }

  private final class Bits(b: Array[Byte]) {
    private var pos = 0
    def read(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        v = (v << 1) | ((b(pos >>> 3) >>> (7 - (pos & 7))) & 1)
        pos += 1
        i += 1
      }
      v
    }
  }

  // ---- rANS 4x8 (CRAM 3.0 spec §13; htscodecs rans_static 12-bit) ----

  private def ransDecode(data: Array[Byte]): Array[Byte] = {
    val r = new In(data, 0)
    val order = r.u8()
    require(order == 0 || order == 1,
      s"cram: rANS order $order not supported (only 0/1)")
    r.i32le() // compressed size
    val rsize = r.i32le()
    if (order == 1) return ransDecodeO1(r, rsize)
    val (freq, consumed) = CramFormat.ransFreqTable(r.b, r.o)
    r.o += consumed
    val cum = new Array[Int](257)
    (0 until 256).foreach(i => cum(i + 1) = cum(i) + freq(i))
    val lut = new Array[Int](4096)
    (0 until 256).foreach { s =>
      var f = cum(s)
      while (f < cum(s) + freq(s)) { lut(f) = s; f += 1 }
    }
    val states = Array.fill(4)(r.i32le() & 0xffffffffL)
    val out = new Array[Byte](rsize)
    var i = 0
    while (i < rsize) {
      val j = i % 4
      var st = states(j)
      val f = (st & 0xfff).toInt
      val s = lut(f)
      out(i) = s.toByte
      st = freq(s) * (st >>> 12) + f - cum(s)
      while (st < (1L << 23) && !r.eof) st = (st << 8) | r.u8()
      states(j) = st
      i += 1
    }
    out
  }

  /** Order-1 body: per-context frequency tables (outer symbol/RLE loop over
    * contexts, order-0-style inner rows), then 4 interleaved states each
    * owning one quarter of the output with context = previous decoded byte
    * of that quarter (0 at quarter start); the mod-4 tail is carried by
    * state 3. Iteration order (state 0..3 per step, renormalizing each
    * immediately) fixes the shared-byte-stream read order — samtools'
    * default write codec, so production CRAMs hit this path.
    */
  private def ransDecodeO1(r: In, rsize: Int): Array[Byte] = {
    val freqs = new Array[Array[Int]](256)
    val cumsCache = new Array[Array[Int]](256)
    val luts = new Array[Array[Byte]](256)
    var sym = r.u8(); var rle = 0; var done = false
    while (!done) {
      val (f, consumed) = CramFormat.ransFreqTable(r.b, r.o)
      r.o += consumed
      freqs(sym) = f
      if (rle > 0) { rle -= 1; sym += 1 }
      else {
        val next = r.u8()
        if (next == sym + 1) { sym = next; rle = r.u8() }
        else if (next == 0) done = true
        else sym = next
      }
    }
    // called once per distinct context, not per byte — step() then indexes
    // the filled arrays directly (no per-byte tuple allocation in the
    // innermost decompression loop)
    def ensureTables(c: Int): Unit = {
      require(freqs(c) != null, s"cram: rANS order-1 stream uses undeclared context $c")
      if (luts(c) == null) {
        val f = freqs(c)
        val cum = new Array[Int](257)
        var i = 0
        while (i < 256) { cum(i + 1) = cum(i) + f(i); i += 1 }
        val lut = new Array[Byte](4096)
        var s = 0
        while (s < 256) {
          var x = cum(s)
          val end = cum(s + 1)
          while (x < end) { lut(x) = s.toByte; x += 1 }
          s += 1
        }
        luts(c) = lut
        cumsCache(c) = cum
      }
    }
    val states = Array.fill(4)(r.i32le() & 0xffffffffL)
    val ctx = new Array[Int](4)
    val out = new Array[Byte](rsize)
    val isz4 = rsize >> 2
    def step(j: Int, pos: Int): Unit = {
      val c = ctx(j)
      ensureTables(c)
      val f = freqs(c); val cum = cumsCache(c); val lut = luts(c)
      var st = states(j)
      val slot = (st & 0xfff).toInt
      val s = lut(slot) & 0xff
      out(pos) = s.toByte
      st = f(s) * (st >>> 12) + slot - cum(s)
      while (st < (1L << 23) && !r.eof) st = (st << 8) | r.u8()
      states(j) = st
      ctx(j) = s
    }
    var i = 0
    while (i < isz4) {
      var j = 0
      while (j < 4) { step(j, j * isz4 + i); j += 1 }
      i += 1
    }
    var p = 4 * isz4
    while (p < rsize) { step(3, p); p += 1 }
    out
  }

  private[sources] def decompress(method: Int, payload: Array[Byte],
                                  rawSize: Int = -1): Array[Byte] = method match {
    case 0 => payload
    case 1 =>
      val in = new MultiMemberGzipInputStream(new java.io.ByteArrayInputStream(payload))
      // pre-size from the block header's declared raw size: readAllBytes
      // pays chunked reads + a final copy (9% of the decode profile)
      try {
        if (rawSize >= 0) {
          val out = new Array[Byte](rawSize)
          var off = 0
          var r = 0
          while (off < rawSize && { r = in.read(out, off, rawSize - off); r > 0 })
            off += r
          if (off != rawSize || in.read() >= 0)
            throw new IllegalStateException(
              s"cram: gzip block decoded ${off}+ bytes, header declared $rawSize")
          out
        } else in.readAllBytes()
      } finally in.close()
    case 2 =>
      val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(payload), true)
      try in.readAllBytes() finally in.close()
    case 3 =>
      // htslib's "lzma" blocks are .xz containers; accept raw .lzma too.
      val isXz = payload.length >= 6 && (payload(0) & 0xff) == 0xfd &&
        payload(1) == '7' && payload(2) == 'z' && payload(3) == 'X' &&
        payload(4) == 'Z' && payload(5) == 0
      val in =
        if (isXz) new org.apache.commons.compress.compressors.xz.XZCompressorInputStream(
          new java.io.ByteArrayInputStream(payload))
        else new org.apache.commons.compress.compressors.lzma.LZMACompressorInputStream(
          new java.io.ByteArrayInputStream(payload))
      try in.readAllBytes() finally in.close()
    case 4 => ransDecode(payload)
    case 5 => RansNx16.decode(payload, rawSize)
    case 6 => ArithDynamic.decode(payload, rawSize)
    case 7 => FqzComp.decode(payload, rawSize)
    case 8 => Tok3.decode(payload)
    case other => throw new IllegalStateException(s"cram: block codec $other not supported")
  }

  // ---- value encodings ----

  private final class Encoding(val codec: Int, params: Array[Byte]) {
    private val p = new In(params, 0)
    var cid: Int = -1
    var stop: Int = -1
    var offset: Int = 0
    var nbits: Int = 0
    var lenEnc: Encoding = _
    var valEnc: Encoding = _
    private var singleSym: Option[Int] = None
    private var codes: Map[(Int, Int), Int] = Map.empty

    /** External block resolved once per slice by bind() — `ext(cid)` per
      * field read is an Int-boxing map lookup on the decode hot loop
      * (tens of millions of calls per container stream).
      */
    private var extIn: In = _

    def bind(ext: Map[Int, In]): Unit = {
      if (cid >= 0) extIn = ext.getOrElse(cid, null)
      if (lenEnc != null) lenEnc.bind(ext)
      if (valEnc != null) valEnc.bind(ext)
    }

    @inline private def extStream: In = {
      if (extIn == null) throw new IllegalStateException(
        s"cram: external block $cid missing from slice")
      extIn
    }

    codec match {
      case 1 => cid = p.itf8()
      case 3 =>
        val n = p.itf8(); val syms = Array.fill(n)(p.itf8())
        val m = p.itf8(); val lens = Array.fill(m)(p.itf8())
        if (n == 1 && lens(0) == 0) singleSym = Some(syms(0))
        else {
          val pairs = lens.zip(syms).sortBy(x => (x._1, x._2))
          var code = 0; var prev = 0
          codes = pairs.map { case (ln, s) =>
            code <<= (ln - prev); prev = ln
            val k = ((ln, code)) -> s
            code += 1
            k
          }.toMap
        }
      case 4 =>
        val lc = p.itf8(); val ll = p.itf8(); val lp = p.bytes(ll)
        val vc = p.itf8(); val vl = p.itf8(); val vp = p.bytes(vl)
        lenEnc = new Encoding(lc, lp); valEnc = new Encoding(vc, vp)
      case 5 => stop = p.u8(); cid = p.itf8()
      case 6 => offset = p.itf8(); nbits = p.itf8()
      case other => throw new IllegalStateException(s"cram: encoding codec $other")
    }

    def readInt(core: Bits, ext: Map[Int, In]): Int = codec match {
      case 1 => extStream.itf8()
      case 3 =>
        singleSym.getOrElse {
          var ln = 0; var code = 0
          var res: Option[Int] = None
          while (res.isEmpty) {
            code = (code << 1) | core.read(1); ln += 1
            require(ln <= 31, "cram: bad huffman code")
            res = codes.get((ln, code))
          }
          res.get
        }
      case 6 => core.read(nbits) - offset
      case other => throw new IllegalStateException(s"cram: readInt codec $other")
    }

    def readByte(core: Bits, ext: Map[Int, In]): Int = codec match {
      case 1 => extStream.u8()
      case _ => readInt(core, ext) & 0xff
    }

    /** A run of n value-bytes (quality scores, unmapped bases): bulk copy
      * when EXTERNAL — per-byte readByte() through Array.fill dominated
      * whole-slice decode before this.
      */
    def readByteRun(n: Int, core: Bits, ext: Map[Int, In]): Array[Byte] =
      if (codec == 1) extStream.bytes(n)
      else {
        val a = new Array[Byte](n)
        var j = 0
        while (j < n) { a(j) = readByte(core, ext).toByte; j += 1 }
        a
      }

    /** Consume a run of n value-bytes without materializing them — column
      * pruning must still keep the streams in sync.
      */
    def skipByteRun(n: Int, core: Bits, ext: Map[Int, In]): Unit =
      if (codec == 1) extStream.skip(n)
      else { var j = 0; while (j < n) { readByte(core, ext); j += 1 } }

    /** Consume a byte-array value without materializing it (pruned read
      * names): the stop-byte scan advances the cursor, no copyOfRange, no
      * String — the scan+copy was 11% of a flag+sequence projection's
      * decode profile before this.
      */
    def skipBytes(core: Bits, ext: Map[Int, In]): Unit = codec match {
      case 5 =>
        val s = extStream
        val b = s.b
        var e = s.o
        while (e < b.length && (b(e) & 0xff) != stop) e += 1
        require(e < b.length, s"cram: unterminated byte array (stop $stop)")
        s.o = e + 1
      case 4 =>
        val n = lenEnc.readInt(core, ext)
        if (valEnc.codec == 1) valEnc.extStream.skip(n)
        else { var j = 0; while (j < n) { valEnc.readByte(core, ext); j += 1 } }
      case other => throw new IllegalStateException(s"cram: skipBytes codec $other")
    }

    def readBytes(core: Bits, ext: Map[Int, In]): Array[Byte] = codec match {
      case 5 =>
        // scan the backing array directly for the stop byte — a per-byte
        // u8() + ByteArrayOutputStream per record would dominate read-name
        // decode
        val s = extStream
        val b = s.b
        var e = s.o
        while (e < b.length && (b(e) & 0xff) != stop) e += 1
        require(e < b.length, s"cram: unterminated byte array (stop $stop)")
        val out = java.util.Arrays.copyOfRange(b, s.o, e)
        s.o = e + 1
        out
      case 4 =>
        val n = lenEnc.readInt(core, ext)
        if (valEnc.codec == 1) valEnc.extStream.bytes(n)
        else Array.fill(n)(valEnc.readByte(core, ext).toByte)
      case other => throw new IllegalStateException(s"cram: readBytes codec $other")
    }
  }

  // ---- record decode ----

  /** Sequential byte reader over the container stream; tracks the absolute
    * file position so `.crai` container offsets can be matched while
    * streaming. Only one container body is resident at a time.
    */
  private final class StreamIn(in: java.io.InputStream) {
    var pos = 0L
    def tryU8(): Int = { val v = in.read(); if (v >= 0) pos += 1; v }
    def u8(): Int = { val v = in.read()
      if (v < 0) throw new java.io.EOFException("cram: truncated container")
      pos += 1; v }
    def bytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(b, off, n - off)
        if (r < 0) throw new java.io.EOFException("cram: truncated container body")
        off += r
      }
      pos += n; b
    }
    def skipN(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val s = in.skip(left)
        if (s > 0) { left -= s; pos += s }
        else { u8(); left -= 1 } // skip() can return 0; fall back to read
      }
    }
    def i32le(first: Int): Int = first | (u8() << 8) | (u8() << 16) | (u8() << 24)
    def itf8(): Int = {
      val f = u8()
      if (f < 0x80) f
      else if (f < 0xC0) ((f & 0x3f) << 8) | u8()
      else if (f < 0xE0) ((f & 0x1f) << 16) | (u8() << 8) | u8()
      else if (f < 0xF0) ((f & 0x0f) << 24) | (u8() << 16) | (u8() << 8) | u8()
      else (((f & 0x0f).toLong << 28) | (u8().toLong << 20) | (u8() << 12) |
        (u8() << 4) | (u8() & 0x0f)).toInt
    }
    def ltf8(): Long = {
      val f = u8()
      var n = 0
      while (n < 8 && ((f << n) & 0x80) != 0) n += 1
      var v: Long = if (n < 8) (f & (0xff >>> n)).toLong else 0L
      (0 until n).foreach(_ => v = (v << 8) | u8())
      v
    }
  }

  /** `.crai` container starts as full-scan cut points — true container
    * starts from one small gzip'd read, memoized by the planner
    * (GraftScan.alignedCuts). Null without a `.crai`: an unindexed CRAM is
    * cut at raw offsets and resynced at task open (resyncContainerStart).
    * Any subset of true container starts is a valid cut set: a chunk
    * decodes every container starting inside its bounds, so containers
    * absent from the cut list are simply owned by the preceding cut's
    * chunk.
    */
  override def alignedCutOffsets(fs: org.apache.hadoop.fs.FileSystem,
                                 path: org.apache.hadoop.fs.Path,
                                 fileSize: Long): Array[Long] =
    CraiIndex.read(fs, path) match {
      case Some(entries) if entries.nonEmpty =>
        entries.iterator.map(_.containerOffset)
          .filter(o => o > 26 && o < fileSize).toArray.distinct.sorted
      case _ => null
    }

  /** Max container-header bytes fetched per probe. A 3.0 header is
    * 4 + 4 itf8 + 2 ltf8 + (2 + nLandmarks) itf8 + 4 bytes — under 100 for
    * typical single-slice containers; 4 KB covers ~800 landmarks. Jumbo
    * headers get bigger retries in [[SweepWindow.spanAt]].
    */
  private val HdrNeed = 4096

  /** Read-ahead window of the task-open resync scan. */
  private val ResyncWindow = 1 << 16

  /** Parse + CRC-verify one container header at buf(off..off+avail), with
    * `pos` its absolute file offset. Three-state result:
    *   - >= 0: the container's total byte span (header + payload);
    *   - -1: the bytes are NOT a CRC-valid CRAM 3 container header that
    *     fits in the file;
    *   - -2: the header stayed plausible up to where the buffer ran out —
    *     the verdict needs more bytes (jumbo header, many landmarks). The
    *     caller MUST retry with a bigger buffer: treating -2 as -1 at a
    *     true container start would silently drop that container's records
    *     in a resync scan.
    *   - -3: the header is CRC-VALID but its payload runs past EOF — a
    *     truncated file (partial copy), not garbage. The task-open resync
    *     MUST raise this loudly: treating it as -1 would skip the
    *     container and return silently fewer rows, where the whole-file
    *     reader raises "truncated container". (A false -3 needs a CRC
    *     match on plausible fields at a random offset, ~2^-58 per byte.)
    * The CRC check is what makes this usable as a resync validator. Every
    * field is bounds-checked against `avail` BEFORE its value is judged, so
    * stale window bytes past `avail` can never turn "truncated" into a
    * semantic accept/reject.
    */
  private[sources] def containerSpanAt(buf: Array[Byte], off: Int, avail: Int,
                                       pos: Long, fileSize: Long): Long = {
    // truncated-by-buffer vs truncated-by-EOF: only the former is retryable
    def trunc: Long = if (pos + avail >= fileSize) -1L else -2L
    if (avail < 10) return trunc
    val lim = off + avail
    try {
      val b = new In(buf, off)
      // any non-negative int32 length is spec-legal (long-read CRAMs can
      // carry >1 GiB containers); the CRC below plus the pos+span<=fileSize
      // check are the real validators, so no tighter heuristic cap here —
      // one would silently turn a valid large-container file into one task
      val length = b.i32le()
      if (b.o > lim) return trunc
      if (length < 0) return -1L
      val refSeqId = b.itf8()
      if (b.o > lim) return trunc
      if (refSeqId < -2) return -1L // refSeqId: -1 unmapped, -2 multi-ref
      b.itf8(); b.itf8() // alignment start, span
      if (b.o > lim) return trunc
      val nRecords = b.itf8()
      if (b.o > lim) return trunc
      if (nRecords < 0) return -1L
      b.ltf8(); b.ltf8() // record counter, bases
      if (b.o > lim) return trunc
      val nBlocks = b.itf8()
      if (b.o > lim) return trunc
      if (nBlocks < 0 || nBlocks > (1 << 20)) return -1L
      val nLandmarks = b.itf8()
      if (b.o > lim) return trunc
      if (nLandmarks < 0 || nLandmarks > (1 << 20)) return -1L
      // Landmarks are slice byte-offsets into the payload (spec §8):
      // STRICTLY ASCENDING and bounded by `length`. Checking that here is
      // what keeps a resync scan cheap on garbage — without it, random
      // bytes parse as a plausible huge-nLandmarks header ~1/100 offsets
      // and every such candidate pays the -2 bigger-buffer escalation
      // (measured: a 70 MB resync scan went from 141 s to sub-second on
      // this check alone; the ordered-and-bounded test kills garbage
      // within a few landmarks, ~2^-k odds of surviving k of them).
      var i = 0
      var prevLm = -1
      while (i < nLandmarks) {
        val lm = b.itf8()
        if (b.o > lim) return trunc
        if (lm <= prevLm || lm > length) return -1L
        prevLm = lm
        i += 1
      }
      if (b.o - off + 4 > avail) return trunc
      val crc = new java.util.zip.CRC32()
      crc.update(buf, off, b.o - off)
      if (crc.getValue != (b.i32le() & 0xffffffffL)) return -1L
      val span = (b.o - off).toLong + length
      if (pos + span > fileSize) -3L else span
    } catch { case _: ArrayIndexOutOfBoundsException => trunc }
  }

  /** Forward read-ahead window over positioned reads: one refill serves
    * every candidate header starting inside it, so a resync scan costs a
    * ranged GET per window, not per probed offset.
    */
  private final class SweepWindow(in: org.apache.hadoop.fs.FSDataInputStream,
                                  fileSize: Long, val winSize: Int) {
    val buf = new Array[Byte](winSize)
    private var winStart = -1L
    private var winLen = 0
    /** Buffer offset of `pos`, with min(need, EOF-pos) bytes available. */
    def ensure(pos: Long, need: Int): Int = {
      val want = math.min(math.min(need, winSize).toLong, fileSize - pos).toInt
      if (winStart < 0 || pos < winStart || pos + want > winStart + winLen) {
        val n = math.min(winSize.toLong, fileSize - pos).toInt
        in.readFully(pos, buf, 0, n)
        winStart = pos; winLen = n
      }
      (pos - winStart).toInt
    }
    def availAt(pos: Long): Int = ((winStart + winLen) - pos).toInt

    /** [[containerSpanAt]] at `pos` with jumbo-header escalation: a -2
      * (plausible-but-truncated) verdict retries with the full window, then
      * with doubling ad-hoc positioned reads up to 8 MiB — past every
      * spec-legal header (nLandmarks <= 2^20 itf8 values of <= 5 bytes).
      * Never returns -2, so callers get a clean accept/reject: a true
      * container start is never mistaken for garbage just because its
      * header outgrew the probe buffer.
      */
    def spanAt(pos: Long): Long = {
      var off = ensure(pos, HdrNeed)
      var span = containerSpanAt(buf, off, availAt(pos), pos, fileSize)
      if (span == -2L) {
        off = ensure(pos, winSize)
        span = containerSpanAt(buf, off, availAt(pos), pos, fileSize)
      }
      var cap = math.max(winSize.toLong * 2, 1L << 17)
      while (span == -2L && cap <= (8L << 20)) {
        val n = math.min(cap, fileSize - pos).toInt
        val big = new Array[Byte](n)
        in.readFully(pos, big, 0, n)
        span = containerSpanAt(big, 0, n, pos, fileSize)
        cap *= 2
      }
      if (span == -2L) -1L else span
    }
  }

  /** File definition: magic "CRAM", major.minor, 20-byte file id. Decoding
    * a 2.x (different container layout) file with 3.x structures would
    * produce garbage, not an error — check first. 3.1 shares the 3.0
    * container layout and only adds block codecs (rANS Nx16 and the tok3
    * name tokeniser implemented; arith/fqzcomp error loudly in
    * decompress()).
    */
  private def checkFileDefinition(sin: StreamIn, pathStr: String): Unit = {
    val magic = new Array[Byte](4)
    (0 until 4).foreach(i => magic(i) = sin.u8().toByte)
    require(new String(magic, "US-ASCII") == "CRAM",
      s"not a CRAM file (bad magic) $pathStr")
    val major = sin.u8(); val minor = sin.u8()
    require(major == 3 && (minor == 0 || minor == 1),
      s"unsupported CRAM version $major.$minor (this reader implements CRAM 3.0 and 3.1; " +
        "recode with `samtools view -O cram,version=3.0`)")
    sin.skipN(20) // file id
  }

  /** @SQ reference names from a FILE_HEADER container body (with the same
    * per-block CRC32 check as decodeContainer: corruption in the header
    * block must fail loudly, not surface as garbage @SQ parsing).
    */
  private def parseHeaderRefs(raw: Array[Byte]): Array[String] = {
    val body = new In(raw, 0)
    val blockStart = body.o
    val method = body.u8(); body.u8(); body.itf8()
    val cs = body.itf8(); val rawSize = body.itf8()
    val payload = body.bytes(cs)
    val hcrc = new java.util.zip.CRC32()
    hcrc.update(body.b, blockStart, body.o - blockStart)
    val hstored = body.i32le() & 0xffffffffL
    require(hcrc.getValue == hstored,
      f"cram: SAM-header block CRC mismatch: computed ${hcrc.getValue}%08x, stored $hstored%08x")
    val hdr = decompress(method, payload, rawSize)
    val hin = new In(hdr, 0)
    val hlen = hin.i32le()
    val text = new String(hin.bytes(hlen), java.nio.charset.StandardCharsets.UTF_8)
    text.split('\n').filter(_.startsWith("@SQ")).flatMap { l =>
      l.split('\t').find(_.startsWith("SN:")).map(_.substring(3))
    }
  }

  /** Skip the file definition, then read the FILE_HEADER container and
    * return its @SQ names — the header parse a mid-file chunk needs
    * (memoized by RecordInput.fileHeader).
    */
  private def headerRefsFromStart(in: java.io.InputStream,
                                  pathStr: String): Array[String] = {
    val sin = new StreamIn(in)
    checkFileDefinition(sin, pathStr)
    val b0 = sin.u8()
    val length = sin.i32le(b0)
    sin.itf8(); sin.itf8(); sin.itf8(); sin.itf8()
    sin.ltf8(); sin.ltf8()
    sin.itf8() // nBlocks
    val nLandmarks = sin.itf8()
    (0 until nLandmarks).foreach(_ => sin.itf8())
    sin.skipN(4) // crc
    parseHeaderRefs(sin.bytes(length))
  }

  /** First true container start at/after `from` and before `until`, or -1
    * when no container starts inside [from, until) — the chunk is interior
    * to one spanning container and owns nothing. A candidate is accepted
    * only when its header CRC-parses AND its chained successor does too (or
    * lands exactly on EOF), ~2^-64 false-positive odds per offset. This is
    * the task-open half of the resync split: the driver cuts at raw offsets
    * in O(1) and each task aligns itself here (the BAM/BCF SplitGuesser
    * pattern — ChunkKind.Record — at container granularity), so planning
    * cost is independent of container count even on a 300 GB object-store
    * CRAM.
    */
  private[sources] def resyncContainerStart(in: org.apache.hadoop.fs.FSDataInputStream,
                                            from: Long, until: Long,
                                            fileSize: Long): Long = {
    val w = new SweepWindow(in, fileSize, ResyncWindow)
    var cand = from
    while (cand < until) {
      val span = w.spanAt(cand)
      if (span == -3L)
        // CRC-valid header, payload past EOF: a truncated file. Raising here
        // is what keeps the resync split as loud as the whole-file reader —
        // skipping the container would return silently fewer rows.
        throw new java.io.EOFException(
          s"cram: truncated container at $cand (payload spans past EOF $fileSize)")
      if (span > 0) {
        val next = cand + span
        // a -3 successor is still a CRC-valid header, so it confirms the
        // candidate; the chunk owning the truncated successor raises there
        if (next == fileSize || w.spanAt(next) != -1L) return cand
      }
      cand += 1
    }
    -1L
  }

  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] = {
    // Containers are streamed one at a time (header -> skip-or-decode), so
    // memory is bounded by one container regardless of file size. With a
    // region, containers are pruned by their header coordinates, and by the
    // `.crai` index when one sits next to the file.
    val sin = new StreamIn(input.stream)
    val chunk = input.chunk
    val pathStr = input.path.toString
    if (chunk.startOffset > 0) {
      // Mid-file chunk of a container split. Two planner kinds: aligned
      // chunks (`.crai`-derived cuts) arrive with the stream already
      // positioned at a true container start; resync chunks (no `.crai`)
      // arrive at a RAW cut offset and the task aligns itself to the first
      // CRC-validated container start it owns. Either way the file
      // definition and @SQ names come from the head of the file, through
      // the file-keyed header memo.
      val start0 =
        if (chunk.kind != ChunkKind.Container) chunk.startOffset
        else {
          val raw = input.stream.asInstanceOf[org.apache.hadoop.fs.FSDataInputStream]
          val found = resyncContainerStart(raw, chunk.startOffset, input.end,
            chunk.fileSize)
          if (found >= 0) raw.seek(found) // positioned probes didn't move it
          found
        }
      if (start0 < 0) return Iterator.empty
      sin.pos = start0
      val refs = input.fileHeader("cram")(headerRefsFromStart(_, pathStr))
      return containerIterator(sin, input, required, refs,
        expectFileHeader = false)
    }
    checkFileDefinition(sin, pathStr)
    containerIterator(sin, input, required, Array.empty,
      expectFileHeader = true)
  }

  /** Stream containers from `sin` until EOF or the first container starting
    * at/after `input.end` (aligned chunks own exactly the containers
    * starting inside [startOffset, end); a container extending past the
    * bound is decoded in full by the chunk that owns its start).
    */
  private def containerIterator(sin: StreamIn, input: RecordInput,
                                required: Array[Int],
                                initialRefs: Array[String],
                                expectFileHeader: Boolean): Iterator[Array[Any]] = {
    val endLimit = input.end
    val craiEntries: Option[Seq[CraiIndex.Entry]] =
      if (regions.nonEmpty && input.fs != null)
        CraiIndex.read(input.fs, input.path)
      else None

    new Iterator[Array[Any]] {
      private var refs: Array[String] = initialRefs
      private var wanted: Set[Long] = null // from .crai; null = no index pruning
      private var containerIdx = 0
      private var finished = false
      private var cur: Iterator[Array[Any]] = Iterator.empty

      private def resolveWanted(): Unit =
        for (entries <- craiEntries) {
          wanted = regions.map { case (chrom, lo, hi) =>
            CraiIndex.wantedContainers(entries, refs.indexOf(chrom), lo, hi)
          }.foldLeft(Set.empty[Long])(_ ++ _)
        }
      // mid-file chunk: refs are known upfront, so .crai pruning resolves now
      if (!expectFileHeader) resolveWanted()

      // Keep a container if it overlaps ANY requested region — the row
      // filter downstream accepts a row matching any of region/regionFile,
      // so pruning must use the same union or it silently drops rows.
      private def headerOverlaps(refSeqId: Int, aliStart: Int, aliSpan: Int): Boolean =
        regions.isEmpty || {
          if (refSeqId == -2) true // multi-ref container: can't judge here
          else if (refSeqId < 0) false // unmapped: reference is null, never matches
          else if (refSeqId >= refs.length) false
          else regions.exists { case (chrom, lo, hi) =>
            refs(refSeqId) == chrom &&
              aliStart <= hi && aliStart.toLong + math.max(1, aliSpan) - 1 >= lo
          }
        }

      // Container-level decode pipeline: containers are independent of one
      // another (each carries its own compression header, encodings and
      // entropy streams), so while THIS container's rows drain, the NEXT
      // containers' decodes (block decompress + slice record decode — the
      // profiled 90% of task time) run on [[graft.sources.DecodePool]]'s
      // idle cores. Header parse + body-byte reads stay sequential on the
      // task thread (stream order); rows come back strictly in container
      // order via the FIFO ring. Same gate as BGZF/mzML: a full-width
      // scan stages nothing ahead and decodes inline, sequentially. The
      // iterator counts as a decode reader until it is exhausted.
      private val depth = 4
      private var asyncGranted = true
      private val ring =
        new java.util.ArrayDeque[() => mutable.ArrayBuffer[Array[Any]]](depth)
      private var streamDone = false
      private val reader = graft.sources.DecodePool.register()

      /** Read headers forward to the next DATA container this chunk owns
        * and wants; handle header/EOF/pruned containers inline. Returns a
        * lazy rows producer (async-joining or inline-decoding), null at
        * stream end.
        */
      private def stageNext(): () => mutable.ArrayBuffer[Array[Any]] = {
        while (true) {
          val containerStart = sin.pos
          if (containerStart >= endLimit) return null
          val b0 = sin.tryU8()
          if (b0 < 0) return null
          val length = sin.i32le(b0)
          val refSeqId = sin.itf8(); val aliStart = sin.itf8(); val aliSpan = sin.itf8()
          val nRec = sin.itf8()
          sin.ltf8(); sin.ltf8()
          val nBlocks = sin.itf8()
          val nLandmarks = sin.itf8()
          (0 until nLandmarks).foreach(_ => sin.itf8())
          sin.skipN(4) // crc
          val isFirst = expectFileHeader && containerIdx == 0
          containerIdx += 1
          if (isFirst) {
            // SAM header container: parse @SQ names, then resolve the
            // region's reference id against the .crai if present. Runs
            // before any data container is staged, so `refs` is safely
            // published to pool threads by the executor handoff.
            refs = parseHeaderRefs(sin.bytes(length))
            resolveWanted()
          } else if (nRec == 0) {
            // EOF (or empty) container
            sin.skipN(length)
          } else if ((wanted != null && !wanted.contains(containerStart)) ||
                     !headerOverlaps(refSeqId, aliStart, aliSpan)) {
            CramFormat.containersSkipped.incrementAndGet()
            sin.skipN(length)
          } else {
            val body = sin.bytes(length)
            val nb = nBlocks
            val conf = if (input.fs != null) input.fs.getConf
                       else new org.apache.hadoop.conf.Configuration()
            val theRefs = refs
            def work(): mutable.ArrayBuffer[Array[Any]] = {
              val rows = mutable.ArrayBuffer[Array[Any]]()
              decodeContainer(new In(body, 0), nb, theRefs, required, rows, conf)
              rows
            }
            val fut = graft.sources.DecodePool.tryAsync(() => work())
            asyncGranted = fut != null
            if (fut != null) return () => graft.sources.DecodePool.await(fut)
            return () => work()
          }
        }
        null // unreachable
      }

      private def fill(): Unit = {
        while (!streamDone &&
            (ring.isEmpty || (asyncGranted && ring.size < depth))) {
          val p = stageNext()
          if (p == null) streamDone = true else ring.add(p)
        }
      }

      private def advance(): Unit = {
        while (!cur.hasNext && !finished) {
          fill()
          val head = ring.poll()
          if (head == null) { finished = true; reader.release() }
          else cur = head().iterator
        }
      }

      override def hasNext: Boolean = {
        advance()
        cur.hasNext
      }
      override def next(): Array[Any] = {
        if (!hasNext) throw new NoSuchElementException
        cur.next()
      }
    }
  }

  private final case class Block(ctype: Int, cid: Int, data: Array[Byte])

  private def decodeContainer(body: In, nBlocks: Int, refs: Array[String],
                              required: Array[Int],
                              rows: mutable.ArrayBuffer[Array[Any]],
                              conf: org.apache.hadoop.conf.Configuration): Unit = {
    val blocks = (0 until nBlocks).map { _ =>
      val blockStart = body.o
      val method = body.u8(); val ctype = body.u8(); val cid = body.itf8()
      val cs = body.itf8(); val rawSize = body.itf8()
      val payload = body.bytes(cs)
      // per-block CRC32 (spec §8): bit rot inside an entropy-coded payload
      // can otherwise decode to right-sized garbage — fail loudly instead
      val crc = new java.util.zip.CRC32()
      crc.update(body.b, blockStart, body.o - blockStart)
      val stored = body.i32le() & 0xffffffffL
      require(crc.getValue == stored,
        f"cram: block CRC mismatch (content id $cid): computed ${crc.getValue}%08x, stored $stored%08x")
      Block(ctype, cid, decompress(method, payload, rawSize))
    }

    // compression header
    val ph = new In(blocks.head.data, 0)
    ph.itf8()
    var nk = ph.itf8()
    var apDelta = true
    var rnPreserved = true
    var refRequired = true
    var sm: Array[Byte] = null
    var td: Array[Array[(String, Char)]] = Array(Array.empty)
    (0 until nk).foreach { _ =>
      new String(ph.bytes(2)) match {
        case "RN" => rnPreserved = ph.u8() == 1
        case "AP" => apDelta = ph.u8() == 1
        case "RR" => refRequired = ph.u8() == 1
        case "SM" => sm = ph.bytes(5)
        case "TD" =>
          val l = ph.itf8()
          val raw = ph.bytes(l)
          val lines = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
            .split(0.toChar)
          td = lines.map { line =>
            line.grouped(3).filter(_.length == 3)
              .map(t => (t.substring(0, 2), t.charAt(2))).toArray
          }
        case other => throw new IllegalStateException(s"cram: preservation key $other")
      }
    }
    ph.itf8(); nk = ph.itf8()
    val encs = mutable.Map[String, Encoding]()
    (0 until nk).foreach { _ =>
      val k = new String(ph.bytes(2))
      val codec = ph.itf8(); val pl = ph.itf8()
      encs(k) = new Encoding(codec, ph.bytes(pl))
    }
    ph.itf8(); nk = ph.itf8()
    val tagEncs = mutable.Map[Int, Encoding]()
    (0 until nk).foreach { _ =>
      val key = ph.itf8()
      val codec = ph.itf8(); val pl = ph.itf8()
      tagEncs(key) = new Encoding(codec, ph.bytes(pl))
    }

    // slices: each slice-header block is followed by its core + externals.
    var bi = 1
    while (bi < blocks.length) {
      if (blocks(bi).ctype == 2) {
        val sh = new In(blocks(bi).data, 0)
        val sRef = sh.itf8()
        val sStart = sh.itf8()
        val sSpan = sh.itf8()
        val sNRec = sh.itf8()
        // blocks for this slice: everything up to the next slice header
        var end = bi + 1
        while (end < blocks.length && blocks(end).ctype != 2) end += 1
        val sliceBlocks = blocks.slice(bi + 1, end)
        val core = new Bits(sliceBlocks.find(_.ctype == 5).map(_.data)
          .getOrElse(Array.empty))
        val ext = sliceBlocks.filter(_.ctype == 4).map(b => b.cid -> new In(b.data, 0)).toMap
        // resolve every encoding's external block once for this slice
        encs.valuesIterator.foreach(_.bind(ext))
        tagEncs.valuesIterator.foreach(_.bind(ext))
        // Per-slice reference windows: with a sibling .fai only the slice's
        // aligned span is read (bytes ~ span); otherwise whole sequences are
        // loaded once per executor and cached. Memoized per ref id.
        val winCache = mutable.Map[Int, CramFormat.RefWindow]()
        val refWinFor: Int => CramFormat.RefWindow = { ri =>
          winCache.getOrElseUpdate(ri,
            refPath match {
              case Some(rp) if ri >= 0 && ri < refs.length =>
                if (sRef == ri)
                  CramFormat.refWindow(rp, refs(ri), (sStart - 1).toLong, sSpan.toLong, conf)
                else CramFormat.refWindow(rp, refs(ri), 0L, -1L, conf)
              case _ => null
            })
        }
        decodeSlice(sNRec, sRef, sStart, apDelta, rnPreserved, refRequired,
          td, encs.toMap,
          tagEncs.toMap, core, ext, refs, sm, refWinFor, required, rows)
        bi = end
      } else bi += 1
    }
  }

  private def decodeSlice(nRec: Int, sliceRef: Int, sliceStart: Int, apDelta: Boolean,
                          rnPreserved: Boolean, refRequired: Boolean,
                          td: Array[Array[(String, Char)]],
                          encs: Map[String, Encoding], tagEncs: Map[Int, Encoding],
                          core: Bits, ext: Map[Int, In], refs: Array[String],
                          sm: Array[Byte], refWinFor: Int => CramFormat.RefWindow,
                          required: Array[Int],
                          rows: mutable.ArrayBuffer[Array[Any]]): Unit = {
    // substitution decode: for reference base r, 2-bit code -> substituted base
    val Bases = "ACGTN"
    def substitute(refBase: Char, code: Int): Char = {
      if (sm == null) return 'N'
      val ri0 = Bases.indexOf(refBase.toUpper)
      if (ri0 < 0) return 'N'
      val others = Bases.filter(_ != Bases.charAt(ri0))
      val byte = sm(ri0) & 0xff
      others.indices.find(j => ((byte >>> (6 - 2 * j)) & 3) == code)
        .map(others.charAt).getOrElse('N')
    }
    // One String-keyed map lookup per data series per SLICE instead of per
    // field per record — encs("BF") on the hot loop was a measurable share
    // of whole-slice decode. Series absent from the container stay null and
    // fail loudly at first use via req().
    @inline def req(e: Encoding, k: String): Encoding = {
      if (e == null)
        throw new IllegalStateException(s"cram: missing $k encoding")
      e
    }
    def E(k: String): Encoding = encs.getOrElse(k, null)
    val eBF = req(E("BF"), "BF"); val eCF = req(E("CF"), "CF")
    val eRI = E("RI"); val eRL = req(E("RL"), "RL")
    val eAP = req(E("AP"), "AP"); val eRG = req(E("RG"), "RG")
    val eRN = E("RN"); val eMF = E("MF"); val eNS = E("NS")
    val eNP = E("NP"); val eTS = E("TS"); val eNF = E("NF")
    val eTL = req(E("TL"), "TL"); val eFN = E("FN"); val eFC = E("FC")
    val eFP = E("FP"); val eBA = E("BA"); val eQS = E("QS")
    val eBS = E("BS"); val eIN = E("IN"); val eSC = E("SC")
    val eDL = E("DL"); val eRS = E("RS"); val eHC = E("HC")
    val ePD = E("PD"); val eBB = E("BB"); val eQQ = E("QQ")
    val eMQ = E("MQ")
    // Projection pushdown reaches the decoder: streams are always consumed
    // (kept in sync), but row values are materialized only for required
    // columns — cigar strings, boxed quality arrays and tag rows are the
    // expensive part, not the stream reads.
    val needName = required.contains(0)
    val needCigar = required.contains(6)
    val needSeq = required.contains(8)
    val needQuals = required.contains(9)
    val needTags = required.contains(10)

    var prevPos = sliceStart
    var i = 0
    while (i < nRec) {
      val bf = eBF.readInt(core, ext)
      val cf = eCF.readInt(core, ext)
      val ri = if (sliceRef == -2) req(eRI, "RI").readInt(core, ext) else sliceRef
      val rl = eRL.readInt(core, ext)
      val ap = eAP.readInt(core, ext)
      val pos = if (apDelta) { val p = prevPos + ap; prevPos = p; p } else ap
      eRG.readInt(core, ext)
      var name =
        if (!rnPreserved) if (needName) s"rec$i" else null
        else if (needName) new String(req(eRN, "RN").readBytes(core, ext))
        else { req(eRN, "RN").skipBytes(core, ext); null } // pruned: sync only
      var mateRef: Integer = null
      if ((cf & 0x2) != 0) { // detached
        req(eMF, "MF").readInt(core, ext)
        if (!rnPreserved) {
          if (needName) name = new String(req(eRN, "RN").readBytes(core, ext))
          else req(eRN, "RN").skipBytes(core, ext)
        }
        val ns = req(eNS, "NS").readInt(core, ext)
        req(eNP, "NP").readInt(core, ext)
        req(eTS, "TS").readInt(core, ext)
        mateRef = ns
      } else if ((cf & 0x4) != 0) {
        req(eNF, "NF").readInt(core, ext)
        mateRef = ri // downstream mate in the same slice/reference
      }
      val tl = eTL.readInt(core, ext)
      // hoisted empty: Array.empty[(String, Char)] runs ClassTag.apply per
      // record (7% of the decode profile on tag-free corpora)
      val tagDefs = if (tl < td.length) td(tl) else CramFormat.NoTagDefs
      val tags = new Array[Any](if (needTags) tagDefs.length else 0)
      var ti = 0
      while (ti < tagDefs.length) {
        val (tag, typ) = tagDefs(ti)
        val key = (tag.charAt(0).toInt << 16) | (tag.charAt(1).toInt << 8) | typ.toInt
        val raw = tagEncs(key).readBytes(core, ext) // always consume
        if (needTags)
          tags(ti) = new GenericInternalRow(
            Array[Any](utf8(tag), utf8(tagValueString(typ, raw))))
        ti += 1
      }

      var cigar: String = null
      var endPos: java.lang.Long = null
      var mq: Integer = null
      var quals: Array[Byte] = null
      var seqU: org.apache.spark.unsafe.types.UTF8String = null
      if ((bf & 4) == 0) { // mapped
        val refWin: CramFormat.RefWindow =
          if (ri >= 0 && ri < refs.length) refWinFor(ri) else null
        // ASCII byte array (SAM base alphabets are ASCII; a non-ASCII
        // byte would be malformed) — bulk feature payloads arraycopy in,
        // and the final value is UTF8String.fromBytes with no String or
        // re-encode (the per-char closure writes + String round-trip were
        // the top frames of the decode profile)
        val bases =
          if (needSeq && (refWin != null || !refRequired)) new Array[Byte](rl)
          else null
        var refOfs = 0 // reference bases consumed minus read bases consumed
        def fillRef(readPos1: Int): Unit = {
          if (bases != null) {
            val rp0 = pos - 1 + refOfs + readPos1 - 1
            bases(readPos1 - 1) =
              if (refWin == null) 'N'.toByte else refWin.charAt0(rp0).toByte
          }
        }
        // run-length cigar accumulation (no per-op tuples) + M/D/N span
        val sb = if (needCigar) new java.lang.StringBuilder(8) else null
        var runLen = 0
        var runOp = ' '
        var refSpan = 0L
        def op(n: Int, o: Char): Unit = {
          if (o == 'M' || o == 'D' || o == 'N') refSpan += n
          if (o == runOp) runLen += n
          else {
            if (runLen > 0 && sb != null) sb.append(runLen).append(runOp)
            runOp = o; runLen = n
          }
        }
        val fn = req(eFN, "FN").readInt(core, ext)
        var readPos = 1
        var fi = 0
        while (fi < fn) {
          val fc = req(eFC, "FC").readInt(core, ext).toChar
          val fp = req(eFP, "FP").readInt(core, ext)
          if (readPos < fp) {
            var rp = readPos
            while (rp < fp) { fillRef(rp); rp += 1 }
            op(fp - readPos, 'M'); readPos = fp
          }
          fc match {
            case 'B' =>
              val ba = req(eBA, "BA").readByte(core, ext)
              req(eQS, "QS").readByte(core, ext)
              if (bases != null) bases(readPos - 1) = ba.toByte
              op(1, 'M'); readPos += 1
            case 'X' =>
              val code = req(eBS, "BS").readInt(core, ext)
              if (bases != null) {
                val rp0 = pos - 1 + refOfs + readPos - 1
                bases(readPos - 1) = substitute(
                  if (refWin == null) 'N' else refWin.charAt0(rp0), code).toByte
              }
              op(1, 'M'); readPos += 1
            case 'I' =>
              val v = req(eIN, "IN").readBytes(core, ext)
              if (bases != null) System.arraycopy(v, 0, bases, readPos - 1, v.length)
              op(v.length, 'I'); readPos += v.length; refOfs -= v.length
            case 'i' =>
              val ba = req(eBA, "BA").readByte(core, ext)
              if (bases != null) bases(readPos - 1) = ba.toByte
              op(1, 'I'); readPos += 1; refOfs -= 1
            case 'S' =>
              val v = req(eSC, "SC").readBytes(core, ext)
              if (bases != null) System.arraycopy(v, 0, bases, readPos - 1, v.length)
              op(v.length, 'S'); readPos += v.length; refOfs -= v.length
            case 'D' =>
              val n = req(eDL, "DL").readInt(core, ext)
              op(n, 'D'); refOfs += n
            case 'N' =>
              val n = req(eRS, "RS").readInt(core, ext)
              op(n, 'N'); refOfs += n
            case 'H' => op(req(eHC, "HC").readInt(core, ext), 'H')
            case 'P' => op(req(ePD, "PD").readInt(core, ext), 'P')
            case 'Q' => req(eQS, "QS").readByte(core, ext)
            case 'b' =>
              val v = req(eBB, "BB").readBytes(core, ext)
              if (bases != null) System.arraycopy(v, 0, bases, readPos - 1, v.length)
              op(v.length, 'M'); readPos += v.length
            case 'q' => req(eQQ, "QQ").readBytes(core, ext)
            case other => throw new IllegalStateException(s"cram: feature '$other'")
          }
          fi += 1
        }
        if (readPos <= rl) {
          var rp = readPos
          while (rp <= rl) { fillRef(rp); rp += 1 }
          op(rl - readPos + 1, 'M')
        }
        if (runLen > 0 && sb != null) sb.append(runLen).append(runOp)
        if (needCigar) cigar = sb.toString
        endPos = pos - 1L + refSpan
        mq = req(eMQ, "MQ").readInt(core, ext)
        if ((cf & 0x1) != 0) {
          if (needQuals) quals = req(eQS, "QS").readByteRun(rl, core, ext)
          else req(eQS, "QS").skipByteRun(rl, core, ext)
        }
        if (bases != null)
          seqU = asciiBases(bases)
      } else {
        val rawBases = req(eBA, "BA").readByteRun(rl, core, ext)
        if (needSeq)
          seqU = asciiBases(rawBases)
        if ((cf & 0x1) != 0) {
          if (needQuals) quals = req(eQS, "QS").readByteRun(rl, core, ext)
          else req(eQS, "QS").skipByteRun(rl, core, ext)
        }
      }

      val outRow = new Array[Any](required.length)
      var ci = 0
      while (ci < required.length) {
        outRow(ci) = required(ci) match {
          case 0 => if (name == null || name.isEmpty || name == "*") null else utf8(name)
          case 1 => bf
          case 2 => if (ri < 0 || ri >= refs.length) null else utf8(refs(ri))
          case 3 => if ((bf & 4) != 0 || pos <= 0) null else pos.toLong
          case 4 => endPos
          case 5 => if (mq == null || mq == 255) null else utf8(mq.toString)
          case 6 => if (cigar == null) null else utf8(cigar)
          case 7 =>
            if (mateRef == null || mateRef < 0 || mateRef >= refs.length) null
            else utf8(refs(mateRef))
          case 8 => seqU
          case 9 =>
            if (quals == null) null
            else {
              // primitive long array, no per-value boxing
              val arr = new Array[Long](quals.length)
              var qi = 0
              while (qi < quals.length) { arr(qi) = quals(qi) & 0xff; qi += 1 }
              org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
                .fromPrimitiveArray(arr)
            }
          case 10 => new GenericArrayData(tags)
        }
        ci += 1
      }
      rows += outRow
      i += 1
    }
  }

  /** Decoded base bytes become a STRING column. The byte-direct path (no
    * ISO-8859-1 transcode since the r15 decode work) would emit invalid
    * UTF-8 if a base byte were >= 0x80 — legal nowhere in the IUPAC/'='/
    * '.' alphabets, so a high byte means a corrupt or adversarial stream:
    * fail loudly like the other malformed-input paths instead of letting
    * downstream string expressions mishandle it silently.
    */
  @inline private[sources] def asciiBases(
      b: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    // branch-free OR-reduction (auto-vectorizable) instead of a per-byte
    // compare-and-throw: the guard's first version was 13% of the decode
    // profile; the slow index hunt runs only on the corrupt path
    var acc = 0
    var i = 0
    while (i < b.length) { acc |= b(i); i += 1 }
    if (acc < 0) {
      i = 0
      while (b(i) >= 0) i += 1
      throw new IllegalStateException(
        f"cram: non-ASCII base byte 0x${b(i) & 0xff}%02x at offset $i — " +
          "corrupt sequence stream")
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
  }

  def tagValueString(typ: Char, raw: Array[Byte]): String = {
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    typ match {
      case 'Z' | 'H' => new String(raw).stripSuffix("\u0000")
      case 'A' => raw.headOption.map(_.toChar.toString).getOrElse("")
      case 'c' => bb.get().toString
      case 'C' => (bb.get() & 0xff).toString
      case 's' => bb.getShort().toString
      case 'S' => (bb.getShort() & 0xffff).toString
      case 'i' => bb.getInt().toString
      case 'I' => (bb.getInt() & 0xffffffffL).toString
      case 'f' => bb.getFloat().toString
      case 'B' =>
        val elem = bb.get().toChar
        val n = bb.getInt()
        (0 until n).map { _ =>
          elem match {
            case 'c' => bb.get().toString
            case 'C' => (bb.get() & 0xff).toString
            case 's' => bb.getShort().toString
            case 'S' => (bb.getShort() & 0xffff).toString
            case 'i' => bb.getInt().toString
            case 'I' => (bb.getInt() & 0xffffffffL).toString
            case 'f' => bb.getFloat().toString
          }
        }.mkString(",")
      case _ => new String(raw)
    }
  }
}

object CramFormat extends CramFormat(None, Nil) {
  private[formats] val NoTagDefs: Array[(String, Char)] = Array.empty

  /** Process-wide count of containers skipped by header/.crai pruning —
    * cheap observability the specs assert on (not part of the data path).
    */
  val containersSkipped = new java.util.concurrent.atomic.AtomicLong()

  /** Order-0 rANS frequency table (CRAM spec / htscodecs rans_F_decode):
    * symbols ascend; when the byte after a frequency equals sym+1, the byte
    * after THAT is a run length r — the named symbol and the r following
    * consecutive symbols all carry frequencies with no further symbol
    * bytes. Returns (freq[256], bytesConsumed). Package-visible because the
    * fixtures' only rANS block has no consecutive alphabet pair, so the RLE
    * branch must be spec-tested directly.
    */
  private[sources] def ransFreqTable(b: Array[Byte], start: Int): (Array[Int], Int) = {
    var o = start
    def u8(): Int = { val v = b(o) & 0xff; o += 1; v }
    def itf8(): Int = {
      val f = u8()
      if (f < 0x80) f
      else if (f < 0xC0) ((f & 0x3f) << 8) | u8()
      else if (f < 0xE0) ((f & 0x1f) << 16) | (u8() << 8) | u8()
      else if (f < 0xF0) ((f & 0x0f) << 24) | (u8() << 16) | (u8() << 8) | u8()
      else (((f & 0x0f).toLong << 28) | (u8().toLong << 20) | (u8() << 12) |
        (u8() << 4) | (u8() & 0x0f)).toInt
    }
    val freq = new Array[Int](256)
    var sym = u8()
    var rle = 0
    var done = false
    while (!done) {
      freq(sym) = itf8()
      if (rle > 0) { rle -= 1; sym += 1 }
      else {
        val next = u8()
        if (next == sym + 1) { sym = next; rle = u8() }
        else if (next == 0) done = true
        else sym = next
      }
    }
    (freq, o - start)
  }

  /** A window of one reference sequence: absolute 0-based addressing with
    * 'N' outside the loaded span (same semantics as indexing the full
    * sequence, which returned 'N' out of bounds).
    */
  final class RefWindow(seq: String, offset: Long, totalLen: Long) {
    def charAt0(p: Long): Char =
      if (p < offset || p >= offset + seq.length) 'N'
      else seq.charAt((p - offset).toInt)
  }

  private val faiCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, graft.sources.FaiEntry]]()

  /** Reference window for one slice. With a sibling `.fai` on an
    * uncompressed FASTA, only [start0, start0+span) (+margin) is read via
    * byte seeks — a chromosome-scale reference costs bytes ~ slice span,
    * not sequence length. Without one, whole sequences load once per
    * executor (cached). span < 0 requests the whole sequence.
    */
  def refWindow(path: String, name: String, start0: Long, span: Long,
                conf: org.apache.hadoop.conf.Configuration =
                  new org.apache.hadoop.conf.Configuration()): RefWindow = {
    val hp = new org.apache.hadoop.fs.Path(path)
    // the task's shipped configuration, not a fresh one — session fs.*
    // settings (object-store credentials, endpoints) must apply here too
    val fs = hp.getFileSystem(conf)
    val useFai = !graft.sources.Codecs.isCompressed(hp.getName) &&
      graft.sources.FaiIndex.exists(fs, hp)
    if (useFai) {
      val idx = faiCache.computeIfAbsent(path,
        _ => graft.sources.FaiIndex.read(fs, hp))
      idx.get(name) match {
        case Some(e) =>
          val s0 = math.max(0L, start0)
          val end1 = if (span < 0) e.length
                     else math.min(e.length, start0 + span + 16)
          val (sub, _) = graft.sources.FaiIndex.extract(fs, hp, e, s0 + 1, end1)
          new RefWindow(sub, s0, e.length)
        case None => null
      }
    } else loadReference(path, conf).get(name)
      .map(seq => new RefWindow(seq, 0, seq.length)).orNull
  }

  private val refCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  /** Parse a (possibly gzip'd) reference FASTA into name -> sequence. */
  def loadReference(path: String,
                    conf: org.apache.hadoop.conf.Configuration =
                      new org.apache.hadoop.conf.Configuration()): Map[String, String] =
    refCache.computeIfAbsent(path, { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val in = graft.sources.Codecs.wrap(hp.getName, fs.open(hp))
      try {
        val lines = new ByteLineReader(in, 0L)
        val out = mutable.LinkedHashMap[String, java.lang.StringBuilder]()
        var cur: java.lang.StringBuilder = null
        var l = lines.readLine()
        while (l != null) {
          if (l.nonEmpty && l.charAt(0) == '>') {
            cur = new java.lang.StringBuilder()
            out(l.substring(1).split("\\s+")(0)) = cur
          } else if (cur != null) cur.append(l.trim)
          l = lines.readLine()
        }
        out.map { case (k, v) => k -> v.toString }.toMap
      } finally in.close()
    })
}
