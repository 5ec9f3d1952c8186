package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Buffered line reader over a byte stream that tracks the byte offset of
  * every line start, so splittable formats can honor [start, end) ownership:
  * a record belongs to the split in which its first byte lies.
  *
  * Offsets are raw-stream offsets (file offsets for uncompressed reads);
  * compressed inputs are always read as a single whole-file split, where the
  * offsets are only used for monotonicity.
  */
final class ByteLineReader(in: InputStream, startOffset: Long) {
  private val buf = new Array[Byte](1 << 16)
  private var len = 0
  private var pos = 0
  private var eof = false
  private var off: Long = startOffset

  /** Byte offset of the first char of the most recently returned line. */
  var lastLineStart: Long = startOffset

  /** Offset of the next byte to be read — when positioned between lines,
    * the start offset of the line `readLine` would return next.
    */
  def nextLineStart: Long = off

  private def fill(): Unit = {
    if (eof) { pos = 0; len = 0; return }
    pos = 0
    len = 0
    while (len == 0) {
      val n = in.read(buf)
      if (n < 0) { eof = true; return }
      len = n
    }
  }

  /** Next line without its terminator (\n or \r\n); null at EOF. */
  def readLine(): String = {
    if (pos >= len) { fill(); if (pos >= len) return null }
    lastLineStart = off
    var sb: java.io.ByteArrayOutputStream = null
    while (true) {
      var i = pos
      while (i < len && buf(i) != '\n') i += 1
      if (i < len) {
        off += (i - pos + 1)
        val s =
          if (sb == null) {
            val e = if (i > pos && buf(i - 1) == '\r') i - 1 else i
            new String(buf, pos, e - pos, UTF_8)
          } else {
            sb.write(buf, pos, i - pos)
            stripCr(sb.toString(UTF_8))
          }
        pos = i + 1
        return s
      } else {
        if (sb == null) sb = new java.io.ByteArrayOutputStream(256)
        sb.write(buf, pos, len - pos)
        off += (len - pos)
        fill()
        if (pos >= len) return stripCr(sb.toString(UTF_8))
      }
    }
    null // unreachable
  }

  private def stripCr(s: String): String =
    if (s.nonEmpty && s.charAt(s.length - 1) == '\r') s.substring(0, s.length - 1) else s

  // ---- byte-span path (hot text formats) -----------------------------
  // readLineSpan exposes the next line as a (bytes, offset, length) view
  // with NO String materialisation: ASCII formats (FASTA/FASTQ) parse and
  // build UTF8String values straight from these bytes, skipping the
  // UTF-8 -> UTF-16 -> UTF-8 transcode the String path pays per line.
  // The view is valid only until the next readLine/readLineSpan call.

  private var sideBuf = new Array[Byte](256)
  private var spanArr: Array[Byte] = _
  private var spanOff = 0
  private var spanLen = 0

  /** Backing array of the last span line (valid until the next read). */
  def lineBytes: Array[Byte] = spanArr
  /** Offset of the last span line within lineBytes. */
  def lineOff: Int = spanOff
  /** Length of the last span line (terminator stripped). */
  def lineLen: Int = spanLen

  /** Advance to the next line, exposing it via lineBytes/lineOff/lineLen
    * (\n or \r\n stripped); false at EOF. Lines contained in one buffer
    * fill are zero-copy views into the read buffer; boundary-crossing
    * lines accumulate into a reusable side buffer. Offset bookkeeping is
    * identical to readLine, so the two can interleave on one stream.
    */
  def readLineSpan(): Boolean = {
    if (pos >= len) { fill(); if (pos >= len) return false }
    lastLineStart = off
    var i = pos
    while (i < len && buf(i) != '\n') i += 1
    if (i < len) {
      off += (i - pos + 1)
      var e = i
      if (e > pos && buf(e - 1) == '\r') e -= 1
      spanArr = buf; spanOff = pos; spanLen = e - pos
      pos = i + 1
      true
    } else {
      var sn = 0
      def copyOut(from: Int, until: Int): Unit = {
        val n = until - from
        if (sn + n > sideBuf.length) {
          var cap = sideBuf.length * 2
          while (cap < sn + n) cap *= 2
          sideBuf = java.util.Arrays.copyOf(sideBuf, cap)
        }
        System.arraycopy(buf, from, sideBuf, sn, n)
        sn += n
      }
      var done = false
      while (!done) {
        copyOut(pos, len)
        off += (len - pos)
        fill()
        if (pos >= len) done = true // EOF: unterminated final line
        else {
          var j = pos
          while (j < len && buf(j) != '\n') j += 1
          if (j < len) {
            copyOut(pos, j)
            off += (j - pos + 1)
            pos = j + 1
            done = true
          }
          // else: no newline in this whole fill; loop copies it and refills
        }
      }
      if (sn > 0 && sideBuf(sn - 1) == '\r') sn -= 1
      spanArr = sideBuf; spanOff = 0; spanLen = sn
      true
    }
  }
}

/** Minimal growable byte buffer — an unsynchronized ByteArrayOutputStream
  * for the per-record hot loop (BAOS methods are synchronized and its array
  * escapes, so the JIT cannot reliably elide the locks).
  */
final class ByteArrayBuilder(initial: Int = 256) {
  private var buf = new Array[Byte](initial)
  private var n = 0
  def length: Int = n
  def append(src: Array[Byte], off: Int, len: Int): Unit = {
    if (n + len > buf.length) {
      var cap = buf.length * 2
      while (cap < n + len) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
    System.arraycopy(src, off, buf, n, len)
    n += len
  }
  def appendByte(v: Int): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    buf(n) = v.toByte
    n += 1
  }
  /** Raw backing array (valid to `length`; invalidated by appends). */
  def rawBytes: Array[Byte] = buf
  def reset(): Unit = n = 0
  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
}

/** Compression handling by file extension. BGZF (.bgz, and most .gz files in
  * bioinformatics) is a multi-member gzip stream; both java.util.zip and the
  * multi-member loop below decode it transparently for full-file scans.
  */
object Codecs {
  private val gzipExts = Seq(".gz", ".gzip", ".bgz", ".bgzf")
  private val zstdExts = Seq(".zst", ".zstd")
  private val bzip2Exts = Seq(".bz2", ".bzip2")
  private val xzExts = Seq(".xz")
  private val allExts = gzipExts ++ zstdExts ++ bzip2Exts ++ xzExts

  def isCompressed(name: String): Boolean = {
    val n = name.toLowerCase
    allExts.exists(n.endsWith)
  }

  /** File name with any compression suffix removed. */
  def stripCompression(name: String): String = {
    val n = name.toLowerCase
    allExts.find(n.endsWith) match {
      case Some(ext) => name.substring(0, name.length - ext.length)
      case None      => name
    }
  }

  /** Wrap with the right decompressor based on the file name — same
    * extension dispatch as the reference (exon_file_type.rs:179-206:
    * GZIP/ZSTD/BZIP2/XZ). bzip2/xz come from commons-compress, already on
    * Spark's classpath; both read concatenated members.
    */
  def wrap(name: String, in: InputStream): InputStream = {
    val n = name.toLowerCase
    // Whole-file gzip: if the member header carries the BGZF BC subfield,
    // serve through BgzfStreamInputStream so block inflation rides the
    // idle-core pool and OVERLAPS parse (r17: fastq_bgzf single-task
    // decode 68 -> ~100 MB/s; same mechanism as the split-path b14/b17
    // wins). Non-BGZF sequential codecs can't block-parallelise, but
    // decode can still OVERLAP parse through one idle-core producer (see
    // AsyncChunkedInputStream) — the plain sequential read when the pool
    // gate is closed.
    def pipelined(dec: InputStream): InputStream = AsyncChunkedInputStream.wrap(dec)
    if (gzipExts.exists(n.endsWith)) gunzip(in, pipelined)
    else if (zstdExts.exists(n.endsWith)) {
      val z = new com.github.luben.zstd.ZstdInputStream(in)
      z.setContinuous(true)
      pipelined(z)
    } else if (bzip2Exts.exists(n.endsWith))
      pipelined(
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
          new java.io.BufferedInputStream(in, 1 << 16), true))
    else if (xzExts.exists(n.endsWith))
      pipelined(
        new org.apache.commons.compress.compressors.xz.XZCompressorInputStream(
          new java.io.BufferedInputStream(in, 1 << 16), true))
    else in
  }

  /** The whole-file gzip decision: BGZF content (sniffed without moving
    * the stream) decodes through [[BgzfStreamInputStream]], any other gzip
    * through `generic` over the multi-member stream. The sniff's pushback
    * is a pass-through once drained, so the BGZF path copies nothing extra.
    */
  def gunzip(in: InputStream, generic: InputStream => InputStream): InputStream = {
    val pb = new java.io.PushbackInputStream(in, Bgzf.SniffBytes)
    if (Bgzf.looksLikeBgzf(pb)) new BgzfStreamInputStream(pb)
    else generic(new MultiMemberGzipInputStream(pb))
  }
}

/** GZIPInputStream that reliably reads across concatenated members (BGZF =
  * thousands of small gzip members per file). Java's built-in multi-member
  * support gives up at a member boundary when the underlying stream reports
  * available() == 0 (legitimate for network/object-store streams); the
  * wrapper keeps available() positive until true EOF so readTrailer always
  * probes for the next member header (EOF then ends the stream cleanly).
  */
final class MultiMemberGzipInputStream(raw: InputStream)
  extends java.util.zip.GZIPInputStream(
    new MultiMemberGzipInputStream.AvailablePositive(
      new java.io.BufferedInputStream(raw, 1 << 16)), 1 << 16)

object MultiMemberGzipInputStream {
  private final class AvailablePositive(in: InputStream)
    extends java.io.FilterInputStream(in) {
    override def available(): Int = {
      val a = in.available()
      if (a > 0) a else 1
    }
  }
}
