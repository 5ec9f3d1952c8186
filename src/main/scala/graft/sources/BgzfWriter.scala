package graft.sources

import java.io.OutputStream
import java.util.zip.{CRC32, Deflater}

/** BGZF writer (SAM spec §4.1: gzip members with a BSIZE extra field,
  * 64 KiB uncompressed payload cap, 28-byte empty EOF member). Paired
  * with [[TabixWriter]] it produces seekable, `.tbi`-indexed VCF/GFF/BED
  * files — the file+index shape the indexed readers prune; also the
  * missing half of a round-trip: the readers were validated against
  * htslib-produced fixtures, so files from this writer are checked by a
  * fixture-proven decoder.
  *
  * `virtualPos` exposes the BGZF virtual position (compressedBlockStart
  * << 16 | inBlockOffset) of the NEXT byte written, which is exactly what
  * the tabix chunk entries store.
  */
final class BgzfWriter(out: OutputStream) {
  private val buf = new Array[Byte](65280) // htslib's payload size
  private var bufLen = 0
  private var compressedOffset = 0L
  private var uncompressedOffset = 0L
  // block starts after the first, in `.gzi` order — lets sinks commit a
  // sibling bgzip index without re-reading their own output
  private val blockStarts = scala.collection.mutable.ArrayBuffer[(Long, Long)]()

  /** `(compressed, uncompressed)` start pairs of every data block except
    * the implicit first — exactly the `.gzi` payload (GziIndex.write).
    */
  def blockIndex: Seq[(Long, Long)] = blockStarts.toSeq
  private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
  private val crc = new CRC32()
  private val scratch = new Array[Byte](1 << 17)
  private val le = new LeOut(out)

  def virtualPos: Long = (compressedOffset << 16) | bufLen

  def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    var remaining = len
    while (remaining > 0) {
      val n = math.min(remaining, buf.length - bufLen)
      System.arraycopy(bytes, o, buf, bufLen, n)
      bufLen += n
      o += n
      remaining -= n
      if (bufLen == buf.length) flushBlock()
    }
  }
  def write(bytes: Array[Byte]): Unit = write(bytes, 0, bytes.length)

  private def flushBlock(): Unit = {
    if (bufLen == 0) return
    if (compressedOffset > 0) blockStarts += ((compressedOffset, uncompressedOffset))
    uncompressedOffset += bufLen
    deflater.reset()
    deflater.setInput(buf, 0, bufLen)
    deflater.finish()
    var clen = 0
    while (!deflater.finished()) clen += deflater.deflate(scratch, clen, scratch.length - clen)
    crc.reset()
    crc.update(buf, 0, bufLen)
    val bsize = clen + 26 // header 18 + payload + crc 4 + isize 4
    require(bsize <= 65536, s"bgzf block overflow: $bsize")
    val hdr = Array[Byte](
      0x1f.toByte, 0x8b.toByte, 8, 4, // gzip magic, deflate, FEXTRA
      0, 0, 0, 0, 0, 0xff.toByte, // mtime, xfl, os
      6, 0, // XLEN
      66, 67, 2, 0, // SI1='B', SI2='C', SLEN=2
      ((bsize - 1) & 0xff).toByte, (((bsize - 1) >> 8) & 0xff).toByte)
    out.write(hdr)
    out.write(scratch, 0, clen)
    le.i32(crc.getValue.toInt)
    le.i32(bufLen)
    compressedOffset += bsize
    bufLen = 0
  }

  /** Flush remaining data, append the spec's empty EOF member, and release
    * the native deflate state (finalization would leak it until GC).
    */
  def finish(): Unit = {
    flushBlock()
    out.write(BgzfWriter.Eof)
    out.flush()
    deflater.end()
  }
}

object BgzfWriter {
  /** The fixed 28-byte empty-block EOF marker from the SAM spec. */
  val Eof: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
    0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
}
