package graft.sources

import java.io.OutputStream

/** Little-endian emitter for the binary sinks and index writers: integers
  * and IEEE floats written byte by byte into `os`, with no scratch array
  * per value. `OutputStream.write(int)` keeps the low 8 bits, so no masks.
  */
final class LeOut[S <: OutputStream](val os: S) {
  def u8(v: Int): Unit = os.write(v)
  def i16(v: Int): Unit = { os.write(v); os.write(v >> 8) }
  def i32(v: Int): Unit = {
    os.write(v); os.write(v >> 8); os.write(v >> 16); os.write(v >> 24)
  }
  def i64(v: Long): Unit = { i32(v.toInt); i32((v >> 32).toInt) }
  def f32(v: Float): Unit = i32(java.lang.Float.floatToIntBits(v))
  def f64(v: Double): Unit = i64(java.lang.Double.doubleToLongBits(v))
  def bytes(b: Array[Byte]): Unit = os.write(b)
}

/** Little-endian reader for the BGZF binary formats (BAM, BCF): reads
  * straight off `in` — the block queue, with no buffer in between — and
  * counts the bytes it has consumed in `pos`, which is how the shared record
  * driver [[BgzfRecords]] knows each record's start position. A stream that
  * ends inside a value throws EOFException.
  */
final class LeIn(in: java.io.InputStream) {
  /** Bytes consumed, counted from where the caller set it. */
  var pos: Long = 0L

  def u8(): Int = {
    val v = in.read()
    if (v < 0) throw new java.io.EOFException()
    pos += 1
    v
  }
  def u16(): Int = { val a = u8(); val b = u8(); a | (b << 8) }
  def i16(): Int = u16().toShort.toInt
  def i32(): Int = { val a = u16(); val b = u16(); a | (b << 16) }
  def bytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new java.io.EOFException()
      off += r
    }
    pos += n
    b
  }
  def skip(n: Int): Unit = {
    val b = new Array[Byte](math.min(n, 8192))
    var left = n
    while (left > 0) {
      val r = in.read(b, 0, math.min(left, b.length))
      if (r < 0) throw new java.io.EOFException()
      left -= r
    }
    pos += n
  }

  /** The i32 that opens a record, or [[LeIn.Eof]] when the stream ends
    * cleanly before its first byte.
    */
  def i32OrEof(): Long = {
    val first = in.read()
    if (first < 0) LeIn.Eof
    else {
      pos += 1
      (first | (u8() << 8) | (u16() << 16)).toLong
    }
  }
}

object LeIn {
  /** [[LeIn.i32OrEof]]'s end-of-stream value; no i32 widens to it. */
  final val Eof = Long.MinValue
}
