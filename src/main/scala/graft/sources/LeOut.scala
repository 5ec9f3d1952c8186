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
