package graft.sources

import java.io.{ByteArrayOutputStream, OutputStream}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** The accumulator the `.tbi`, `.bai` and `.csi` writers share: per
  * reference, the UCSC bins (min_shift 14, depth 5, [[TabixIndex.reg2bin]])
  * with their chunk lists, a chunk that starts where the bin's last one
  * ends merged into it, and the 16 kb linear index. Records must arrive in
  * file order (ascending reference, ascending start), the precondition
  * tabix, samtools and bcftools impose too. Each writer keeps its own
  * serializer, since each is its own format.
  */
final class BinIndex(nRef: Int) {
  val bins: ArrayBuffer[LinkedHashMap[Int, ArrayBuffer[(Long, Long)]]] =
    ArrayBuffer.fill(nRef)(LinkedHashMap.empty)
  val linear: ArrayBuffer[ArrayBuffer[Long]] = ArrayBuffer.fill(nRef)(ArrayBuffer.empty)

  /** Appends an empty reference and returns its id. */
  def addRef(): Int = {
    bins += LinkedHashMap.empty
    linear += ArrayBuffer.empty
    bins.length - 1
  }

  /** Register one record spanning [beg0, end0) that occupies virtual
    * positions [vStart, vEnd) in the BGZF data file.
    */
  def add(refId: Int, beg0: Long, end0: Long, vStart: Long, vEnd: Long): Unit = {
    val chunks = bins(refId).getOrElseUpdate(TabixIndex.reg2bin(beg0, end0), ArrayBuffer.empty)
    if (chunks.nonEmpty && chunks.last._2 == vStart)
      chunks(chunks.length - 1) = (chunks.last._1, vEnd)
    else chunks += ((vStart, vEnd))
    val lin = linear(refId)
    var w = (beg0 >> 14).toInt
    val wEnd = ((end0 - 1) >> 14).toInt
    while (lin.length <= wEnd) lin += 0L
    while (w <= wEnd) {
      if (lin(w) == 0L || vStart < lin(w)) lin(w) = vStart
      w += 1
    }
  }
}

/** Tabix (.tbi) index writer: [[BinIndex]] serialized per the public
  * tabix spec, BGZF-compressed.
  */
final class TabixWriter(initialNames: Seq[String] = Nil) {
  private val names = ArrayBuffer[String](initialNames: _*)
  private val byName = scala.collection.mutable.HashMap[String, Int](
    initialNames.zipWithIndex: _*)
  private val index = new BinIndex(names.length)

  /** Reference id for `name`, appended on first sight — so a sink can
    * discover sequence names in record order instead of up front.
    */
  def tid(name: String): Int = byName.getOrElseUpdate(name, {
    names += name
    index.addRef()
  })

  def add(refId: Int, beg0: Long, end0: Long, vStart: Long, vEnd: Long): Unit =
    index.add(refId, beg0, end0, vStart, vEnd)

  /** Serialize to `out` (BGZF-compressed, "TBI\1"). The preset header
    * (format flags, seq/begin/end column numbers) defaults to tabix's VCF
    * preset; pass e.g. (0, 1, 4, 5) for GFF so external tabix consumers
    * re-cut lines correctly (our own reader is preset-independent).
    */
  def write(out: OutputStream, format: Int = 2, seqCol: Int = 1,
            begCol: Int = 2, endCol: Int = 0): Unit = {
    val le = new LeOut(new ByteArrayOutputStream())
    le.bytes(Array[Byte]('T', 'B', 'I', 1))
    le.i32(names.length)
    le.i32(format); le.i32(seqCol); le.i32(begCol); le.i32(endCol)
    le.i32('#'.toInt); le.i32(0) // meta char, skip
    val nm = names.map(_ + "\u0000").mkString.getBytes("US-ASCII")
    le.i32(nm.length)
    le.bytes(nm)
    names.indices.foreach { r =>
      le.i32(index.bins(r).size)
      index.bins(r).foreach { case (bin, chunks) =>
        le.i32(bin)
        le.i32(chunks.length)
        chunks.foreach { case (s, e) => le.i64(s); le.i64(e) }
      }
      le.i32(index.linear(r).length)
      index.linear(r).foreach(le.i64)
    }
    val w = new BgzfWriter(out)
    w.write(le.os.toByteArray)
    w.finish()
  }

  def write(path: java.nio.file.Path): Unit = {
    val fos = java.nio.file.Files.newOutputStream(path)
    try write(fos) finally fos.close()
  }
}

/** `.bai` writer: [[BinIndex]] stored raw (uncompressed, no name table —
  * SAMv1 spec §5.2), plus the metadata pseudo-bin 37450 per reference and
  * the trailing n_no_coor count that [[BaiIndex.recordCount]] requires.
  */
final class BaiWriter(nRef: Int) {
  private val index = new BinIndex(nRef)
  private val offBeg = Array.fill(nRef)(-1L)
  private val offEnd = Array.fill(nRef)(0L)
  private val nMapped = Array.fill(nRef)(0L)
  private val nUnmapped = Array.fill(nRef)(0L)
  private var noCoor = 0L

  def add(refId: Int, beg0: Long, end0: Long, vStart: Long, vEnd: Long,
          mapped: Boolean): Unit = {
    index.add(refId, beg0, end0, vStart, vEnd)
    if (offBeg(refId) < 0) offBeg(refId) = vStart
    offEnd(refId) = vEnd
    if (mapped) nMapped(refId) += 1 else nUnmapped(refId) += 1
  }

  def addNoCoor(): Unit = noCoor += 1

  def write(out: OutputStream): Unit = {
    val le = new LeOut(new ByteArrayOutputStream(1 << 16))
    le.bytes(Array[Byte]('B', 'A', 'I', 1))
    le.i32(nRef)
    (0 until nRef).foreach { r =>
      val bins = index.bins(r)
      val hasData = bins.nonEmpty
      le.i32(if (hasData) bins.size + 1 else 0) // + pseudo-bin
      bins.foreach { case (bin, chunks) =>
        le.i32(bin)
        le.i32(chunks.length)
        chunks.foreach { case (s, e) => le.i64(s); le.i64(e) }
      }
      if (hasData) {
        le.i32(37450); le.i32(2)
        le.i64(offBeg(r)); le.i64(offEnd(r))
        le.i64(nMapped(r)); le.i64(nUnmapped(r))
      }
      le.i32(index.linear(r).length)
      index.linear(r).foreach(le.i64)
    }
    le.i64(noCoor)
    out.write(le.os.toByteArray)
  }
}

/** CSI v1 index writer (min_shift=14, depth=5 — the tabix-compatible
  * geometry): [[BinIndex]] bins with chunk lists and per-bin loffset,
  * BGZF-compressed, `CSI\1` magic. No linear index (CSI carries loffset
  * instead; our reader and htslib both handle its absence that way).
  */
final class CsiWriter(nRef: Int) {
  private val index = new BinIndex(nRef)

  def add(rid: Int, beg0: Long, end0: Long, vStart: Long, vEnd: Long): Unit =
    index.add(rid, beg0, end0, vStart, vEnd)

  def write(out: OutputStream): Unit = {
    val le = new LeOut(new ByteArrayOutputStream(1 << 14))
    le.bytes(Array[Byte]('C', 'S', 'I', 1))
    le.i32(14) // min_shift
    le.i32(5)  // depth
    le.i32(0)  // l_aux
    le.i32(nRef)
    index.bins.foreach { m =>
      le.i32(m.size)
      m.foreach { case (bin, chunks) =>
        le.i32(bin)
        le.i64(chunks.head._1) // loffset: first overlapping record's voffset
        le.i32(chunks.length)
        chunks.foreach { case (s, e) => le.i64(s); le.i64(e) }
      }
    }
    val bgzf = new BgzfWriter(out)
    bgzf.write(le.os.toByteArray)
    bgzf.finish()
  }
}
