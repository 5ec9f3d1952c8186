package graft.sources

import java.io.OutputStream

import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** BigWig (bbi) sink — the one format this engine could read but not
  * write until now. Built from the public Kent et al. spec ("BigWig and
  * BigBed: enabling browsing of large distributed datasets", supplemental
  * tables; the reference only READS bigwig via the bigtools crate,
  * exon/exon-core/src/datasources/bigwig — it has no bigwig sink), so
  * this is beyond-reference surface: `bedGraphToBigWig` as a parallel
  * Spark sink.
  *
  * Each task writes a standalone `.bw` part file: common 64-byte header,
  * chromosome B+ tree, zlib'd bedGraph sections, an R-tree over the
  * sections, and REAL zoom levels (default reduction levels 1000 and
  * 10000, `option("zoomLevels", "r1,r2,...")`), each with its own R-tree
  * — everything `BigWigValueFormat`/`BigWigZoomFormat` consume, produced
  * as well. Zoom summaries accumulate in double precision and follow the
  * spec's per-base weighting (validCount = covered bases, sumData =
  * Σ value·bases, min/max over interval values), with record ends
  * clipped to the chromosome's covered extent.
  *
  * Intervals are buffered per task and sorted per chromosome at commit —
  * the format's trees need the whole partition's layout before the first
  * header byte, exactly why the single-machine tools are two-pass. A
  * partition therefore bounds writer memory; at 100 TB the caller
  * repartitions by (chrom, position range) upstream, giving one bounded
  * `.bw` shard per genomic range. Overlapping intervals within a
  * chromosome are refused loudly (wig semantics), mirroring the
  * coordinate-sort refusal of the BAM/tabix sinks.
  */
final class BigWigSink(zooms: Array[Int], compress: Boolean) extends SinkJob {
  def dataSchema: StructType = formats.BigWigValueFormat.dataSchema
  def extension: String = "bw"
  def siblings: Seq[String] = Nil
  override def checkInput(input: StructType): Unit =
    dataSchema.fieldNames.foreach { f =>
      require(input.fieldNames.exists(_.equalsIgnoreCase(f)),
        s"bigwig write: input is missing required column '$f' " +
          s"(need name, start, end, value)")
    }
  def open(out: OutputStream, fileName: String): SinkEncoder =
    new BigWigEncoder(zooms, compress, out)
}

object BigWigSink {
  def apply(options: Map[String, String]): BigWigSink = {
    val zoomsRaw = options.getOrElse("zoomlevels", "1000,10000")
    val zooms = zoomsRaw.split(",").map(_.trim).filter(_.nonEmpty).map { t =>
      try t.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"bigwig write: bad zoomLevels entry '$t' in '$zoomsRaw' " +
            "(expect comma-separated positive ints)")
      }
    }.distinct.sorted
    require(zooms.forall(_ > 0),
      s"bigwig write: zoomLevels must be positive (got '$zoomsRaw')")
    val compress = options.getOrElse("compression", "zlib") match {
      case "zlib" => true
      case "none" => false
      case other => throw new IllegalArgumentException(
        s"bigwig write: unsupported compression '$other' (zlib|none)")
    }
    new BigWigSink(zooms, compress)
  }
}

private final class BigWigEncoder(zooms: Array[Int], compress: Boolean,
                                  dest: OutputStream) extends SinkEncoder {

  // (name, start, end, value) buffered per task; sorted per chrom at commit
  private val rows = mutable.ArrayBuffer[(String, Int, Int, Float)]()

  // DSv2 does not reliably enforce nullable=false on sink input; checked
  // per row so a null surfaces as a named error, not an NPE mid-task.
  private val colNames = Array("name", "start", "end", "value")

  override def write(values: Array[Any]): Unit = {
    var i = 0
    while (i < 4) {
      if (values(i) == null) throw new IllegalArgumentException(
        s"bigwig write: null in required column '${colNames(i)}'")
      i += 1
    }
    val name = values(0).toString
    val s = values(1).asInstanceOf[Int]
    val e = values(2).asInstanceOf[Int]
    val v = values(3).asInstanceOf[Float]
    require(s >= 0 && e > s, s"bigwig write: bad interval $name:$s-$e")
    rows += ((name, s, e, v))
  }

  // ---- little-endian byte building ----------------------------------
  private type Buf = LeOut[java.io.ByteArrayOutputStream]
  private def newBuf(): Buf = new LeOut(new java.io.ByteArrayOutputStream(1 << 12))

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    if (!compress) return raw
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** One indexed data block: chrom-id bounds + payload (pre-compression
    * size tracked for uncompressBufSize).
    */
  private final case class Block(chromIx: Int, start: Int, end: Int,
                                 payload: Array[Byte], rawSize: Int)

  private val ItemsPerSlot = 512
  private val RTreeBlockSize = 256

  /** R-tree bytes for `blocks`, assuming the tree starts at `treeOffset`
    * in the file (child offsets are absolute). One or two levels — a
    * two-level tree indexes 256·65535 blocks per part, far beyond any
    * sane shard.
    *
    * `itemCount`/`itemsPerSlot` follow Kent semantics (verified against
    * the externally-produced fixture): the MAIN index counts sections
    * with itemsPerSlot=1 (one leaf item per section); a ZOOM index
    * counts zoom RECORDS with itemsPerSlot = records per block.
    */
  private def rTree(blocks: Seq[(Block, Long, Long)], treeOffset: Long,
                    endDataOffset: Long, itemCount: Long,
                    itemsPerSlot: Int): Array[Byte] = {
    require(blocks.size <= RTreeBlockSize * 0xffff,
      s"bigwig write: ${blocks.size} blocks exceed a two-level R-tree")
    val b = newBuf()
    b.i32(0x2468ACE0)              // magic
    b.i32(RTreeBlockSize)          // blockSize
    b.i64(itemCount)               // items indexed (Kent semantics)
    val (minCx, minS) = if (blocks.isEmpty) (0, 0)
      else (blocks.map(_._1.chromIx).min,
        blocks.filter(_._1.chromIx == blocks.map(_._1.chromIx).min).map(_._1.start).min)
    val (maxCx, maxE) = if (blocks.isEmpty) (0, 0)
      else (blocks.map(_._1.chromIx).max,
        blocks.filter(_._1.chromIx == blocks.map(_._1.chromIx).max).map(_._1.end).max)
    b.i32(minCx); b.i32(minS); b.i32(maxCx); b.i32(maxE)
    b.i64(endDataOffset)           // endFileOffset of the indexed data
    b.i32(itemsPerSlot); b.i32(0)  // itemsPerSlot, reserved
    def leafNode(group: Seq[(Block, Long, Long)], buf: Buf): Unit = {
      buf.u8(1); buf.u8(0); buf.i16(group.size)
      group.foreach { case (blk, off, sz) =>
        buf.i32(blk.chromIx); buf.i32(blk.start)
        buf.i32(blk.chromIx); buf.i32(blk.end)
        buf.i64(off); buf.i64(sz)
      }
    }
    if (blocks.size <= RTreeBlockSize) {
      leafNode(blocks, b)
    } else {
      val groups = blocks.grouped(RTreeBlockSize).toSeq
      // root internal node, then the leaves in order; leaf offsets are
      // computable because every leaf's byte size is fixed by its count
      val rootSize = 4 + groups.size * 24
      var childOff = treeOffset + 48 + rootSize
      b.u8(0); b.u8(0); b.i16(groups.size)
      groups.foreach { g =>
        b.i32(g.head._1.chromIx); b.i32(g.head._1.start)
        b.i32(g.last._1.chromIx); b.i32(g.last._1.end)
        b.i64(childOff)
        childOff += 4 + g.size * 32
      }
      groups.foreach(g => leafNode(g, b))
    }
    b.os.toByteArray
  }

  override def finish(): Seq[(String, OutputStream => Unit)] = {
    // per-chrom sorted, non-overlapping intervals; chrom ids in name order
    val byChrom = new java.util.TreeMap[String, mutable.ArrayBuffer[(Int, Int, Float)]]()
    rows.foreach { case (n, s, e, v) =>
      byChrom.computeIfAbsent(n, _ => mutable.ArrayBuffer.empty) += ((s, e, v))
    }
    val chromNames = byChrom.keySet().toArray(Array.empty[String])
    val chromIvs: Array[Array[(Int, Int, Float)]] = chromNames.map { n =>
      val iv = byChrom.get(n).sortBy(t => (t._1, t._2)).toArray
      iv.sliding(2).foreach {
        case Array(a, c) => require(c._1 >= a._2,
          s"bigwig write: overlapping intervals on $n: " +
            s"[${a._1},${a._2}) and [${c._1},${c._2})")
        case _ =>
      }
      iv
    }
    val chromSizes: Array[Int] = chromIvs.map(iv => if (iv.isEmpty) 0 else iv.last._2)

    // ---- full-resolution bedGraph sections --------------------------
    val dataBlocks = mutable.ArrayBuffer[Block]()
    chromIvs.zipWithIndex.foreach { case (iv, cx) =>
      iv.grouped(ItemsPerSlot).foreach { sec =>
        val raw = newBuf()
        raw.i32(cx); raw.i32(sec.head._1); raw.i32(sec.last._2)
        raw.i32(0); raw.i32(0)          // itemStep, itemSpan (bedGraph)
        raw.u8(1); raw.u8(0)            // type=1 bedGraph, reserved
        raw.i16(sec.length)
        sec.foreach { case (s, e, v) => raw.i32(s); raw.i32(e); raw.f32(v) }
        val rb = raw.os.toByteArray
        dataBlocks += Block(cx, sec.head._1, sec.last._2, deflate(rb), rb.length)
      }
    }

    // ---- zoom summaries (per-base weighted, double accumulation) ----
    final case class ZRec(cx: Int, start: Int, end: Int, valid: Long,
                          min: Double, max: Double, sum: Double, sumSq: Double)
    def zoomRecords(rl: Int): Seq[ZRec] = {
      val recs = mutable.ArrayBuffer[ZRec]()
      chromIvs.zipWithIndex.foreach { case (iv, cx) =>
        if (iv.nonEmpty) {
          val acc = new java.util.TreeMap[Int, Array[Double]]() // bin -> [valid,min,max,sum,sumSq]
          iv.foreach { case (s, e, v) =>
            var bin = s / rl
            while (bin.toLong * rl < e) {
              val cover = math.min(e.toLong, (bin + 1).toLong * rl) -
                math.max(s.toLong, bin.toLong * rl)
              val a = acc.computeIfAbsent(bin,
                _ => Array(0.0, Double.MaxValue, Double.MinValue, 0.0, 0.0))
              a(0) += cover; a(1) = math.min(a(1), v); a(2) = math.max(a(2), v)
              a(3) += v.toDouble * cover; a(4) += v.toDouble * v * cover
              bin += 1
            }
          }
          acc.forEach { (bin, a) =>
            recs += ZRec(cx, bin * rl,
              math.min((bin + 1).toLong * rl, chromSizes(cx).toLong).toInt,
              a(0).toLong, a(1), a(2), a(3), a(4))
          }
        }
      }
      recs.toSeq
    }
    def zoomBlocks(recs: Seq[ZRec]): Seq[Block] =
      recs.grouped(ItemsPerSlot).map { sec =>
        val raw = newBuf()
        sec.foreach { r =>
          raw.i32(r.cx); raw.i32(r.start); raw.i32(r.end)
          raw.i32(r.valid.toInt)
          raw.f32(r.min.toFloat); raw.f32(r.max.toFloat)
          raw.f32(r.sum.toFloat); raw.f32(r.sumSq.toFloat)
        }
        val rb = raw.os.toByteArray
        Block(sec.head.cx, sec.head.start, sec.last.end, deflate(rb), rb.length)
      }.toSeq
    val zoomData: Array[(Int, Seq[ZRec], Seq[Block])] =
      zooms.map { rl =>
        val recs = zoomRecords(rl)
        (rl, recs, zoomBlocks(recs))
      }

    // ---- chromosome B+ tree (single leaf, keys sorted) --------------
    val keySize = math.max(1, if (chromNames.isEmpty) 1
      else chromNames.map(_.getBytes("US-ASCII").length).max)
    val chromTree = {
      val b = newBuf()
      b.i32(0x78CA8C91)
      b.i32(math.max(1, chromNames.length)) // blockSize
      b.i32(keySize); b.i32(8)              // keySize, valSize
      b.i64(chromNames.length.toLong); b.i64(0L)
      b.u8(1); b.u8(0); b.i16(chromNames.length)
      chromNames.zipWithIndex.foreach { case (n, cx) =>
        val kb = java.util.Arrays.copyOf(n.getBytes("US-ASCII"), keySize)
        b.bytes(kb); b.i32(cx); b.i32(chromSizes(cx))
      }
      b.os.toByteArray
    }

    // ---- total summary over all data --------------------------------
    val (tValid, tMin, tMax, tSum, tSumSq) = {
      var valid = 0L; var mn = Double.MaxValue; var mx = Double.MinValue
      var sm = 0.0; var sq = 0.0
      chromIvs.foreach(_.foreach { case (s, e, v) =>
        val c = (e - s).toLong
        valid += c; mn = math.min(mn, v); mx = math.max(mx, v)
        sm += v.toDouble * c; sq += v.toDouble * v * c
      })
      if (valid == 0) (0L, 0.0, 0.0, 0.0, 0.0) else (valid, mn, mx, sm, sq)
    }

    val uncompressBufSize =
      if (!compress) 0
      else (dataBlocks.map(_.rawSize) ++
        zoomData.flatMap(_._3).map(_.rawSize) ++ Seq(0)).max

    // ---- layout ------------------------------------------------------
    val headerSize = 64L
    val zoomHeadersSize = 24L * zooms.length
    val totalSummaryOffset = headerSize + zoomHeadersSize
    val chromTreeOffset = totalSummaryOffset + 40L
    val fullDataOffset = chromTreeOffset + chromTree.length
    // u64 section count, then the data blocks
    var cursor = fullDataOffset + 8
    val placedData = dataBlocks.map { blk =>
      val t = (blk, cursor, blk.payload.length.toLong)
      cursor += blk.payload.length
      t
    }.toSeq
    val fullIndexOffset = cursor
    val fullIndexBytes = rTree(placedData, fullIndexOffset, fullIndexOffset,
      placedData.size.toLong, 1)
    cursor += fullIndexBytes.length
    // zoom levels: u32 record count, blocks, then that level's R-tree
    val placedZooms = zoomData.map { case (rl, recs, blocks) =>
      val dataOff = cursor
      cursor += 4
      val placed = blocks.map { blk =>
        val t = (blk, cursor, blk.payload.length.toLong)
        cursor += blk.payload.length
        t
      }
      val indexOff = cursor
      val indexBytes = rTree(placed, indexOff, indexOff,
        recs.size.toLong, ItemsPerSlot)
      cursor += indexBytes.length
      (rl, recs.size, placed, dataOff, indexOff, indexBytes)
    }

    // ---- emit --------------------------------------------------------
    // Sections stream straight to the temp file (offsets were computed in
    // the layout pass above) — no whole-file in-heap assembly, so a
    // shard's peak memory is its rows + compressed blocks, with no
    // Int-indexed full-file array and its ~2 GB ceiling.
    val bufOut = new java.io.BufferedOutputStream(dest, 1 << 16)
    val file = new LeOut(bufOut)
    try {
    file.i32(BigWigWriteMagic.Magic)
    file.i16(4)                         // version
    file.i16(zooms.length)
    file.i64(chromTreeOffset)
    file.i64(fullDataOffset)
    file.i64(fullIndexOffset)
    file.i16(0); file.i16(0)            // fieldCount, definedFieldCount (wig)
    file.i64(0L)                        // autoSqlOffset
    file.i64(totalSummaryOffset)
    file.i32(uncompressBufSize)
    file.i64(0L)                        // reserved
    placedZooms.foreach { case (rl, _, _, dataOff, indexOff, _) =>
      file.i32(rl); file.i32(0); file.i64(dataOff); file.i64(indexOff)
    }
    file.i64(tValid); file.f64(tMin); file.f64(tMax); file.f64(tSum); file.f64(tSumSq)
    file.bytes(chromTree)
    file.i64(dataBlocks.size.toLong)
    placedData.foreach { case (blk, _, _) => file.bytes(blk.payload) }
    file.bytes(fullIndexBytes)
    placedZooms.foreach { case (_, nRecs, placed, _, _, indexBytes) =>
      file.i32(nRecs)
      placed.foreach { case (blk, _, _) => file.bytes(blk.payload) }
      file.bytes(indexBytes)
    }
    file.i32(BigWigWriteMagic.Magic)    // trailing magic, per Kent files
    } finally bufOut.close()
    Nil
  }

  override def close(): Unit = dest.close()
}

private object BigWigWriteMagic { val Magic = 0x888FFC26 }
