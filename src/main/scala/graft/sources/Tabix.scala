package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Tabix (.tbi) index reader + region query. The format is public (tabix
  * paper / htslib spec): BGZF-compressed, little-endian, UCSC binning scheme
  * with a 16 kb linear index. The query returns merged BGZF virtual-position
  * chunks that may contain records overlapping the region — the scan then
  * seeks straight to those chunks instead of reading the file
  * (the reference's flagship pushdown, datasources/indexed_file/
  * indexed_bgzf_file.rs:34-140, re-expressed for DSv2 partition planning).
  */
final case class TabixIndex(names: Seq[String],
                            bins: Seq[Map[Int, Seq[(Long, Long)]]],
                            linear: Seq[Array[Long]],
                            minShift: Int = 14, depth: Int = 5) {

  def refId(name: String): Int = names.indexOf(name)

  /** Merged virtual chunks possibly overlapping [beg0, end0) on `chrom`. */
  def query(chrom: String, beg0: Long, end0: Long): Seq[(Long, Long)] = {
    val rid = refId(chrom)
    if (rid < 0) return Nil
    val refBins = bins(rid)
    val lin = linear(rid)
    val minOffset = {
      val i = (beg0 >> minShift).toInt
      if (lin.isEmpty) 0L
      else lin(math.min(math.max(i, 0), lin.length - 1))
    }
    val cand = TabixIndex.reg2bins(beg0, end0, minShift, depth)
      .flatMap(refBins.get).flatten
      .filter { case (_, e) => e > minOffset }
      .sortBy(_._1)
    // merge overlapping/adjacent chunks
    val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    cand.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2) {
        val (ls, le) = merged.last
        merged(merged.length - 1) = (ls, math.max(le, e))
      } else merged += ((s, e))
    }
    merged.toSeq
  }
}

object TabixIndex {

  /** Smallest bin (min_shift 14, depth 5) fully containing [beg, end0),
    * 0-based half-open: the bin the `.tbi`/`.bai`/`.csi` writers file a
    * record under.
    */
  def reg2bin(beg: Long, end0: Long): Int = {
    val end = end0 - 1
    if ((beg >> 14) == (end >> 14)) (4681 + (beg >> 14)).toInt
    else if ((beg >> 17) == (end >> 17)) (585 + (beg >> 17)).toInt
    else if ((beg >> 20) == (end >> 20)) (73 + (beg >> 20)).toInt
    else if ((beg >> 23) == (end >> 23)) (9 + (beg >> 23)).toInt
    else if ((beg >> 26) == (end >> 26)) (1 + (beg >> 26)).toInt
    else 0
  }

  /** Generalized UCSC binning (csi-style min_shift/depth; tabix = 14/5):
    * bins overlapping [beg, end), 0-based half-open.
    */
  def reg2bins(beg: Long, end0: Long, minShift: Int = 14, depth: Int = 5): Seq[Int] = {
    val maxPos = 1L << (minShift + depth * 3)
    val end = math.min(math.max(end0, beg + 1), maxPos) - 1
    val b = math.min(math.max(beg, 0), maxPos)
    val out = Seq.newBuilder[Int]
    var level = 0
    while (level <= depth) {
      val offset = ((1L << (level * 3)) - 1) / 7
      val shift = minShift + (depth - level) * 3
      var k = offset + (b >> shift)
      while (k <= offset + (end >> shift)) { out += k.toInt; k += 1 }
      level += 1
    }
    out.result()
  }

  def read(tbiPath: Path, conf: Configuration): TabixIndex = {
    val fs = tbiPath.getFileSystem(conf)
    val in = new MultiMemberGzipInputStream(fs.open(tbiPath))
    val bytes = try in.readAllBytes() finally in.close()
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); b.get(magic)
    require(new String(magic, 0, 3) == "TBI", s"not a tabix index: $tbiPath")
    val nRef = b.getInt
    b.getInt; b.getInt; b.getInt; b.getInt; b.getInt; b.getInt // format..skip
    val lNm = b.getInt
    val nameBytes = new Array[Byte](lNm); b.get(nameBytes)
    val names = new String(nameBytes, java.nio.charset.StandardCharsets.UTF_8)
      .split(0.toChar).toSeq.filter(_.nonEmpty)
    val bins = Seq.newBuilder[Map[Int, Seq[(Long, Long)]]]
    val linear = Seq.newBuilder[Array[Long]]
    (0 until nRef).foreach { _ =>
      val nBin = b.getInt
      val m = Map.newBuilder[Int, Seq[(Long, Long)]]
      (0 until nBin).foreach { _ =>
        val bin = b.getInt
        val nChunk = b.getInt
        val chunks = (0 until nChunk).map(_ => (b.getLong, b.getLong))
        m += bin -> chunks
      }
      val nIntv = b.getInt
      val ioff = Array.fill(nIntv)(b.getLong)
      bins += m.result()
      linear += ioff
    }
    TabixIndex(names, bins.result(), linear.result())
  }

  /** Sibling .tbi path if present. */
  def forFile(dataPath: Path, conf: Configuration): Option[TabixIndex] = {
    val tbi = new Path(dataPath.getParent, dataPath.getName + ".tbi")
    val fs = tbi.getFileSystem(conf)
    if (fs.exists(tbi)) Some(read(tbi, conf)) else None
  }
}

/** CSI (.csi) index: the generalized successor of tabix — BGZF-compressed,
  * configurable min_shift/depth, per-bin loffset instead of a linear index.
  * Reference ids resolve through the data file's own header (BCF contigs).
  */
object CsiIndex {

  def read(csiPath: Path, names: Seq[String], conf: Configuration): TabixIndex = {
    val fs = csiPath.getFileSystem(conf)
    val in = new MultiMemberGzipInputStream(fs.open(csiPath))
    val bytes = try in.readAllBytes() finally in.close()
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); b.get(magic)
    require(new String(magic, 0, 3) == "CSI", s"not a CSI index: $csiPath")
    val minShift = b.getInt
    val depth = b.getInt
    val lAux = b.getInt
    b.position(b.position() + lAux)
    val nRef = b.getInt
    val bins = Seq.newBuilder[Map[Int, Seq[(Long, Long)]]]
    (0 until nRef).foreach { _ =>
      val nBin = b.getInt
      val m = Map.newBuilder[Int, Seq[(Long, Long)]]
      (0 until nBin).foreach { _ =>
        val bin = b.getInt
        b.getLong // loffset
        val nChunk = b.getInt
        val chunks = (0 until nChunk).map(_ => (b.getLong, b.getLong))
        // exclude the metadata pseudo-bin (maxBin + 1)
        val maxBin = (((1L << ((depth + 1) * 3)) - 1) / 7).toInt
        if (bin <= maxBin) m += bin -> chunks
      }
      bins += m.result()
    }
    TabixIndex(names, bins.result(), Seq.fill(nRef)(Array.empty[Long]), minShift, depth)
  }

  /** For a BCF file: contig names from its own header, sibling .csi. */
  def forBcf(bcfPath: Path, conf: Configuration): Option[TabixIndex] = {
    val csi = new Path(bcfPath.getParent, bcfPath.getName + ".csi")
    val fs = csi.getFileSystem(conf)
    if (!fs.exists(csi)) return None
    val in = new MultiMemberGzipInputStream(fs.open(bcfPath))
    val names = try formats.BcfFormat.readContigNames(in) finally in.close()
    Some(read(csi, names, conf))
  }
}

/** BAM .bai index: same binning structures as tabix but stored raw
  * (uncompressed) and without a name table — reference ids resolve through
  * the BAM header. Exposed as a TabixIndex so region queries share one code
  * path.
  */
object BaiIndex {

  def forBam(bamPath: Path, conf: Configuration): Option[TabixIndex] = {
    val bai = new Path(bamPath.getParent, bamPath.getName + ".bai")
    val fs = bai.getFileSystem(conf)
    if (!fs.exists(bai)) return None

    val headerIn = new MultiMemberGzipInputStream(fs.open(bamPath))
    val names = try formats.BamFormat.readHeader(new LeIn(headerIn)).names
      finally headerIn.close()

    val in = fs.open(bai)
    val bytes = try in.readAllBytes() finally in.close()
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); b.get(magic)
    require(new String(magic, 0, 3) == "BAI", s"not a .bai index: $bai")
    val nRef = b.getInt
    val bins = Seq.newBuilder[Map[Int, Seq[(Long, Long)]]]
    val linear = Seq.newBuilder[Array[Long]]
    (0 until nRef).foreach { _ =>
      val nBin = b.getInt
      val m = Map.newBuilder[Int, Seq[(Long, Long)]]
      (0 until nBin).foreach { _ =>
        val bin = b.getInt
        val nChunk = b.getInt
        val chunks = (0 until nChunk).map(_ => (b.getLong, b.getLong))
        // 37450 is the unmapped-count pseudo-bin, not real chunks.
        if (bin != 37450) m += bin -> chunks
      }
      val nIntv = b.getInt
      linear += Array.fill(nIntv)(b.getLong)
      bins += m.result()
    }
    Some(TabixIndex(names.toSeq, bins.result(), linear.result()))
  }

  /** Total record count from `.bai` metadata: per-reference pseudo-bin
    * 37450 carries (n_mapped, n_unmapped) in its second chunk — exactly
    * what `samtools idxstats` reads — and the index tail carries the
    * placed-nowhere count as a trailing u64 (SAMv1 spec §5.2). Returns
    * None unless every reference that has bins also carries the
    * pseudo-bin AND the trailing n_no_coor is present: older indexers
    * omitted both, and without them a metadata count would silently
    * miss reads. Count answers never fall back to guessing — a None
    * here just means the scan reads the data.
    */
  def recordCount(bamPath: Path, conf: Configuration): Option[Long] = {
    val bai = new Path(bamPath.getParent, bamPath.getName + ".bai")
    val fs = bai.getFileSystem(conf)
    if (!fs.exists(bai)) return None
    val in = fs.open(bai)
    val bytes = try in.readAllBytes() finally in.close()
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (b.remaining() < 8) return None
    val magic = new Array[Byte](4); b.get(magic)
    if (new String(magic, 0, 3) != "BAI") return None
    val nRef = b.getInt
    var total = 0L
    var i = 0
    while (i < nRef) {
      val nBin = b.getInt
      var sawPseudo = false
      var j = 0
      while (j < nBin) {
        val bin = b.getInt
        val nChunk = b.getInt
        if (bin == 37450 && nChunk >= 2) {
          b.getLong; b.getLong // virtual span of this reference
          total += b.getLong   // n_mapped
          total += b.getLong   // n_unmapped
          var k = 2
          while (k < nChunk) { b.getLong; b.getLong; k += 1 }
          sawPseudo = true
        } else {
          var k = 0
          while (k < nChunk) { b.getLong; b.getLong; k += 1 }
        }
        j += 1
      }
      if (nBin > 0 && !sawPseudo) return None
      val nIntv = b.getInt
      b.position(b.position() + 8 * nIntv)
      i += 1
    }
    if (b.remaining() < 8) return None
    total += b.getLong // n_no_coor
    Some(total)
  }
}
