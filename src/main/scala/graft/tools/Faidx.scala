package graft.tools

import org.apache.hadoop.fs.Path

import graft.sources.{Bgzf, BgzfStreamInputStream, Codecs, FaiIndex, GziIndex}

/** `samtools faidx` equivalent for onboarding EXTERNAL fasta files: builds
  * the `.fai` (and, for bgzipped input, the `.gzi`) siblings an existing
  * file lacks, so indexed region reads, fai+gzi full-scan splits, and
  * `.fai`-metadata count(*) all apply to data the engine didn't write.
  *
  * The `.fai` derivation is `FaiIndex.derive` — the SAME validation core
  * the uncompressed writer uses (rejects ragged/long/blank-interrupted
  * sequence lines loudly; a wrong index would silently return wrong
  * bases) — fed the decompressed byte stream so offsets land in the
  * uncompressed domain that fai+gzi addressing requires. For BGZF input a
  * second header-only pass chains the block sizes into the `.gzi`.
  *
  * Usage: `runMain graft.tools.Faidx <path/to/ref.fa[.gz]> ...`
  */
object Faidx {

  /** Build and commit sibling indexes; returns the `.fai` line count. */
  def index(path: Path, conf: org.apache.hadoop.conf.Configuration): Long = {
    val fs = path.getFileSystem(conf)
    val name = path.getName.toLowerCase
    val compressed = Codecs.isCompressed(name)
    val isBgzf = compressed && {
      val in = fs.open(path)
      try Bgzf.looksLikeBgzf(new java.io.PushbackInputStream(in, Bgzf.SniffBytes))
      finally in.close()
    }
    require(!compressed || isBgzf,
      s"$path: plain gzip cannot be random-accessed; recompress with bgzip")

    // pass 1: fai over the decompressed byte stream (shared core)
    val raw = fs.open(path)
    val faiText = FaiIndex.derive(
      if (isBgzf) new BgzfStreamInputStream(raw) else raw)
    val fo = fs.create(new Path(path.getParent, path.getName + ".fai"), true)
    try fo.write(faiText.getBytes("UTF-8")) finally fo.close()

    if (isBgzf) {
      // pass 2: chain block headers into the .gzi
      val in2 = fs.open(path)
      val blocks = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      try {
        var coff = 0L
        var uoff = 0L
        var blk = Bgzf.readBlock(in2)
        while (blk != null) {
          if (coff > 0 && blk.data.length > 0) blocks += ((coff, uoff))
          coff += blk.compressedSize
          uoff += blk.data.length
          blk = Bgzf.readBlock(in2)
        }
      } finally in2.close()
      val go = fs.create(GziIndex.gziPath(path), true)
      try GziIndex.write(go, blocks.toSeq) finally go.close()
    }
    faiText.linesIterator.count(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Faidx <fasta[.gz]> ...")
    val conf = new org.apache.hadoop.conf.Configuration()
    args.foreach { a =>
      val n = index(new Path(a), conf)
      println(s"$a: indexed $n sequences")
    }
  }
}
