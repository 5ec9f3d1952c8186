package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** samtools `.fai` FASTA index: one line per sequence,
  * `name \t length \t offset \t linebases \t linewidth`, where `offset` is
  * the byte position of the sequence's first base and `linewidth` includes
  * the line terminator. Lets a region extraction seek straight to the
  * line-addressed byte range instead of streaming the whole file — the
  * reference resolves `fasta_indexed_scan` regions the same way
  * (exon/exon-core/src/datasources/indexed_file/fai.rs,
  * datasources/fasta/table_provider.rs:374-433).
  */
final case class FaiEntry(name: String, length: Long, offset: Long,
                          lineBases: Long, lineWidth: Long) {
  /** Byte offset of 1-based base `i`. */
  def offsetOf(i: Long): Long =
    offset + (i - 1) / lineBases * lineWidth + (i - 1) % lineBases
}

object FaiIndex {

  def faiPath(fasta: Path): Path = new Path(fasta.getParent, fasta.getName + ".fai")

  def exists(fs: FileSystem, fasta: Path): Boolean = fs.exists(faiPath(fasta))

  def read(fs: FileSystem, fasta: Path): Map[String, FaiEntry] = {
    val in = fs.open(faiPath(fasta))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty)
        .map { line =>
          val f = line.split('\t')
          FaiEntry(f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong)
        }
        .map(e => e.name -> e)
        .toMap
    } finally in.close()
  }

  /** Number of sequences the index describes (= exact FASTA record count):
    * one non-empty `.fai` line per sequence. Reads only the tiny index.
    */
  def countEntries(fs: FileSystem, fasta: Path): Option[Long] = {
    val fp = faiPath(fasta)
    if (!fs.exists(fp)) None
    else {
      val in = fs.open(fp)
      try {
        var n = 0L
        var sawByte = false
        val buf = new Array[Byte](1 << 16)
        var r = in.read(buf)
        var lastWasNl = true
        while (r > 0) {
          var i = 0
          while (i < r) {
            sawByte = true
            if (buf(i) == '\n') { if (!lastWasNl) n += 1; lastWasNl = true }
            else lastWasNl = false
            i += 1
          }
          r = in.read(buf)
        }
        if (!lastWasNl) n += 1 // final line without a trailing newline
        Some(if (sawByte) n else 0L)
      } finally in.close()
    }
  }

  /** Write a `.fai` for an (uncompressed) FASTA — used by tests and by users
    * producing seekable references with the FASTA writer.
    */
  def write(fs: FileSystem, fasta: Path): Unit = {
    val text = derive(fs.open(fasta))
    val o = fs.create(faiPath(fasta), true)
    try o.write(text.getBytes("UTF-8")) finally o.close()
  }

  /** Derive `.fai` content from a DECOMPRESSED fasta byte stream (offsets
    * are stream positions, i.e. uncompressed-domain — exactly what both the
    * plain and the bgzip+.gzi layouts need). The single validation core
    * shared by `write` and `graft.tools.Faidx`: rejects interior short
    * lines, interior blank lines followed by more sequence, and lines
    * LONGER than the first — any of which would make `offsetOf()` return
    * garbage. Closes the stream.
    */
  def derive(rawIn: java.io.InputStream): String = {
    val in = new java.io.BufferedInputStream(rawIn, 1 << 16)
    val out = new java.lang.StringBuilder()
    var name: String = null
    var length = 0L; var offset = 0L; var lineBases = 0L; var lineWidth = 0L
    var lastLineShort = false
    var pos = 0L
    def flush(): Unit = if (name != null) {
      out.append(name).append('\t').append(length).append('\t').append(offset)
        .append('\t').append(lineBases).append('\t').append(lineWidth).append('\n')
    }
    val lineBuf = new java.lang.StringBuilder()
    var done = false
    while (!done) {
      lineBuf.setLength(0)
      val lineStart = pos
      var c = in.read()
      while (c >= 0 && c != '\n') { lineBuf.append(c.toChar); pos += 1; c = in.read() }
      if (c >= 0) pos += 1 // the newline
      val raw = lineBuf.toString
      val line = if (raw.endsWith("\r")) raw.dropRight(1) else raw
      if (raw.isEmpty && c < 0) done = true
      else if (line.startsWith(">")) {
        flush()
        val h = line.substring(1)
        val sp = h.indexWhere(ch => ch == ' ' || ch == '\t')
        name = if (sp < 0) h else h.substring(0, sp)
        length = 0; offset = pos; lineBases = 0; lineWidth = 0
        lastLineShort = false
      } else if (line.isEmpty) {
        // A blank line INSIDE a sequence body breaks line addressing the
        // same way a short interior line does; flag it so a following body
        // line triggers the irregular-layout rejection below. (Blank lines
        // between records are harmless: offset is set at the first body
        // line.)
        if (name != null && length > 0) lastLineShort = true
      } else {
        if (lineBases == 0) {
          lineBases = line.length; lineWidth = pos - lineStart
          offset = lineStart // first body line, not the post-header position
        }
        else if (lastLineShort)
          // A short line was NOT the sequence terminator: the file is not
          // line-addressable and offsetOf() would return garbage. Fail
          // loudly (samtools faidx does the same) instead of writing an
          // index that silently corrupts extractions.
          throw new IllegalArgumentException(
            s"fai: irregular line length inside sequence '$name' — " +
              "only the last line of a sequence may be short")
        if (line.length > lineBases)
          throw new IllegalArgumentException(
            s"fai: line longer than the first line in sequence '$name'")
        lastLineShort = line.length < lineBases
        length += line.length
      }
    }
    flush()
    in.close()
    out.toString
  }

  /** Extract 1-based inclusive [start, end] of `e` by seeking to the
    * line-addressed byte range; never materializes the full sequence.
    * Returns (subsequence, rawBytesRead) — the byte count exists so tests
    * can assert reads stay proportional to the region, not the file.
    */
  def extract(fs: FileSystem, fasta: Path, e: FaiEntry,
              start: Long, end: Long): (String, Long) = {
    val s = math.max(1L, start)
    val t = math.min(e.length, end)
    if (t < s) return ("", 0L)
    val from = e.offsetOf(s)
    val until = e.offsetOf(t) + 1 // inclusive last base byte
    require(until - from <= Int.MaxValue - 8,
      s"fai: requested span ${t - s + 1} of '${e.name}' exceeds the 2 GB " +
        "single-extraction limit — request a smaller window")
    val nBytes = (until - from).toInt
    val buf = new Array[Byte](nBytes)
    val in = fs.open(fasta)
    try {
      in.seek(from)
      in.readFully(buf)
    } finally in.close()
    val sb = new java.lang.StringBuilder((t - s + 1).toInt)
    var i = 0
    while (i < nBytes) {
      val b = buf(i)
      if (b != '\n' && b != '\r') sb.append(b.toChar)
      i += 1
    }
    (sb.toString, nBytes)
  }

  /** `extract` over a BGZIPPED fasta: the same uncompressed-domain `.fai`
    * arithmetic, with the sibling `.gzi` mapping both ends of the byte
    * range to BGZF virtual positions — bytes decompressed stay proportional
    * to the region, not the file (`samtools faidx ref.fa.gz` semantics).
    */
  def extractBgzf(fs: FileSystem, fasta: Path, gzi: GziIndex, e: FaiEntry,
                  start: Long, end: Long): (String, Long) = {
    val s = math.max(1L, start)
    val t = math.min(e.length, end)
    if (t < s) return ("", 0L)
    val from = e.offsetOf(s)
    val until = e.offsetOf(t) + 1
    require(until - from <= Int.MaxValue - 8,
      s"fai: requested span ${t - s + 1} of '${e.name}' exceeds the 2 GB " +
        "single-extraction limit — request a smaller window")
    val nBytes = (until - from).toInt
    val buf = new Array[Byte](nBytes)
    val in = new BgzfStreamInputStream(fs.open(fasta),
      gzi.virtualFor(from), gzi.virtualFor(until))
    try {
      var got = 0
      while (got < nBytes) {
        val r = in.read(buf, got, nBytes - got)
        require(r >= 0, s"fai+gzi: unexpected EOF extracting '${e.name}'")
        got += r
      }
    } finally in.close()
    val sb = new java.lang.StringBuilder((t - s + 1).toInt)
    var i = 0
    while (i < nBytes) {
      val b = buf(i)
      if (b != '\n' && b != '\r') sb.append(b.toChar)
      i += 1
    }
    (sb.toString, nBytes)
  }
}
