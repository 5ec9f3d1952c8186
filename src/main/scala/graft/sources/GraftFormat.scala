package graft.sources

import org.apache.spark.sql.types._

/** One planned chunk handed to a format: the planner's [[FileChunk]] (its
  * `kind` says how the chunk was cut and so how the format enters it) plus
  * what the reader opened for it. Text formats consume `lines` (lazily
  * constructed; for a mid-file Plain split it is pre-aligned to the first
  * line at or after the split start; for a [[ChunkKind.Record]] chunk it
  * starts at the first owned BGZF block, offsets count from there, and the
  * format aligns itself). Binary formats consume `stream` — the
  * decompressed bytes of the chunk, or the raw seekable handle for the
  * container kinds — and a Record chunk's `resync`.
  *
  * `chunk.startsAtFileStart` is true when the stream begins at the file's
  * first byte (in-stream headers are present); a mid-file chunk takes its
  * file's header from [[fileHeader]].
  */
final class RecordInput(val chunk: FileChunk, val stream: java.io.InputStream,
                        mkLines: () => ByteLineReader = RecordInput.noLines,
                        val reopenRaw: () => java.io.InputStream = () =>
                          throw new UnsupportedOperationException("reopen not available"),
                        val fs: org.apache.hadoop.fs.FileSystem = null,
                        val resync: BgzfResyncInputStream = null) {
  lazy val lines: ByteLineReader = mkLines()
  val path: org.apache.hadoop.fs.Path = new org.apache.hadoop.fs.Path(chunk.path)

  /** Exclusive raw end of the records this chunk owns; `Long.MaxValue`
    * reads to the end of the stream (a whole file, a compressed stream, a
    * BGZF virtual range) or leaves the stop to `resync`'s ownership.
    */
  val end: Long =
    if (chunk.isWholeFile || chunk.isBgzfChunk || chunk.kind == ChunkKind.Record ||
        Codecs.isCompressed(path.getName)) Long.MaxValue
    else chunk.start + chunk.length

  /** The header of this chunk's file, parsed by `parse` from a fresh raw
    * stream (closed afterwards) and memoized per file version and format:
    * every chunk of a split or region-pruned file needs it, and one parse
    * per executor serves them all. Keyed by the listing's (path, mtime,
    * length), so a rewritten file re-keys instead of serving its old header.
    */
  def fileHeader[H <: AnyRef](format: String)(parse: java.io.InputStream => H): H =
    RecordInput.headers((chunk.fileKey, format)) {
      val raw = reopenRaw()
      try parse(raw) finally raw.close()
    }.asInstanceOf[H]
}

object RecordInput {
  private val noLines: () => ByteLineReader =
    () => throw new IllegalStateException("binary chunks have no line view")

  private val headers = new PlanMemo[(GraftScan.FileKey, String), AnyRef]()
}

/** A file format the engine can scan: fixed schema + a record iterator.
  *
  * The iterator yields values for `required` data-column indices only (in
  * that order), as Catalyst internal values (UTF8String, Long, ArrayData…).
  * Column pruning therefore reaches the parser — unreferenced columns are
  * never materialized (SURVEY §4.1 projection pushdown).
  *
  * CONTRACT (no buffer reuse): every UTF8String / Array[Byte] a format
  * yields must be a FRESH immutable value — never a view into a buffer the
  * parser will overwrite for a later record. The columnar read path
  * (RefColumnVector in GraftDataSource.scala) stores these references
  * directly into the batch handed to Spark codegen with zero byte copies;
  * a reused backing buffer would silently corrupt earlier rows of the
  * batch. All current parsers copy out of their span/line buffers
  * (UTF8String.fromBytes with a fresh array, or fromString). A test in
  * ColumnarPathSpec scans each string-bearing format columnar and asserts
  * value stability across the whole batch.
  */
trait GraftFormat extends Serializable {
  def shortName: String
  def dataSchema: StructType
  /** Extensions (without dot) recognized when listing a directory. */
  def defaultExtensions: Seq[String]
  /** Uncompressed files may be split at record boundaries. */
  def splittable: Boolean = false

  /** One record == one line. A line format re-finds a record boundary
    * anywhere (the next '\n'), so it takes the index-free BGZF split
    * ([[bgzfRecordResync]]) through LineFormat.records' line rule.
    * Multi-line-record formats (FASTA, FASTQ, GenBank) must stay false —
    * their record boundary is not '\n'.
    */
  def lineRecords: Boolean = false

  /** The format can re-find a record boundary mid-stream in BGZF-compressed
    * data (hadoop-bam SplitGuesser style). Enables the index-free full-scan
    * split of big unindexed BGZF files (BAM/BCF with no .bai/.csi sibling,
    * bgzipped FASTQ/FASTA, bgzipped line files with no .tbi): the planner
    * cuts at raw compressed offsets, each reader aligns to the first BGZF
    * block at/after its cut (validated magic scan), and the format finds
    * the first record it owns. Formats setting this must handle a
    * [[ChunkKind.Record]] chunk (its `input.resync`) in records(); the BGZF
    * binary formats do so through the shared driver [[BgzfRecords]], the
    * line formats through LineFormat.records.
    */
  def bgzfRecordResync: Boolean = lineRecords

  /** The format can re-find a record/container boundary from a RAW byte
    * offset at task open (CRC-validated header resync for CRAM; markup-
    * pattern alignment for mzML). Enables the scale-safe index-free split
    * of big files the other strategies can't cut: the planner cuts at raw
    * offsets in O(1) driver work (one cached [[resyncSplitSniff]], no
    * per-record driver I/O) and each reader aligns itself to the first
    * boundary it owns. It is the split whenever no index sibling
    * ([[resyncIndexSibling]]) exists; the indexed path reads exact starts
    * through [[alignedCutOffsets]] instead. Formats setting this must
    * handle a [[ChunkKind.Container]] chunk in records() and override
    * [[resyncSplitSniff]].
    */
  def containerResync: Boolean = false

  /** One small driver read deciding whether THIS file supports the
    * raw-cut resync split (magic check). Memoized per (path, mtime, len) by
    * the planner, so it must not depend on tunables — nor on anything
    * OUTSIDE the file: an index sibling's existence goes in
    * [[resyncIndexSibling]], which the planner checks uncached (the sibling
    * can appear without the data file's mtime/len changing).
    */
  def resyncSplitSniff(fs: org.apache.hadoop.fs.FileSystem,
                       path: org.apache.hadoop.fs.Path): Boolean = false

  /** Index sibling whose EXISTENCE vetoes the resync split for `path`
    * (CRAM's `.crai` — exact cuts through [[alignedCutOffsets]] beat
    * resync). Checked by the planner on every plan, outside the sniff
    * cache: a sibling dropped next to an already-planned file must switch
    * the next scan to the indexed path, not wait for cache eviction.
    */
  def resyncIndexSibling(path: org.apache.hadoop.fs.Path)
      : Option[org.apache.hadoop.fs.Path] = None

  /** Ascending raw-byte offsets of self-delimiting container/record starts
    * usable as cut points for a whole-file split of one big file (CRAM
    * container starts from the `.crai`, FCS event stride). Null when the
    * format has none, and for a CRAM without a `.crai`. Driver-side and
    * memoized by the planner; implementations must be one small read (an
    * index, a metadata header), never a pass over the file, and a failure
    * (an unreadable `.crai`) plans the file as one task. Readers of the
    * resulting [[ChunkKind.Aligned]] chunks see `input.chunk.startOffset`
    * and `input.end` and must decode exactly the containers starting
    * inside [startOffset, end).
    */
  def alignedCutOffsets(fs: org.apache.hadoop.fs.FileSystem,
                        path: org.apache.hadoop.fs.Path,
                        fileSize: Long): Array[Long] = null

  /** Formats with file-driven schemas (FCS parameters, SDF data headers)
    * override this; called once on the driver with the listed files.
    * `open` yields the decompressed stream of a file.
    */
  def inferDataSchema(files: Seq[org.apache.hadoop.fs.FileStatus],
                      open: org.apache.hadoop.fs.FileStatus => java.io.InputStream): StructType =
    dataSchema

  def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] =
    throw new UnsupportedOperationException(s"$shortName: records() not implemented")

  /** Schema-aware variant; default delegates to the fixed-schema one. */
  def records(input: RecordInput, schema: StructType, required: Array[Int]): Iterator[Array[Any]] =
    records(input, required)

  /** (chromosome col, interval-start col, interval-end col) if this format
    * carries genomic coordinates — enables tabix-index-driven region
    * pushdown (chunk pruning) and `.option("region", "chr1:1-100")`.
    * Point formats (VCF) use the same column for start and end.
    */
  def regionColumns: Option[(String, String, String)] = None

  /** True when the format consumes `region`/`regionFile` options itself
    * (indexed FASTA subsequence extraction, CRAM container pruning) rather
    * than through `regionColumns`-driven row filtering.
    */
  def handlesRegionsItself: Boolean = false

  /** True when the format's coordinates are 0-based half-open (BED, BigWig);
    * region strings are always 1-based inclusive, so the row-level overlap
    * test shifts accordingly.
    */
  def zeroBasedHalfOpen: Boolean = false
}

/** Base for one-line-per-record formats (GFF/GTF/BED/HMMDOMTAB/SAM/VCF…):
  * splittable for free, with comment/header line skipping.
  */
object LineFormat {
  /** See [[LineFormat.byteParser]] — abstract class so `off`/`len` stay
    * primitive through the per-line call (FunctionN would box them).
    */
  abstract class ByteLineParser {
    def parse(b: Array[Byte], off: Int, len: Int): Array[Any]
  }
}

abstract class LineFormat extends GraftFormat {
  override def splittable: Boolean = true
  override def lineRecords: Boolean = true

  /** Lines to skip entirely (comments, headers). */
  def skipLine(line: String): Boolean = line.isEmpty || line.charAt(0) == '#'

  /** Parse one data line into the required columns; null to drop the line. */
  def parseLine(line: String, required: Array[Int]): Array[Any]

  /** Opt-in byte-span path: formats returning true here parse via
    * skipLineBytes/parseLineBytes and never materialise the line as a
    * String (no UTF-8→UTF-16→UTF-8 transcode). Values handed out must be
    * FRESH objects (see the records contract) — the line span is only
    * valid until the next readLineSpan call.
    */
  def parsesBytes: Boolean = false
  def skipLineBytes(b: Array[Byte], off: Int, len: Int): Boolean =
    len == 0 || b(off) == '#'
  def parseLineBytes(b: Array[Byte], off: Int, len: Int,
                     required: Array[Int]): Array[Any] =
    throw new UnsupportedOperationException(s"$shortName: no byte-span parser")

  /** Per-ITERATOR byte parser: formats whose parseLineBytes fetches
    * per-thread scratch can override this to fetch it once per chunk and
    * close over it — a records() iterator is created and consumed on one
    * task thread, so the hoist is safe and removes a ThreadLocal map
    * probe per LINE (measured ~5% of the VCF decode profile, collision
    * walks included). An abstract class, NOT a FunctionN: Function3 has
    * no Int specialization, so a lambda here would box off/len per line.
    * Default delegates to parseLineBytes.
    */
  protected def byteParser(required: Array[Int]): LineFormat.ByteLineParser =
    new LineFormat.ByteLineParser {
      def parse(b: Array[Byte], off: Int, len: Int): Array[Any] =
        parseLineBytes(b, off, len, required)
    }

  /** Lines of this chunk, parsed. A [[ChunkKind.Record]] chunk (an
    * unindexed bgzipped file) applies the line rule on its owned BGZF
    * blocks: a mid-file chunk first discards through its first '\n' (that
    * line is its predecessor's), then serves a line while the '\n' just
    * before it (at `nextLineStart - 1`) lies in an owned block; the head
    * chunk's first line has no '\n' before it and is always served. So a
    * line straddling the last owned block completes here, and every line
    * lands in exactly one chunk under any chunking.
    */
  final override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] = {
    val rr = input.resync
    if (rr != null && !rr.hasOwned) return Iterator.empty
    val lines = input.lines
    if (rr != null && !input.chunk.startsAtFileStart) lines.readLineSpan()
    val end = input.end
    def owned(): Boolean = {
      val s = lines.nextLineStart
      s < end && (rr == null || rr.positionIsOwned(s - 1))
    }
    if (parsesBytes)
      new Iterator[Array[Any]] {
        private val parse = byteParser(required)
        private var nextRow: Array[Any] = _
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null) {
            if (!owned() || !lines.readLineSpan()) return
            if (!skipLineBytes(lines.lineBytes, lines.lineOff, lines.lineLen))
              nextRow = parse.parse(lines.lineBytes, lines.lineOff, lines.lineLen)
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): Array[Any] = { val r = nextRow; advance(); r }
      }
    else
      new Iterator[Array[Any]] {
        private var nextRow: Array[Any] = _
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null) {
            if (!owned()) return
            val line = lines.readLine()
            if (line == null) return
            if (!skipLine(line)) nextRow = parseLine(line, required)
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): Array[Any] = { val r = nextRow; advance(); r }
      }
  }
}

object FormatUtil {
  import org.apache.spark.unsafe.types.UTF8String

  /** Reusable delimiter-split scratch over a raw line span: after split(),
    * field i is (bytes, off(i), len(i)). Semantics match
    * String.split(delim) exactly — trailing empty fields dropped, interior
    * empties kept; the arrays grow as needed (multi-sample VCF lines have
    * unbounded column counts). One instance per executor thread via
    * ThreadLocal; results never outlive one parseLineBytes call.
    */
  final class SpanFields(initial: Int) {
    var off = new Array[Int](initial)
    var len = new Array[Int](initial)
    var n = 0
    @inline private def ensure(): Unit = if (n == off.length) {
      off = java.util.Arrays.copyOf(off, n * 2)
      len = java.util.Arrays.copyOf(len, n * 2)
    }
    def split(b: Array[Byte], lineOff: Int, lineLen: Int, delim: Byte): Int = {
      n = 0
      var s = lineOff
      val end = lineOff + lineLen
      var i = lineOff
      while (i < end) {
        if (b(i) == delim) { ensure(); off(n) = s; len(n) = i - s; n += 1; s = i + 1 }
        i += 1
      }
      ensure(); off(n) = s; len(n) = end - s; n += 1
      while (n > 0 && len(n - 1) == 0) n -= 1 // String.split: drop trailing empties
      n
    }

    @inline private def isWs(c: Byte): Boolean =
      c == ' ' || c == '\t' || c == '\f' || c == 0x0B || c == '\r'

    /** Whitespace-RUN split with a positive limit, matching
      * trim().split("\\s+", limit): runs of whitespace separate fields and
      * field limit-1 is the verbatim remainder. Pass a pre-trimmed span.
      */
    def splitWs(b: Array[Byte], lineOff: Int, lineLen: Int, limit: Int): Int = {
      n = 0
      val end = lineOff + lineLen
      var i = lineOff
      while (i < end) {
        while (i < end && isWs(b(i))) i += 1
        if (i < end) {
          val s = i
          if (n == limit - 1) {
            ensure(); off(n) = s; len(n) = end - s; n += 1; i = end
          } else {
            while (i < end && !isWs(b(i))) i += 1
            ensure(); off(n) = s; len(n) = i - s; n += 1
          }
        }
      }
      n
    }
  }

  /** Fresh-copy UTF8String from a span (RefColumnVector contract: never a
    * view into the reader's reused line buffer). */
  @inline def utf8Span(b: Array[Byte], off: Int, len: Int): UTF8String =
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, off, off + len))

  @inline def isDotSpan(b: Array[Byte], off: Int, len: Int): Boolean =
    len == 1 && b(off) == '.'

  @inline def dotNullSpan(b: Array[Byte], off: Int, len: Int): UTF8String =
    if (len == 0 || isDotSpan(b, off, len)) null else utf8Span(b, off, len)

  def parseLongSpan(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    var neg = false
    if (i < end && (b(i) == '-' || b(i) == '+')) { neg = b(i) == '-'; i += 1 }
    if (i >= end) throw new NumberFormatException(spanString(b, off, len))
    var v = 0L
    while (i < end) {
      val d = b(i) - '0'
      if (d < 0 || d > 9) throw new NumberFormatException(spanString(b, off, len))
      // overflow guard: Long.parseLong throws on the String path, so the
      // byte path must too — a 20+-digit coordinate silently wrapping to a
      // wrong value is a parse-equivalence break (Long.MinValue's magnitude
      // is unreachable unsigned, matching parseLong for any real field)
      if (v > (Long.MaxValue - d) / 10)
        throw new NumberFormatException(spanString(b, off, len))
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  @inline def dotNullLongSpan(b: Array[Byte], off: Int, len: Int): Any =
    if (len == 0 || isDotSpan(b, off, len)) null else parseLongSpan(b, off, len)

  @inline def dotNullFloatSpan(b: Array[Byte], off: Int, len: Int): Any =
    if (len == 0 || isDotSpan(b, off, len)) null
    else parseFloatSpan(b, off, len)

  /** Float parse without the String + FloatingDecimal machinery for the
    * EXACTLY-representable shapes that dominate VCF QUAL columns:
    * optionally-signed integers with an optional all-zero fraction
    * ("37", "-2", "37.0", "37.000"). long→float narrowing is
    * round-to-nearest (JLS 5.1.3) — the same correctly-rounded result
    * Float.parseFloat gives for an integer-valued decimal — so the fast
    * path is bit-exact, and anything else (real fractions, exponents,
    * inf/nan, >18 digits) falls back to parseFloat.
    */
  def parseFloatSpan(b: Array[Byte], off: Int, len: Int): Float = {
    var i = off
    val end = off + len
    var neg = false
    if (i < end && (b(i) == '-' || b(i) == '+')) { neg = b(i) == '-'; i += 1 }
    var v = 0L
    var digits = 0
    while (i < end && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0'); digits += 1; i += 1
    }
    if (digits == 0 || digits > 18)
      return java.lang.Float.parseFloat(spanString(b, off, len))
    if (i < end && b(i) == '.') {
      i += 1
      var fracDigits = 0
      while (i < end && b(i) == '0') { i += 1; fracDigits += 1 }
      if (i < end || fracDigits == 0)
        return java.lang.Float.parseFloat(spanString(b, off, len))
    } else if (i < end)
      return java.lang.Float.parseFloat(spanString(b, off, len))
    if (neg) -v.toFloat else v.toFloat
  }

  @inline def spanString(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8)

  def parseIntSpan(b: Array[Byte], off: Int, len: Int): Int = {
    val v = parseLongSpan(b, off, len)
    if (v < Int.MinValue || v > Int.MaxValue)
      throw new NumberFormatException(spanString(b, off, len))
    v.toInt
  }

  @inline def spanEq(b: Array[Byte], off: Int, len: Int, c: Char): Boolean =
    len == 1 && b(off) == c

  /** Sub-split a field span on `sep` into an array of UTF8Strings with
    * String.split semantics: "" yields [""], trailing empties dropped.
    */
  def utf8ArraySpan(b: Array[Byte], off: Int, len: Int, sep: Byte)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (len == 0) // "".split(sep) == [""]
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.EMPTY_UTF8))
    var cnt = 1
    var i = off
    val end = off + len
    while (i < end) { if (b(i) == sep) cnt += 1; i += 1 }
    val parts = new Array[Any](cnt)
    var m = 0
    var s = off
    i = off
    while (i <= end) {
      if (i == end || b(i) == sep) {
        parts(m) = utf8Span(b, s, i - s); m += 1; s = i + 1
      }
      i += 1
    }
    while (m > 0 && parts(m - 1).asInstanceOf[UTF8String].numBytes == 0) m -= 1
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (m == cnt) parts
      else java.util.Arrays.copyOf(parts.asInstanceOf[Array[AnyRef]], m)
        .asInstanceOf[Array[Any]])
  }

  @inline def spanStartsWith(b: Array[Byte], off: Int, len: Int, p: String): Boolean = {
    if (len < p.length) return false
    var i = 0
    while (i < p.length) {
      if (b(off + i) != p.charAt(i)) return false
      i += 1
    }
    true
  }

  @inline def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** '.'-aware nullable string (the common "missing" marker in GFF/VCF/SAM). */
  @inline def dotNull(s: String): UTF8String =
    if (s == null || s.isEmpty || s == ".") null else UTF8String.fromString(s)

  @inline def dotNullLong(s: String): Any =
    if (s == null || s.isEmpty || s == ".") null else java.lang.Long.parseLong(s)

  @inline def dotNullFloat(s: String): Any =
    if (s == null || s.isEmpty || s == ".") null else java.lang.Float.parseFloat(s)

  def utf8Array(parts: Array[String]): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      parts.map(p => UTF8String.fromString(p): Any))
}
