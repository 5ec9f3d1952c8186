package graft.sources.formats

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources._
import graft.sources.FormatUtil._

/** FASTA: records delimited by '>' at line start; id = first token of the
  * header, description = remainder; sequence = concatenated following lines.
  * Schema per the reference (exon/exon-fasta/src/config.rs:166-210).
  *
  * Splittable: a split owns every record whose '>' line starts inside
  * [start, end); alignment skips forward to the first header line.
  */
object FastaFormat extends WritableGraftFormat {
  override def shortName: String = "fasta"

  override def writeRecord(values: Array[Any], out: StringBuilder): Unit = {
    out.append('>').append(values(0))
    if (values(1) != null) out.append(' ').append(values(1))
    out.append('\n').append(values(2)).append('\n')
  }

  /** The sink writes one line per sequence, so the `.fai` tuple is exact:
    * linebases = sequence length, linewidth = +1 for the newline. Each part
    * file commits its own sibling index, making region subsequence reads
    * (`samtools faidx` semantics) work against the sink's own output.
    */
  override def faiLine(values: Array[Any], recordStart: Long): Option[String] = {
    val id = String.valueOf(values(0))
    val idLen = id.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    val descLen =
      if (values(1) == null) 0
      else 1 + String.valueOf(values(1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    val seqLen = String.valueOf(values(2))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    val seqOffset = recordStart + 1 + idLen + descLen + 1
    Some(s"$id\t$seqLen\t$seqOffset\t$seqLen\t${seqLen + 1}\n")
  }
  override def defaultExtensions: Seq[String] = Seq("fasta", "fa", "fna", "faa")
  override def splittable: Boolean = true
  override def writesFai: Boolean = true
  override val dataSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("description", StringType, nullable = true),
    StructField("sequence", StringType, nullable = false)))

  /** Index-free split of bgzipped FASTA with NO .fai/.gzi siblings: a '>'
    * at line start is an unambiguous record boundary (sequence lines are
    * bases, never '>'), so a chunk aligned to a BGZF block can re-find
    * records with no validation chain. A record belongs to the chunk
    * owning its header line's first decompressed byte.
    */
  override def bgzfRecordResync: Boolean = true

  /** Byte-level parse (readLineSpan): the sequence — the overwhelming bulk
    * of the bytes — is appended from raw line spans and wrapped as a
    * UTF8String with ONE copy and zero UTF-16 transcoding; only the short
    * header line materialises as a String. FASTA is ASCII by spec, so
    * byte-wise trim/compare is exact.
    */
  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] = {
    if (input.resync != null) {
      val rr = input.resync
      if (!rr.hasOwned) return Iterator.empty
      // line offsets are relative to the first owned block's first byte —
      // exactly the coordinate positionIsOwned speaks
      return fastaIter(input.lines, pos => rr.positionIsOwned(pos), required)
    }
    fastaIter(input.lines, pos => pos < input.end, required)
  }

  /** One FASTA record iterator over `lines`, serving every record whose
    * header-line start satisfies `owned` (splits: start < end; BGZF resync
    * chunks: block-positional ownership). Alignment stops at the first
    * line outside the owned extent — a later '>' belongs to a later chunk.
    */
  private def fastaIter(mkLines: => ByteLineReader, owned: Long => Boolean,
                        required: Array[Int]): Iterator[Array[Any]] =
    new Iterator[Array[Any]] {
      private val lines = mkLines
      private var haveHeader = false
      private var headerStart: Long = 0L
      // id/description parsed straight off the header span at read time
      // (fresh UTF8String copies — the span buffer is reused by the next
      // readLineSpan while sequence lines stream past).
      private var idU: UTF8String = _
      private var descU: UTF8String = _

      private def parseHeader(): Unit = {
        val b = lines.lineBytes
        val o = lines.lineOff + 1 // past '>'
        val end = lines.lineOff + lines.lineLen
        var sp = o
        while (sp < end && b(sp) != ' ' && b(sp) != '\t') sp += 1
        idU = FormatUtil.utf8Span(b, o, sp - o)
        // description = rest, String.trim semantics bytewise; null if empty
        var ds = sp + 1
        var de = end
        while (ds < de && (b(ds) & 0xff) <= ' ') ds += 1
        while (de > ds && (b(de - 1) & 0xff) <= ' ') de -= 1
        descU = if (sp >= end || de <= ds) null
          else FormatUtil.utf8Span(b, ds, de - ds)
      }

      // Align to the first record whose header starts in this split; stop
      // scanning once the line starts are no longer owned (any later '>'
      // belongs to a later chunk, so this chunk serves nothing).
      locally {
        var more = lines.readLineSpan()
        while (more && owned(lines.lastLineStart) &&
            !(lines.lineLen > 0 && lines.lineBytes(lines.lineOff) == '>'))
          more = lines.readLineSpan()
        haveHeader = more &&
          lines.lineLen > 0 && lines.lineBytes(lines.lineOff) == '>'
        if (haveHeader) parseHeader()
        headerStart = lines.lastLineStart
      }

      private val needSeq = required.contains(2)
      private val seqBuf: ByteArrayBuilder =
        if (needSeq) new ByteArrayBuilder(1024) else null

      override def hasNext: Boolean = haveHeader && owned(headerStart)

      override def next(): Array[Any] = {
        val id = idU
        val desc = descU
        if (needSeq) seqBuf.reset()
        var more = lines.readLineSpan()
        while (more &&
            !(lines.lineLen > 0 && lines.lineBytes(lines.lineOff) == '>')) {
          if (needSeq) {
            // String.trim semantics bytewise: drop ends <= ' '
            val b = lines.lineBytes
            var s = lines.lineOff
            var e = lines.lineOff + lines.lineLen
            while (s < e && (b(s) & 0xff) <= ' ') s += 1
            while (e > s && (b(e - 1) & 0xff) <= ' ') e -= 1
            seqBuf.append(b, s, e - s)
          }
          more = lines.readLineSpan()
        }
        haveHeader = more
        if (more) parseHeader()
        headerStart = if (more) lines.lastLineStart else Long.MaxValue
        // while + @switch: required.map's Function1 dispatch boxes the
        // field index per FIELD per ROW — the r17 VCF parse finding,
        // applied to every other format in 487e7b4/db3595c but missed
        // here (JFR on the b07 shape: ~8% of parse samples in
        // ArrayOps.map + array_update).
        val out = new Array[Any](required.length)
        var i = 0
        while (i < required.length) {
          out(i) = (required(i): @scala.annotation.switch) match {
            case 0 => id
            case 1 => desc
            case 2 => UTF8String.fromBytes(seqBuf.toArray)
          }
          i += 1
        }
        out
      }
    }
}

/** FASTA with integer-encoded sequences: `sequence` is ARRAY<TINYINT> using
  * the reference's fixed alphabets — DNA A,C,G,T,N -> 1..5, protein
  * A..Z subset -> 1..25 (exon/exon-fasta/src/array_builder.rs:144-205).
  * Selected with `.option("sequenceDataType", "integer_encode_dna" |
  * "integer_encode_protein")`; unknown characters are an error, as in the
  * reference.
  */
final class FastaIntegerFormat(dna: Boolean) extends GraftFormat {
  override def shortName: String = "fasta"
  override def defaultExtensions: Seq[String] = FastaFormat.defaultExtensions
  override def splittable: Boolean = true
  override def bgzfRecordResync: Boolean = true // records() delegates to FastaFormat
  override val dataSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("description", StringType, nullable = true),
    StructField("sequence", ArrayType(ByteType, containsNull = false), nullable = false)))

  private val protein = "ABCDEFGHIKLMNOPQRSTUVWYXZ" // index+1 = code

  private def encode(seq: String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = new Array[Any](seq.length)
    var i = 0
    while (i < seq.length) {
      val c = seq.charAt(i)
      val code =
        if (dna) c match {
          case 'A' => 1; case 'C' => 2; case 'G' => 3; case 'T' => 4; case 'N' => 5
          case other => throw new IllegalArgumentException(s"invalid nucleotide '$other'")
        } else {
          val idx = protein.indexOf(c)
          if (idx < 0) throw new IllegalArgumentException(s"invalid amino acid '$c'")
          idx + 1
        }
      out(i) = code.toByte
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] =
    FastaFormat.records(input, required.map(i => if (i == 2) 2 else i)).map { arr =>
      var i = 0
      val out = new Array[Any](arr.length)
      while (i < arr.length) {
        out(i) = if (required(i) == 2) encode(arr(i).toString) else arr(i)
        i += 1
      }
      out
    }
}

/** Indexed FASTA subsequence extraction: each requested region becomes one
  * output row (id = the region string, description = null, sequence = the
  * 1-based inclusive subsequence), mirroring `fasta_indexed_scan`
  * (fasta-indexed-scan-tests.slt:1-20).
  *
  * When the file is uncompressed and a sibling `.fai` exists, each region is
  * served by seeking to its line-addressed byte range (bytes read ~ region
  * size, never the file) — the reference's path
  * (datasources/fasta/table_provider.rs:374-433, indexed_file/fai.rs).
  * Otherwise (compressed input, no index) extraction falls back to a single
  * streaming pass that keeps only the requested sequences in memory.
  */
final class FastaIndexedFormat(regions: Seq[String]) extends GraftFormat {
  override def shortName: String = "fasta"
  override def defaultExtensions: Seq[String] = FastaFormat.defaultExtensions
  override val dataSchema: StructType = FastaFormat.dataSchema
  override def splittable: Boolean = false
  override def handlesRegionsItself: Boolean = true

  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] = {
    val parsed = regions.map(r => r -> graft.functions.GenomicRegion.parse(r))

    def row(regionStr: String, sub: String): Array[Any] =
      required.map {
        case 0 => utf8(regionStr)
        case 1 => null
        case 2 => utf8(sub)
      }: Array[Any]

    val isComp = Codecs.isCompressed(input.path.getName)
    val faiIdx: Option[Map[String, FaiEntry]] =
      if (input.fs != null && !isComp &&
          FaiIndex.exists(input.fs, input.path))
        Some(FaiIndex.read(input.fs, input.path))
      else None
    // bgzipped fasta with .fai + .gzi siblings (`samtools faidx ref.fa.gz`):
    // the .fai stays uncompressed-domain, the .gzi maps to BGZF blocks. A
    // corrupt sibling degrades to the streaming fallback, never an error.
    val faiGzi: Option[(Map[String, FaiEntry], GziIndex)] =
      if (input.fs != null && isComp &&
          FaiIndex.exists(input.fs, input.path) &&
          GziIndex.exists(input.fs, input.path))
        try Some((FaiIndex.read(input.fs, input.path),
          GziIndex.read(input.fs, input.path)))
        catch { case _: Exception => None }
      else None

    faiIdx match {
      case Some(idx) =>
        // .fai seek path: bytes read proportional to the regions, not the
        // file. The streamed split input is never touched.
        parsed.iterator.flatMap { case (regionStr, g) =>
          idx.get(g.name).map { e =>
            val start = g.start.getOrElse(1L)
            val end = g.end.getOrElse(e.length)
            val (sub, _) = FaiIndex.extract(input.fs, input.path, e, start, end)
            row(regionStr, sub)
          }
        }
      case None if faiGzi.isDefined =>
        val (idx, gzi) = faiGzi.get
        parsed.iterator.flatMap { case (regionStr, g) =>
          idx.get(g.name).map { e =>
            val start = g.start.getOrElse(1L)
            val end = g.end.getOrElse(e.length)
            val (sub, _) =
              FaiIndex.extractBgzf(input.fs, input.path, gzi, e, start, end)
            row(regionStr, sub)
          }
        }
      case None =>
        // One streaming pass keeping ONLY the requested sequences in memory,
        // stopping as soon as all are found.
        val wanted = parsed.map(_._2.name).toSet
        val found = scala.collection.mutable.Map[String, String]()
        val it = FastaFormat.records(input, Array(0, 2))
        while (found.size < wanted.size && it.hasNext) {
          val arr = it.next()
          val id = arr(0).toString
          if (wanted.contains(id)) found(id) = arr(1).toString
        }
        parsed.iterator.flatMap { case (regionStr, g) =>
          found.get(g.name).map { seq =>
            val start = g.start.getOrElse(1L).toInt
            val end = g.end.map(_.toInt).getOrElse(seq.length)
            val sub = seq.substring(math.max(0, start - 1), math.min(seq.length, end))
            row(regionStr, sub)
          }
        }
    }
  }
}

/** Buffered line window over a ByteLineReader: copies each pulled line with
  * its start offset so multi-line validation lookahead (FASTQ resync needs
  * up to 8 lines) can run without invalidating the reader's span buffer.
  * Used only on split/resync chunks — whole-file scans keep the zero-copy
  * span path.
  */
private[sources] final class LineWindow(lines: ByteLineReader) {
  private val q = scala.collection.mutable.ArrayDeque[(Array[Byte], Long)]()
  private var exhausted = false
  private def pull(): Boolean =
    if (exhausted) false
    else if (lines.readLineSpan()) {
      q.append((java.util.Arrays.copyOfRange(lines.lineBytes, lines.lineOff,
        lines.lineOff + lines.lineLen), lines.lastLineStart))
      true
    } else { exhausted = true; false }
  /** k-th unconsumed line (bytes, startOffset), or null past EOF. */
  def peek(k: Int): (Array[Byte], Long) = {
    while (q.length <= k && pull()) {}
    if (k < q.length) q(k) else null
  }
  def poll(): (Array[Byte], Long) = {
    peek(0)
    if (q.isEmpty) null else q.removeHead()
  }
}

/** FASTQ: 4-line records (@name[ desc] / sequence / + / quality).
  *
  * Splittable since round 11 by validated record resync: a quality line may
  * itself start with '@', so a candidate record start is accepted only when
  * the 4-line structure checks out ('@' header, pure sequence line, '+'
  * separator, quality of equal length) CHAINED into a second record when
  * more lines exist — a quality-line false candidate is always rejected
  * because the line after it is the next record's '@' header, never a pure
  * sequence line (same chained technique as the BAM resync split). A record
  * belongs to the chunk owning its header line's first byte; misalignment
  * on malformed input trips the parser's structural requires loudly rather
  * than dropping rows. Works both for uncompressed splits and for BGZF
  * (bgzipped .fastq.gz) chunks via the record-resync stream.
  * Schema per exon/exon-fastq/src/config.rs:81-84.
  */
object FastqFormat extends WritableGraftFormat {
  override def shortName: String = "fastq"

  override def writeRecord(values: Array[Any], out: StringBuilder): Unit = {
    out.append('@').append(values(0))
    if (values(1) != null) out.append(' ').append(values(1))
    out.append('\n').append(values(2)).append('\n')
    out.append('+').append('\n').append(values(3)).append('\n')
  }
  override def defaultExtensions: Seq[String] = Seq("fastq", "fq")
  override def splittable: Boolean = true
  override def bgzfRecordResync: Boolean = true

  /** Sequence-line alphabet for resync validation: IUPAC letters plus the
    * gap/pad characters some pipelines emit. Excludes '@' and '+', which is
    * what makes the chained validation sound.
    */
  @inline private def isSeqLine(b: Array[Byte]): Boolean = {
    if (b.length == 0) return false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      val ok = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        c == '.' || c == '-' || c == '*' || c == '='
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Validate a candidate record start at the window's head: 4-line
    * structure, chained into a second record when more lines exist. Missing
    * lines at EOF accept on the evidence available — a wrong accept there
    * trips the parser's requires loudly.
    */
  private[sources] def validateWindow(w: LineWindow): Boolean = {
    val h = w.peek(0)
    if (h == null || h._1.length == 0 || h._1(0) != '@') return false
    val s = w.peek(1)
    if (s == null || !isSeqLine(s._1)) return false
    val p = w.peek(2)
    if (p == null || p._1.length == 0 || p._1(0) != '+') return false
    val q = w.peek(3)
    if (q == null || q._1.length != s._1.length) return false
    val h2 = w.peek(4)
    if (h2 == null) return true // candidate record ends the file
    if (h2._1.length == 0 || h2._1(0) != '@') return false
    val s2 = w.peek(5)
    if (s2 == null) return true
    if (!isSeqLine(s2._1)) return false
    val p2 = w.peek(6)
    if (p2 == null) return true
    if (p2._1.length == 0 || p2._1(0) != '+') return false
    val q2 = w.peek(7)
    q2 == null || q2._1.length == s2._1.length
  }

  /** Records over a line window, serving every record whose header line
    * start satisfies `owned`; with `align`, first discards lines until the
    * validated record start this chunk owns (or until the scan leaves the
    * owned extent — then the chunk correctly serves nothing).
    */
  private def windowRecords(w: LineWindow, owned: Long => Boolean,
                            align: Boolean,
                            required: Array[Int]): Iterator[Array[Any]] = {
    if (align) {
      var c = w.peek(0)
      while (c != null && owned(c._2) && !validateWindow(w)) {
        w.poll(); c = w.peek(0)
      }
    }
    new Iterator[Array[Any]] {
      private val needSeq = required.contains(2)
      private val needQual = required.contains(3)
      private var nextRow: Array[Any] = _
      advance()

      private def advance(): Unit = {
        nextRow = null
        val h = w.peek(0)
        if (h == null || h._1.length == 0 || !owned(h._2)) return
        w.poll()
        val s = w.poll(); val p = w.poll(); val q = w.poll()
        require(h._1(0) == '@' && s != null && p != null && q != null &&
            p._1.length > 0 && p._1(0) == '+',
          s"malformed FASTQ record at offset ${h._2}: '${
            new String(h._1, java.nio.charset.StandardCharsets.UTF_8)}'")
        val hb = h._1
        var sp = 1
        while (sp < hb.length && hb(sp) != ' ') sp += 1
        val nameU = FormatUtil.utf8Span(hb, 1, sp - 1)
        val descU = if (sp + 1 < hb.length)
          FormatUtil.utf8Span(hb, sp + 1, hb.length - (sp + 1)) else null
        // while + @switch: required.map's Function1 dispatch is a measured
        // per-record tax on 4-line records (see the r17 VCF parse notes)
        val out = new Array[Any](required.length)
        var k = 0
        while (k < required.length) {
          out(k) = (required(k): @scala.annotation.switch) match {
            case 0 => nameU
            case 1 => descU
            case 2 => if (needSeq) UTF8String.fromBytes(s._1) else null
            case 3 => if (needQual) UTF8String.fromBytes(q._1) else null
          }
          k += 1
        }
        nextRow = out
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): Array[Any] = { val r = nextRow; advance(); r }
    }
  }
  override val dataSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("description", StringType, nullable = true),
    StructField("sequence", StringType, nullable = false),
    StructField("quality_scores", StringType, nullable = false)))

  /** Byte-level parse: ALL four lines stay on the raw span path — name and
    * description come off the header span as fresh UTF8Strings (no UTF-16
    * transcode), sequence and quality straight from their spans (one copy
    * each).
    */
  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] = {
    if (input.resync != null) {
      // BGZF chunk of a bgzipped FASTQ: line offsets relative to the first
      // owned block, ownership block-positional; mid chunks align by the
      // validated resync, the head chunk starts at a true record start.
      val rr = input.resync
      if (!rr.hasOwned) return Iterator.empty
      return windowRecords(new LineWindow(input.lines),
        pos => rr.positionIsOwned(pos), align = !input.chunk.startsAtFileStart,
        required)
    }
    if (input.chunk.isSplit || input.end != Long.MaxValue)
      // uncompressed split: absolute offsets, mkLines pre-aligned to a line
      // start; mid chunks still need the validated record alignment
      return windowRecords(new LineWindow(input.lines),
        pos => pos < input.end, align = input.chunk.isSplit, required)
    new Iterator[Array[Any]] {
      private val lines = input.lines
      private val needSeq = required.contains(2)
      private val needQual = required.contains(3)
      private var nameU: UTF8String = _
      private var descU: UTF8String = _
      private var more: Boolean = readHeader()

      private def readHeader(): Boolean = {
        if (!lines.readLineSpan() || lines.lineLen == 0) return false
        val b = lines.lineBytes
        val o = lines.lineOff
        val end = o + lines.lineLen
        require(b(o) == '@',
          s"malformed FASTQ record: '${FormatUtil.spanString(b, o, end - o)}'")
        var sp = o + 1
        while (sp < end && b(sp) != ' ') sp += 1
        nameU = FormatUtil.utf8Span(b, o + 1, sp - (o + 1))
        descU = if (sp + 1 < end) FormatUtil.utf8Span(b, sp + 1, end - (sp + 1))
          else null
        true
      }

      override def hasNext: Boolean = more

      private def spanUtf8(keep: Boolean): UTF8String = {
        if (!lines.readLineSpan()) null
        else if (!keep) UTF8String.EMPTY_UTF8 // non-null marker; value unused
        else UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(lines.lineBytes, lines.lineOff,
            lines.lineOff + lines.lineLen))
      }

      override def next(): Array[Any] = {
        val name = nameU
        val desc = descU
        val seq = spanUtf8(needSeq)
        val plusOk = lines.readLineSpan() && lines.lineLen > 0 &&
          lines.lineBytes(lines.lineOff) == '+'
        val qual = spanUtf8(needQual)
        require(seq != null && plusOk && qual != null,
          s"truncated FASTQ record for '$name'")
        more = readHeader()
        val out = new Array[Any](required.length)
        var k = 0
        while (k < required.length) {
          out(k) = (required(k): @scala.annotation.switch) match {
            case 0 => name
            case 1 => desc
            case 2 => seq
            case 3 => qual
          }
          k += 1
        }
        out
      }
    }
  }
}
