package graft.sources.formats

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import graft.sources._
import graft.sources.FormatUtil._
import org.apache.spark.unsafe.types.UTF8String

/** GenBank flat-file reader: '//'-terminated multi-record files. Schema per
  * the reference (exon/exon-genbank/src/config.rs:23-57): LOCUS-derived
  * scalars, free-text sections, and a features array of
  * (kind, location, qualifiers[(keys, values)]).
  */
object GenBankFormat extends GraftFormat {
  override def shortName: String = "genbank"
  override def defaultExtensions: Seq[String] = Seq("gb", "gbk", "genbank")

  /** Uncompressed multi-record GenBank splits at record boundaries: a
    * column-0 `LOCUS ` line is an unambiguous record start (every record
    * body line — sections, FEATURES, ORIGIN sequence — is indented, and
    * qualifier continuations indent 21 columns), so a mid-file chunk
    * aligns by scanning to the first validated LOCUS line it owns, and a
    * record belongs to the chunk owning its LOCUS line's first byte (the
    * owner reads past its bound through the terminating `//`). The
    * multi-GB flat-release landing shape fans out instead of one task.
    * Plain-gzip copies stay one task (Codecs gate), correct either way.
    */
  override def splittable: Boolean = true

  // ---- span-based line machinery (hot path; no java String per line —
  // the r14 allocation diet still built one String per line plus the
  // parse-time substrings; at ~10 small lines per record that garbage was
  // the 96 MB/s single-core wall; the line reader alone runs ~1.5 GB/s,
  // and graft.tools.DecodeRate's genbank row tracks the decode rate). String.trim strips chars <= U+0020; in
  // UTF-8 those are exactly the bytes with unsigned value <= 0x20
  // (multi-byte chars set the high bit), so byte-level trim matches the
  // old String semantics.

  /** regex \s charset exactly ([ \t\n\x0B\f\r]) — see the r14 ADVICE
    * parity nit on Character.isWhitespace.
    */
  @inline private def wsByte(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** Record-start validation for split alignment: column-0 LOCUS keyword
    * followed by whitespace (tab-separated and short two-token LOCUS lines
    * are real-world variants; requiring `LOCUS <name> <len> ...` silently
    * dropped them in split mode while the whole-file '//'-grouping kept
    * them — split vs unsplit row counts must never diverge). Body lines are
    * indented, so a column-0 LOCUS keyword is unambiguous.
    */
  private def spanRecordStart(b: Array[Byte], off: Int, len: Int): Boolean =
    len >= 5 && b(off) == 'L' && b(off + 1) == 'O' && b(off + 2) == 'C' &&
      b(off + 3) == 'U' && b(off + 4) == 'S' &&
      (len == 5 || b(off + 5) == ' ' || b(off + 5) == '\t')

  /** trimmed-line == "//" straight off the span bytes. */
  private def spanTerminator(b: Array[Byte], off: Int, len: Int): Boolean = {
    var s = off
    var e = off + len
    while (s < e && (b(s) & 0xFF) <= 0x20) s += 1
    while (e > s && (b(e - 1) & 0xFF) <= 0x20) e -= 1
    e - s == 2 && b(s) == '/' && b(s + 1) == '/'
  }

  @inline private def spanBlank(b: Array[Byte], off: Int, len: Int): Boolean = {
    var s = off
    val e = off + len
    while (s < e && (b(s) & 0xFF) <= 0x20) s += 1
    s == e
  }

  /** One record's lines accumulated as byte spans into a reusable buffer —
    * random-access (offs/lens) like the old Array[String], zero String.
    */
  private final class RecordLines {
    var bytes = new Array[Byte](1 << 16)
    var offs = new Array[Int](128)
    var lens = new Array[Int](128)
    var n = 0
    private var used = 0
    def usedBytes: Int = used
    def reset(): Unit = { n = 0; used = 0 }
    def add(src: Array[Byte], off: Int, len: Int): Unit = {
      if (used + len > bytes.length) {
        var cap = bytes.length * 2
        while (cap < used + len) cap *= 2
        bytes = java.util.Arrays.copyOf(bytes, cap)
      }
      if (n == offs.length) {
        offs = java.util.Arrays.copyOf(offs, n * 2)
        lens = java.util.Arrays.copyOf(lens, n * 2)
      }
      System.arraycopy(src, off, bytes, used, len)
      offs(n) = used; lens(n) = len; n += 1; used += len
    }
  }

  private val qualifierType = ArrayType(StructType(Seq(
    StructField("keys", StringType, nullable = false),
    StructField("values", StringType, nullable = true))), containsNull = false)
  private val featureType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("qualifiers", qualifierType, nullable = true)))

  override val dataSchema: StructType = StructType(Seq(
    StructField("sequence", StringType, nullable = false),
    StructField("accession", StringType, nullable = true),
    StructField("comments", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("contig", StringType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("dblink", StringType, nullable = true),
    StructField("definition", StringType, nullable = true),
    StructField("division", StringType, nullable = false),
    StructField("keywords", StringType, nullable = true),
    StructField("molecule_type", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("version", StringType, nullable = true),
    StructField("topology", StringType, nullable = false),
    StructField("features", ArrayType(featureType, containsNull = false), nullable = true)))

  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] =
    new Iterator[Array[Any]] {
      // Split chunks group records LOCUS-to-'//' with byte ownership of the
      // LOCUS line; whole-file reads keep the tolerant everything-until-'//'
      // grouping (release-file preamble folds into record 1, where the
      // parser ignores unknown lines).
      private val split = input.chunk.isSplit || input.end != Long.MaxValue
      private val needSequence = required.contains(0)
      private val needFeatures = required.contains(14)
      private val rl = new RecordLines
      // reusable builders for section bodies / feature locations /
      // qualifier values / the ORIGIN sequence
      private val bodyB = new ByteArrayBuilder(256)
      private val locB = new ByteArrayBuilder(128)
      private val valB = new ByteArrayBuilder(256)
      private val seqB = new ByteArrayBuilder(1 << 12)
      // LOCUS token spans (starts/ends, absolute into rl.bytes)
      private var tokS = new Array[Int](16)
      private var tokE = new Array[Int](16)
      private var has = readRecord()

      /** Advance to the next record-start line whose first byte this chunk
        * owns and push it into `rl`; false when none. Any line (LOCUS or
        * not) starting at/after `end` means the rest of the stream belongs
        * to a later chunk — stop without reading on.
        */
      private def nextOwnedLocus(): Boolean = {
        val lines = input.lines
        while (lines.readLineSpan()) {
          if (lines.lastLineStart >= input.end) return false
          if (spanRecordStart(lines.lineBytes, lines.lineOff, lines.lineLen)) {
            rl.add(lines.lineBytes, lines.lineOff, lines.lineLen)
            return true
          }
        }
        false
      }

      private def readRecord(): Boolean = {
        val lines = input.lines
        rl.reset()
        if (split) {
          if (!nextOwnedLocus()) return false
          var term = false
          while (!term && lines.readLineSpan()) {
            if (spanTerminator(lines.lineBytes, lines.lineOff, lines.lineLen)) term = true
            else rl.add(lines.lineBytes, lines.lineOff, lines.lineLen)
          }
          true
        } else {
          // tolerant whole-file grouping: everything until '//'; records of
          // only blank lines are skipped; EOF with no content ends the scan
          while (true) {
            rl.reset()
            var term = false
            var allBlank = true
            while (!term && lines.readLineSpan()) {
              if (spanTerminator(lines.lineBytes, lines.lineOff, lines.lineLen)) term = true
              else {
                if (allBlank &&
                    !spanBlank(lines.lineBytes, lines.lineOff, lines.lineLen))
                  allBlank = false
                rl.add(lines.lineBytes, lines.lineOff, lines.lineLen)
              }
            }
            if (!allBlank) return true
            if (!term) return false // EOF with nothing but blanks
          }
          false
        }
      }

      override def hasNext: Boolean = has

      override def next(): Array[Any] = {
        val r = parseSpans()
        has = readRecord()
        val out = new Array[Any](required.length)
        var k = 0
        while (k < required.length) { out(k) = r(required(k)); k += 1 }
        out
      }

      // ---- span parse (transliteration of the old per-String parse) ----

      @inline private def tokEq(b: Array[Byte], s: Int, e: Int, lit: String): Boolean = {
        if (e - s != lit.length) return false
        var i = 0
        while (i < lit.length) {
          if (b(s + i) != lit.charAt(i)) return false
          i += 1
        }
        true
      }

      @inline private def startsWithSpaces(i: Int, k: Int): Boolean = {
        if (rl.lens(i) < k) return false
        val b = rl.bytes
        val off = rl.offs(i)
        var j = 0
        while (j < k) { if (b(off + j) != ' ') return false; j += 1 }
        true
      }

      /** trimmed bounds of line i, packed (start << 32) | end, absolute. */
      @inline private def trimBounds(i: Int): Long = {
        val b = rl.bytes
        var s = rl.offs(i)
        var e = s + rl.lens(i)
        while (s < e && (b(s) & 0xFF) <= 0x20) s += 1
        while (e > s && (b(e - 1) & 0xFF) <= 0x20) e -= 1
        (s.toLong << 32) | e
      }

      @inline private def trimStartsWithSlash(i: Int): Boolean = {
        val t = trimBounds(i)
        val s = (t >> 32).toInt
        s < (t & 0xFFFFFFFFL).toInt && rl.bytes(s) == '/'
      }

      // One immutable byte snapshot of the current record: output strings
      // are zero-copy VIEWS into it (UTF8String.fromBytes(b, off, len)),
      // collapsing the ~10 per-record defensive copies into one arraycopy.
      // The snapshot is never reused, so the RefColumnVector fresh-value
      // contract holds; offsets computed on rl.bytes are valid in it.
      private var snap: Array[Byte] = _

      @inline private def view(off: Int, len: Int): UTF8String =
        UTF8String.fromBytes(snap, off, len)

      @inline private def dotNullView(off: Int, len: Int): UTF8String =
        if (len == 0 || (len == 1 && snap(off) == '.')) null
        else UTF8String.fromBytes(snap, off, len)

      /** Section value: `line.drop(12).trim` joined with `' '` +
        * `continuation.trim` for each following space-indented line.
        * Single-line sections (the common shape) become snapshot views;
        * multi-line bodies build into `bodyB` and copy. Sets `secU`,
        * returns the next unconsumed line index.
        */
      private var secU: UTF8String = _
      private def section(start: Int, dotNullify: Boolean): Int = {
        val b = rl.bytes
        var s = 0
        var e = 0
        if (rl.lens(start) > 12) {
          s = rl.offs(start) + 12
          e = rl.offs(start) + rl.lens(start)
          while (s < e && (b(s) & 0xFF) <= 0x20) s += 1
          while (e > s && (b(e - 1) & 0xFF) <= 0x20) e -= 1
        }
        var j = start + 1
        if (j >= rl.n || !startsWithSpaces(j, 1)) {
          secU = if (dotNullify) dotNullView(s, e - s) else view(s, e - s)
          return j
        }
        bodyB.reset()
        bodyB.append(b, s, e - s)
        while (j < rl.n && startsWithSpaces(j, 1)) {
          val t = trimBounds(j)
          val ts = (t >> 32).toInt
          val te = (t & 0xFFFFFFFFL).toInt
          bodyB.appendByte(' ')
          bodyB.append(b, ts, te - ts)
          j += 1
        }
        secU =
          if (dotNullify) dotNullSpan(bodyB.rawBytes, 0, bodyB.length)
          else UTF8String.fromBytes(bodyB.toArray)
        j
      }

      private def parseSpans(): Array[Any] = {
        val b = rl.bytes
        val nL = rl.n
        snap = java.util.Arrays.copyOf(rl.bytes, rl.usedBytes)
        var name: UTF8String = null; var moleculeType: UTF8String = null
        var circular = false
        var division: UTF8String = null; var date: UTF8String = null
        var accession: UTF8String = null; var version: UTF8String = null
        var keywords: UTF8String = null; var definition: UTF8String = null
        var source: UTF8String = null; var dblink: UTF8String = null
        var contig: UTF8String = null
        var comments: mutable.ArrayBuffer[Any] = null // lazy: rare section
        var features: mutable.ArrayBuffer[Any] = null // lazy
        seqB.reset()

        var i = 0
        while (i < nL) {
          val off = rl.offs(i)
          val len = rl.lens(i)
          // column-0 keyword token (regex \s charset boundary)
          var ke = 0
          if (len >= 2 && b(off) != ' ') {
            while (ke < len && !wsByte(b(off + ke))) ke += 1
          }
          val ks = off
          if (tokEq(b, ks, ks + ke, "LOCUS")) {
            // tokenize the whole line on \s runs; t = tokens.drop(1)
            var nTok = 0
            var p = off
            val end = off + len
            while (p < end) {
              while (p < end && wsByte(b(p))) p += 1
              if (p < end) {
                if (nTok == tokS.length) {
                  tokS = java.util.Arrays.copyOf(tokS, nTok * 2)
                  tokE = java.util.Arrays.copyOf(tokE, nTok * 2)
                }
                tokS(nTok) = p
                while (p < end && !wsByte(b(p))) p += 1
                tokE(nTok) = p
                nTok += 1
              }
            }
            // tokens(0) is the LOCUS keyword itself
            if (nTok >= 2) name = dotNullView(tokS(1), tokE(1) - tokS(1))
            // rest = tokens(2..): molecule type, topology, division, date
            var divIdx = -1
            var j = 2
            while (j < nTok) {
              val s = tokS(j); val e = tokE(j)
              if (moleculeType == null && (tokEq(b, s, e, "DNA") ||
                  tokEq(b, s, e, "RNA") || containsRna(b, s, e)))
                moleculeType = dotNullView(s, e - s)
              if (tokEq(b, s, e, "circular")) circular = true
              if (divIdx < 0 && (tokEq(b, s, e, "linear") || tokEq(b, s, e, "circular")))
                divIdx = j
              j += 1
            }
            if (divIdx >= 0 && divIdx + 1 < nTok)
              division = dotNullView(tokS(divIdx + 1), tokE(divIdx + 1) - tokS(divIdx + 1))
            if (nTok >= 3) { // last token of rest, if it carries a digit
              val s = tokS(nTok - 1); val e = tokE(nTok - 1)
              if (tokenHasDigit(b, s, e)) date = dotNullView(s, e - s)
            }
            i += 1
          } else if (tokEq(b, ks, ks + ke, "DEFINITION")) {
            i = section(i, dotNullify = true); definition = secU
          } else if (tokEq(b, ks, ks + ke, "ACCESSION")) {
            i = section(i, dotNullify = true); accession = secU
          } else if (tokEq(b, ks, ks + ke, "VERSION")) {
            i = section(i, dotNullify = true); version = secU
          } else if (tokEq(b, ks, ks + ke, "KEYWORDS")) {
            i = section(i, dotNullify = true); keywords = secU
          } else if (tokEq(b, ks, ks + ke, "DBLINK")) {
            i = section(i, dotNullify = true); dblink = secU
          } else if (tokEq(b, ks, ks + ke, "SOURCE")) {
            // SOURCE body includes the ORGANISM subsection; keep the first
            // line only (drop(12).trim), skip the indented rest
            if (len > 12) {
              var s = off + 12
              var e = off + len
              while (s < e && (b(s) & 0xFF) <= 0x20) s += 1
              while (e > s && (b(e - 1) & 0xFF) <= 0x20) e -= 1
              source = dotNullView(s, e - s)
            }
            i += 1
            while (i < nL && startsWithSpaces(i, 1)) i += 1
          } else if (tokEq(b, ks, ks + ke, "COMMENT")) {
            i = section(i, dotNullify = false)
            if (comments == null) comments = new mutable.ArrayBuffer[Any](2)
            comments += secU
          } else if (tokEq(b, ks, ks + ke, "CONTIG")) {
            i = section(i, dotNullify = true); contig = secU
          } else if (tokEq(b, ks, ks + ke, "FEATURES")) {
            i += 1
            if (!needFeatures) {
              while (i < nL && startsWithSpaces(i, 1)) i += 1
            } else
            while (i < nL && startsWithSpaces(i, 5) && rl.lens(i) > 5) {
              // feature header: 5 spaces, kind, location (may continue);
              // WS.split(trim, 2) semantics: kind = first token, location
              // seed = remainder after ONE \s+ run
              val t = trimBounds(i)
              val ts = (t >> 32).toInt
              val te = (t & 0xFFFFFFFFL).toInt
              var kEnd = ts
              while (kEnd < te && !wsByte(b(kEnd))) kEnd += 1
              val kind = view(ts, kEnd - ts)
              var rs = kEnd
              while (rs < te && wsByte(b(rs))) rs += 1
              var loc: UTF8String = null
              i += 1
              if (i >= nL || !startsWithSpaces(i, 21) || trimStartsWithSlash(i))
                loc = view(rs, te - rs) // single-line location (common)
              else {
                locB.reset()
                if (rs < te) locB.append(b, rs, te - rs)
                while (i < nL && startsWithSpaces(i, 21) && !trimStartsWithSlash(i)) {
                  val c = trimBounds(i)
                  locB.append(b, (c >> 32).toInt,
                    (c & 0xFFFFFFFFL).toInt - (c >> 32).toInt)
                  i += 1
                }
                loc = UTF8String.fromBytes(locB.toArray)
              }
              val quals = mutable.ArrayBuffer[Any]()
              if (features == null) features = new mutable.ArrayBuffer[Any](4)
              while (i < nL && startsWithSpaces(i, 21)) {
                val q = trimBounds(i)
                val qs = (q >> 32).toInt
                val qe = (q & 0xFFFFFFFFL).toInt
                if (qs < qe && b(qs) == '/') {
                  var eq = qs
                  while (eq < qe && b(eq) != '=') eq += 1
                  val hasEq = eq < qe
                  val key = view(qs + 1, (if (hasEq) eq else qe) - (qs + 1))
                  i += 1
                  var v: UTF8String = null
                  if (i >= nL || !startsWithSpaces(i, 21) || trimStartsWithSlash(i)) {
                    if (hasEq) { // single-line value: quote-stripped view
                      var s0 = eq + 1
                      var e0 = qe
                      if (e0 > s0 && b(s0) == '"') s0 += 1
                      if (e0 > s0 && b(e0 - 1) == '"') e0 -= 1
                      v = view(s0, e0 - s0)
                    }
                  } else {
                    valB.reset()
                    if (hasEq) valB.append(b, eq + 1, qe - (eq + 1))
                    while (i < nL && startsWithSpaces(i, 21) && !trimStartsWithSlash(i)) {
                      val c = trimBounds(i)
                      valB.appendByte(' ')
                      valB.append(b, (c >> 32).toInt,
                        (c & 0xFFFFFFFFL).toInt - (c >> 32).toInt)
                      i += 1
                    }
                    if (hasEq) {
                      // stripPrefix("\"").stripSuffix("\"")
                      val vb = valB.rawBytes
                      var s0 = 0
                      var e0 = valB.length
                      if (e0 > s0 && vb(s0) == '"') s0 += 1
                      if (e0 > s0 && vb(e0 - 1) == '"') e0 -= 1
                      v = utf8Span(vb, s0, e0 - s0)
                    }
                  }
                  quals += new GenericInternalRow(Array[Any](key, v))
                } else i += 1
              }
              features += new GenericInternalRow(Array[Any](
                kind, loc, new GenericArrayData(quals.toArray)))
            }
          } else if (tokEq(b, ks, ks + ke, "ORIGIN")) {
            i += 1
            while (i < nL && startsWithSpaces(i, 1)) {
              if (needSequence) {
                // trimmed bounds; first SPACE ends the offset token;
                // everything after it appends minus spaces — copied as
                // base RUNS (bulk arraycopy), not per byte
                val t = trimBounds(i)
                var sp = (t >> 32).toInt
                val e = (t & 0xFFFFFFFFL).toInt
                while (sp < e && b(sp) != ' ') sp += 1
                var q = sp + 1
                while (q < e) {
                  while (q < e && b(q) == ' ') q += 1
                  val rs = q
                  while (q < e && b(q) != ' ') q += 1
                  if (q > rs) seqB.append(b, rs, q - rs)
                }
              }
              i += 1
            }
          } else i += 1
        }

        Array[Any](
          UTF8String.fromBytes(seqB.toArray),
          accession, {
            if (comments == null) null
            else new GenericArrayData(comments.toArray)
          },
          contig, date, dblink, definition,
          division, keywords, moleculeType, name,
          source, version, if (circular) CIRCULAR else LINEAR,
          if (features == null) null else new GenericArrayData(features.toArray))
      }
    }

  @inline private def containsRna(b: Array[Byte], s: Int, e: Int): Boolean = {
    var i = s
    while (i + 3 <= e) {
      if (b(i) == 'R' && b(i + 1) == 'N' && b(i + 2) == 'A') return true
      i += 1
    }
    false
  }

  /** `_.exists(_.isDigit)` parity: ASCII fast path; Unicode digits (which
    * Character.isDigit also accepts) only need checking when the token
    * carries multi-byte chars at all.
    */
  private def tokenHasDigit(b: Array[Byte], s: Int, e: Int): Boolean = {
    var i = s
    var high = false
    while (i < e) {
      val c = b(i)
      if (c >= '0' && c <= '9') return true
      if (c < 0) high = true
      i += 1
    }
    high && spanString(b, s, e - s).exists(_.isDigit)
  }

  private val LINEAR = UTF8String.fromString("linear")
  private val CIRCULAR = UTF8String.fromString("circular")

}
