package graft.sources.formats

import scala.collection.mutable
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources._
import graft.sources.FormatUtil._

/** SDF (structure-data file): '$$$$'-delimited molecule records.
  * header = the first three non-empty lines joined; atom/bond counts from
  * the fixed-width counts line; `data` is a struct with one string field per
  * `> <name>` data item, inferred from the first record on the driver
  * (reference exon/exon-sdf/src/record.rs:103-190, schema_builder.rs:31-84;
  * golden count 6512, sdf-scan-tests.slt).
  */
object SdfFormat extends GraftFormat {
  override def shortName: String = "sdf"
  override def defaultExtensions: Seq[String] = Seq("sdf")

  /** Uncompressed multi-record SDF splits on the column-0 `$$$$` record
    * terminator (the multi-GB PubChem-dump landing shape): a record
    * belongs to the chunk owning its FIRST byte, and the owner reads past
    * its bound through the terminating `$$$$`. Unlike GenBank's LOCUS, a
    * record's first line (the molecule name) is arbitrary text, so a
    * mid-file chunk cannot tell from its first complete line whether it
    * landed at a record start or mid-record — it disambiguates by
    * LOOKING BACK: one positioned read of the bytes before the cut (the
    * raw stream's seek pointer is untouched by preads) checks whether the
    * last complete line before it is a `$$$$` terminator. Mid-record
    * tails are discarded through their terminator. Plain-gzip copies
    * stay one task (Codecs gate).
    */
  override def splittable: Boolean = true
  override val dataSchema: StructType = StructType(Seq(
    StructField("header", StringType, nullable = false),
    StructField("atom_count", IntegerType, nullable = true),
    StructField("bond_count", IntegerType, nullable = true),
    StructField("data", StructType(Nil), nullable = true)))

  private val DataHeaderRe = "<(.*?)>".r

  override def inferDataSchema(files: Seq[FileStatus],
                               open: FileStatus => java.io.InputStream): StructType = {
    require(files.nonEmpty, "sdf: no files to infer schema from")
    val in = open(files.head)
    val keys = try {
      val lines = new ByteLineReader(in, 0L)
      val rec = readRecordLines(lines)
      require(rec != null, s"sdf: empty file ${files.head.getPath}")
      parseDataItems(rec).map(_._1)
    } finally in.close()
    StructType(Seq(
      dataSchema.fields(0), dataSchema.fields(1), dataSchema.fields(2),
      StructField("data",
        StructType(keys.map(k => StructField(k, StringType, nullable = true))),
        nullable = true)))
  }

  /** Lines of one record (without the $$$$ terminator); null at EOF. */
  private def readRecordLines(lines: ByteLineReader): Array[String] = {
    val buf = mutable.ArrayBuffer[String]()
    var l = lines.readLine()
    if (l == null) return null
    while (l != null && l.trim != "$$$$") { buf += l; l = lines.readLine() }
    if (buf.forall(_.trim.isEmpty)) {
      if (l == null) null else readRecordLines(lines) // skip blank tail/gap
    } else buf.toArray
  }

  private def parseDataItems(rec: Array[String]): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer[(String, String)]()
    var i = 0
    while (i < rec.length) {
      val line = rec(i)
      if (line.startsWith(">")) {
        DataHeaderRe.findFirstMatchIn(line) match {
          case Some(m) =>
            val key = m.group(1)
            val sb = new java.lang.StringBuilder()
            i += 1
            while (i < rec.length && rec(i).trim.nonEmpty) { sb.append(rec(i)); i += 1 }
            out += key -> sb.toString
          case None => ()
        }
      }
      i += 1
    }
    out.toSeq
  }

  // ---- span-based line classifiers (hot path; no String per line) ----
  // String.trim strips chars <= U+0020; in UTF-8 those are exactly the
  // bytes with unsigned value <= 0x20 (multi-byte chars set the high bit),
  // so byte-level trim matches the String semantics the cold paths use.
  @inline private def spanIsBlank(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end && (b(i) & 0xFF) <= 0x20) i += 1
    i == end
  }

  /** trimmed-line == "$$$$" on raw bytes. */
  private def spanIsTerminator(b: Array[Byte], off: Int, len: Int): Boolean = {
    var s = off
    var e = off + len
    while (s < e && (b(s) & 0xFF) <= 0x20) s += 1
    while (e > s && (b(e - 1) & 0xFF) <= 0x20) e -= 1
    e - s == 4 && b(s) == '$' && b(s + 1) == '$' && b(s + 2) == '$' && b(s + 3) == '$'
  }

  override def records(input: RecordInput, schema: StructType,
                       required: Array[Int]): Iterator[Array[Any]] =
    new Iterator[Array[Any]] {
      private val dataFields = schema.fields(3).dataType.asInstanceOf[StructType].fieldNames
      private val dataFieldIdx: java.util.HashMap[String, Integer] = {
        val m = new java.util.HashMap[String, Integer]()
        var i = 0
        while (i < dataFields.length) { m.put(dataFields(i), i); i += 1 }
        m
      }
      private val needHeader = required.contains(0)
      private val needCounts = required.contains(1) || required.contains(2)
      private val needData = required.contains(3)
      private val lines = input.lines // mid-split: seek + partial-line discard

      /** True when the first complete line of this chunk starts a record —
        * i.e. the last complete line BEFORE it is a `$$$$` terminator,
        * read with one pread that leaves the sequential stream alone.
        */
      private def atRecordStart(): Boolean = {
        val p0 = lines.nextLineStart
        if (p0 <= 0) return true
        var n = math.min(80L, p0).toInt
        while (true) {
          val b = new Array[Byte](n)
          try input.stream.asInstanceOf[org.apache.hadoop.fs.FSDataInputStream]
            .readFully(p0 - n, b, 0, n)
          catch { case _: Exception => return false }
          var e = n
          if (e > 0 && b(e - 1) == '\n') e -= 1
          var s0 = e
          while (s0 > 0 && b(s0 - 1) != '\n') s0 -= 1
          // only judge a COMPLETE previous line: if the window holds no
          // '\n' and doesn't reach the file start, the line is longer than
          // the window — a whitespace+'$$$$' line TAIL must not be misread
          // as a terminator. Grow and re-read instead.
          if (s0 > 0 || n.toLong >= p0)
            return new String(b, s0, e - s0,
              java.nio.charset.StandardCharsets.UTF_8).trim == "$$$$"
          n = math.min(p0, n.toLong * 4).toInt
        }
        false
      }

      // mid-record landing: the record we cut belongs to the previous
      // chunk (it reads past its bound) — discard through its terminator
      if (input.chunk.isSplit && !atRecordStart()) {
        var discarding = true
        while (discarding && lines.readLineSpan()) {
          if (spanIsTerminator(lines.lineBytes, lines.lineOff, lines.lineLen))
            discarding = false
        }
      }

      private val valBuf = new ByteArrayBuilder(256)

      /** Next record as the 4 declared columns (sparse by the need flags);
        * null at EOF. Streaming over line SPANS: a line is materialized
        * only when it carries output (the first four raw lines for
        * header/counts, data-item key lines; value lines copy bytes, never
        * build a java String) — atom/bond block lines, the dominant line
        * class of a real molecule, never allocate. Semantics mirror the
        * cold-path readRecordLines + parseDataItems pair exactly: all-blank
        * groups are skipped, a '>' line opens value accumulation whether or
        * not its key is a schema field (the value lines are CONSUMED either
        * way, so one can't start a new item), a value is the raw lines
        * concatenated without separator ending at the first blank line or
        * record end, and a duplicate key's last occurrence wins.
        */
      private def parseRecord(): Array[Any] = {
        val utf8cs = java.nio.charset.StandardCharsets.UTF_8
        while (true) {
          var idx = 0
          var sawAny = false
          var sawNonBlank = false
          var terminated = false
          var h0, h1, h2, countsLine: String = null
          val dataVals: Array[Any] =
            if (needData) new Array[Any](dataFields.length) else null
          var valueIdx = -2 // -2 = not accumulating; -1 = key not in schema
          valBuf.reset()
          var done = false
          while (!done && lines.readLineSpan()) {
            sawAny = true
            val b = lines.lineBytes; val o = lines.lineOff; val n = lines.lineLen
            if (spanIsTerminator(b, o, n)) { terminated = true; done = true }
            else {
              val blank = spanIsBlank(b, o, n)
              if (!blank) sawNonBlank = true
              if (idx < 4 && (needHeader || needCounts)) {
                lazy val s = new String(b, o, n, utf8cs)
                if (idx < 3) { if (needHeader) { val v = s
                  if (idx == 0) h0 = v else if (idx == 1) h1 = v else h2 = v } }
                else if (needCounts) countsLine = s
              }
              if (needData) {
                if (valueIdx != -2) {
                  if (blank) {
                    if (valueIdx >= 0)
                      dataVals(valueIdx) = UTF8String.fromBytes(valBuf.toArray)
                    valueIdx = -2
                  } else valBuf.append(b, o, n)
                } else if (n > 0 && b(o) == '>') {
                  // leftmost "<key>": first '<', first '>' after it — the
                  // non-greedy regex the cold path uses finds exactly this
                  var i0 = o; val end = o + n
                  while (i0 < end && b(i0) != '<') i0 += 1
                  var i1 = i0 + 1
                  while (i1 < end && b(i1) != '>') i1 += 1
                  if (i0 < end && i1 < end) {
                    val key = new String(b, i0 + 1, i1 - i0 - 1, utf8cs)
                    val ix = dataFieldIdx.get(key)
                    valueIdx = if (ix == null) -1 else ix.intValue
                    valBuf.reset()
                  }
                }
              }
              idx += 1
            }
          }
          if (!sawAny) return null // EOF before any line
          if (valueIdx != -2 && valueIdx >= 0)
            dataVals(valueIdx) = UTF8String.fromBytes(valBuf.toArray)
          if (sawNonBlank) {
            val full = new Array[Any](4)
            if (needHeader) {
              val sb = new java.lang.StringBuilder()
              var first = true
              var k = 0
              while (k < 3) {
                val h = if (k == 0) h0 else if (k == 1) h1 else h2
                if (h != null) {
                  val t = h.trim
                  if (t.nonEmpty) { if (!first) sb.append('\n'); sb.append(t); first = false }
                }
                k += 1
              }
              full(0) = utf8(sb.toString)
            }
            if (needCounts) {
              full(1) = countsAt(countsLine, idx, 0)
              full(2) = countsAt(countsLine, idx, 1)
            }
            if (needData) full(3) = new GenericInternalRow(dataVals)
            return full
          }
          // all-blank group: a gap between records — skip it; at EOF the
          // stream is done (cold-path parity: readRecordLines' blank-tail
          // recursion, which does NOT re-check split ownership)
          if (!terminated) return null
        }
        null // unreachable
      }

      /** Next record whose first byte this chunk owns, or null. */
      private def nextOwned(): Array[Any] =
        if (lines.nextLineStart >= input.end) null else parseRecord()

      private var pending: Array[Any] = nextOwned()

      override def hasNext: Boolean = pending != null

      override def next(): Array[Any] = {
        val full = pending
        pending = nextOwned()
        val out = new Array[Any](required.length)
        var i = 0
        while (i < required.length) { out(i) = full(required(i)); i += 1 }
        out
      }

      /** Counts-line field `which` (0 = atoms, 1 = bonds) from the record's
        * 4th raw line; null when the record has fewer than 4 lines or the
        * fixed-width field doesn't parse.
        */
      private def countsAt(line: String, nLines: Int, which: Int): Any = {
        if (nLines < 4 || line == null) return null
        val lo = which * 3; val hi = lo + 3
        if (line.length < hi) null
        else {
          val s = line.substring(lo, hi).trim
          try Integer.valueOf(s) catch { case _: NumberFormatException => null }
        }
      }
    }
}
