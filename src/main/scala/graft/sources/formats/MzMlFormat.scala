package graft.sources.formats

import java.util.Base64
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import graft.sources._
import graft.sources.FormatUtil._

/** mzML (mass spectrometry XML) reader: StAX over the decompressed stream,
  * one row per `<spectrum>`. Binary arrays are base64, optionally
  * zlib-compressed, 32- or 64-bit floats, typed by cvParam accession
  * (m/z MS:1000514, intensity MS:1000515, wavelength MS:1000617).
  * Schema per the reference (exon/exon-mzml/src/config.rs:93-145 — including
  * its `precusor_charge` spelling); goldens: 2 spectra in
  * mzml-pyoteomics/pyoteomics.mzML, bin_vectors golden (mzml-functions.slt).
  */
object MzMlFormat extends GraftFormat {
  override def shortName: String = "mzml"
  override def defaultExtensions: Seq[String] = Seq("mzml")

  /** Big uncompressed mzML splits by raw cuts + task-open alignment to the
    * next `<spectrum` start tag (the GB-scale proteomics landing shape,
    * one task before r13). The byte pattern is markup for certain: XML
    * forbids unescaped '<' in text and attribute values, and mzML writers
    * do not use CDATA (binary data is base64). A task copies each owned
    * element's bytes through its matching `</spectrum>` (or self-closed
    * start tag) and parses the fragment as its own document — spectrum
    * elements are self-contained for this reader (the whole-file path
    * does not dereference referenceableParamGroupRef either, and the
    * `<mzML`-unprefixed sniff below keeps prefixed documents, where
    * fragments would lose their namespace context, on the whole-file
    * path). A record belongs to the chunk owning its start tag's first
    * byte; truncated trailing spectra fail loudly in the fragment parse.
    */
  override def containerResync: Boolean = true

  override def resyncSplitSniff(fs: org.apache.hadoop.fs.FileSystem,
                                path: org.apache.hadoop.fs.Path): Boolean = {
    if (Codecs.isCompressed(path.getName)) return false
    val in = fs.open(path)
    try {
      val b = new Array[Byte](2048)
      var got = 0
      var r = 0
      while (got < b.length && { r = in.read(b, got, b.length - got); r > 0 })
        got += r
      val head = new String(b, 0, got, java.nio.charset.StandardCharsets.US_ASCII)
      head.contains("<mzML") || head.contains("<indexedmzML")
    } finally in.close()
  }

  private val cvParamType = ArrayType(StructType(Seq(
    StructField("accession", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("value", StringType, nullable = true))), containsNull = false)

  private def wrapped(name: String) = StructType(Seq(
    StructField(name, ArrayType(DoubleType, containsNull = false), nullable = true)))

  override val dataSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("mz", wrapped("mz"), nullable = true),
    StructField("intensity", wrapped("intensity"), nullable = true),
    StructField("wavelength", wrapped("wavelength"), nullable = true),
    StructField("cv_params", cvParamType, nullable = true),
    StructField("precursor_mz", DoubleType, nullable = true),
    StructField("precusor_charge", LongType, nullable = true)))

  /** Group-pipelined resolve: parse spectra in GROUPS (count- and
    * byte-bounded), flush each group's small-blob batch as one pool
    * handoff, and keep one flushed group in flight AHEAD of the one being
    * served — the task thread parses group g+1 while the pool decodes
    * group g, and every await lands on a future that had a whole group's
    * parse time to complete. Wide-spectrum files hit the byte bound after
    * 1-2 rows and degrade to the old depth-1 pipeline; in-flight memory is
    * bounded at two groups. The task ctx's Inflater is released in the
    * next() that serves the LAST row, once that row's blobs are resolved
    * (the old per-iterator end() sites ran before the final inline flush
    * could still need it); the task-completion listener covers failure
    * paths and early termination (LIMIT) as before.
    */
  private val groupSpectra = 32
  private val groupByteBound: Long = 1L << 20

  private def pipelined(ctx: DecodeCtx, inner: Iterator[Array[Any]],
      required: Array[Int]): Iterator[Array[Any]] = new Iterator[Array[Any]] {
    private var cur: java.util.ArrayDeque[Array[Any]] = _
    private var ahead: java.util.ArrayDeque[Array[Any]] = _

    private def parseGroup(): java.util.ArrayDeque[Array[Any]] = {
      val g = new java.util.ArrayDeque[Array[Any]](groupSpectra)
      ctx.groupBytes = 0L
      var k = 0
      while (k < groupSpectra && ctx.groupBytes < groupByteBound &&
          inner.hasNext) {
        g.add(inner.next())
        k += 1
      }
      flushPending(ctx)
      g
    }

    override def hasNext: Boolean = {
      val h = (cur != null && !cur.isEmpty) ||
        (ahead != null && !ahead.isEmpty) || inner.hasNext
      if (!h) ctx.endInflater() // a file with no spectra never reaches next()
      h
    }

    override def next(): Array[Any] = {
      if (cur == null || cur.isEmpty) {
        // promote the in-flight group, then parse its successor BEFORE
        // serving (this is the overlap: pool decodes `cur` during the
        // parse below)
        cur = if (ahead != null) ahead else parseGroup()
        ahead = if (inner.hasNext) parseGroup() else null
      }
      val full = resolvePending(ctx, cur.poll())
      if (cur.isEmpty && ahead == null && !inner.hasNext) ctx.endInflater()
      required.map(full(_))
    }
  }

  override def records(input: RecordInput, required: Array[Int]): Iterator[Array[Any]] = {
    if (input.chunk.kind == ChunkKind.Container) return splitRecords(input, required)
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_COALESCING, false) // readBinaryB64 loops chunked CHARACTERS events; coalescing only adds a per-blob assembly copy
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val xml = factory.createXMLStreamReader(input.stream)
    val ctx = readerCtx()
    val want = wantMask(required)
    val inner = new Iterator[Array[Any]] {
      private var nextRow: Array[Any] = _
      advance()

      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && xml.hasNext) {
          if (xml.next() == XMLStreamConstants.START_ELEMENT &&
            xml.getLocalName == "spectrum") {
            nextRow = parseSpectrum(xml, ctx, want)
          }
        }
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): Array[Any] = {
        val row = nextRow
        advance()
        row
      }
    }
    pipelined(ctx, inner, required)
  }

  /** Raw-cut resync chunk: scan bytes for the next `<spectrum` start tag
    * whose first byte this chunk owns, copy the element through its end,
    * and parse the fragment as its own document (see containerResync
    * scaladoc above for why the byte patterns are unambiguous).
    */
  private def splitRecords(input: RecordInput,
                           required: Array[Int]): Iterator[Array[Any]] = {
    val raw = input.stream.asInstanceOf[org.apache.hadoop.fs.FSDataInputStream]
    val from = input.chunk.startOffset
    raw.seek(from)
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_COALESCING, false) // readBinaryB64 loops chunked CHARACTERS events; coalescing only adds a per-blob assembly copy
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val ctx = readerCtx()

    val inner = new Iterator[Array[Any]] {
      private var pos = from
      private val want = wantMask(required)
      private val Pat = "<spectrum"
      private var xml: XMLStreamReader = _
      private var nextRow: Array[Any] = _

      // Unsynchronized scan I/O. The resync scan touches every chunk byte
      // (and copies owned fragments) one byte at a time; through
      // BufferedInputStream.read() + ByteArrayOutputStream.write() — both
      // synchronized — those two per-byte monitor ops dominated the split
      // arm (~2.8x at w16 on a 0.9 GB corpus where chunk count allowed
      // ~16x; the whole-file StAX path reads in bulk and never pays them).
      // A plain refill buffer + growable array keep the per-byte path
      // monitor-free and JIT-inlineable.
      private val rbuf = new Array[Byte](1 << 16)
      private var rlen = 0
      private var rpos = 0
      private def nextByte(): Int = {
        if (rpos >= rlen) {
          rlen = raw.read(rbuf, 0, rbuf.length)
          rpos = 0
          if (rlen <= 0) { rlen = 0; return -1 }
        }
        val b = rbuf(rpos) & 0xff; rpos += 1; pos += 1; b
      }
      // batch buffer, reused across batches (the previous reader is closed
      // and its ByteArrayInputStream exhausted before blen resets)
      private var batch = new Array[Byte](1 << 20)
      private var blen = 0
      // true once this chunk has accepted a fragment — disarms the
      // pre-sync "-->" spanning-comment tripwire (see nextFragment)
      private var accepted = false
      private def bput(b: Int): Unit = {
        if (blen == batch.length)
          batch = java.util.Arrays.copyOf(batch, blen << 1)
        batch(blen) = b.toByte; blen += 1
      }

      advance()

      /** Batch owned fragments under one synthetic root (~1 MiB per
        * reader): a reader per SPECTRUM costs ~parser-init per element,
        * which measurably dominated small-spectra scans (+60% on the b05
        * shape); a reader per megabatch amortizes it to noise. Fragments
        * are copied INTO the batch buffer directly (no per-fragment
        * arrays).
        */
      private def nextBatchReader(): XMLStreamReader = {
        blen = 0
        bput('<'); bput('r'); bput('>')
        var any = false
        var done = false
        while (!done && blen < (1 << 20)) {
          if (nextFragment()) any = true else done = true
        }
        if (!any) return null
        bput('<'); bput('/'); bput('r'); bput('>')
        factory.createXMLStreamReader(
          new java.io.ByteArrayInputStream(batch, 0, blen))
      }

      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null) {
          if (xml == null) {
            xml = nextBatchReader()
            if (xml == null) return // inflater released by pipelined/listener
          }
          while (nextRow == null && xml.hasNext) {
            if (xml.next() == XMLStreamConstants.START_ELEMENT &&
                xml.getLocalName == "spectrum") {
              nextRow = parseSpectrum(xml, ctx, want)
            }
          }
          if (nextRow == null) { xml.close(); xml = null }
        }
      }

      /** Byte inside a markup construct (comment/PI/CDATA/declaration);
        * EOF there means the construct is unclosed — raise, don't drop.
        */
      private def rdIn(what: String): Int = {
        val b = nextByte()
        if (b < 0) throw new java.io.EOFException(
          s"mzml: unclosed $what at EOF (file cut mid-construct?)")
        b
      }

      /** Consume through the multi-byte closer of a comment ("-->") or
        * CDATA section ("]]>"); reads past `input.end` if needed — the
        * construct belongs to the chunk owning its opener, like records.
        */
      private def skipUntil(closer: String, what: String): Unit = {
        var k = 0
        while (k < closer.length) {
          val b = rdIn(what)
          if (b == closer.charAt(k)) k += 1
          else k = if (b == closer.charAt(0)) 1 else 0
        }
      }

      /** Classify and consume a `<!…` construct: `<!--` comment, `<![`
        * CDATA, else a declaration (DOCTYPE — absent from real mzML and
        * SUPPORT_DTD is off, so naive skip-to-'>' suffices).
        */
      private def skipBang(): Unit = {
        val b = rdIn("'<!' construct")
        if (b == '-') {
          if (rdIn("comment") == '-') skipUntil("-->", "comment")
          // "<!-x": not a comment opener; malformed XML — let the scan go on
        } else if (b == '[') skipUntil("]]>", "CDATA section")
        else { var c = b; while (c != '>') c = rdIn("'<!' declaration") }
      }

      /** Bytes of the next owned spectrum element, or null when the next
        * start tag begins at/after `end` (or EOF).
        *
        * Markup-aware: XML only forbids unescaped '<' in text and
        * attribute values — a '<spectrum' inside a comment, processing
        * instruction, CDATA section, or '<!' declaration is NOT a record
        * start, so those constructs are consumed whole (through their
        * closer, past `input.end` if the opener is owned — same ownership
        * convention as records). A bare comment/CDATA CLOSER met in content
        * state on a mid-file chunk is tolerated BEFORE the chunk's first
        * accepted fragment (nothing emitted yet — continuing reproduces the
        * whole-file rows whether the closer was legal data or the end of a
        * construct the cut landed inside) and raised loudly AFTER one (an
        * already-emitted record might be comment interior, i.e. a phantom —
        * the one outcome this scan must never let diverge silently). (A
        * construct so large it swallows entire chunks would evade the
        * tripwire; machine-written mzML has no comments at all, and the
        * closer check costs nothing.)
        */
      private def nextFragment(): Boolean = {
        var k = 0
        var cm = 0 // "-->" progress in content state (spanning-comment tripwire)
        var cd = 0 // "]]>" progress in content state (spanning-CDATA tripwire)
        while (true) {
          if (pos - k >= input.end) return false // no owned start can follow
          val b = nextByte()
          if (b < 0) return false
          if (from > 0) {
            // Spanning-comment discipline ("-->" is LEGAL XML character and
            // attribute data, unlike "]]>", so a bare closer is ambiguous):
            //  - BEFORE this chunk's first accepted fragment, a bare "-->"
            //    is tolerated: whether it is legal content or the closer of
            //    a comment the cut landed inside, nothing has been emitted
            //    yet, so continuing the scan reproduces the whole-file rows
            //    either way (comment interiors yield no records; records
            //    after the closer are accepted normally). r14 refused here,
            //    falsely, for any cut landing mid-record before a "-->" in
            //    an attribute value or text.
            //  - AFTER an accepted fragment, a bare "-->" in content state
            //    still raises: if the cut had landed inside a comment whose
            //    interior contains a well-formed <spectrum> element, that
            //    phantom was already EMITTED — the closer is the only
            //    signal, and silent row divergence is the one outcome this
            //    scan must never produce. (Legal post-record "-->" text
            //    also lands here and refuses loudly — machine-written mzML
            //    has no bare inter-record text; direction of failure safe.)
            if (b == '-') cm = math.min(cm + 1, 2)
            else {
              if (b == '>' && cm == 2 && accepted) throw new java.io.IOException(
                "mzml: comment closer '-->' with no opener in this chunk after " +
                "records were emitted — a comment may span the split cut and the " +
                "emitted records may be phantoms; disable splitting for this file")
              cm = 0
            }
            // "]]>": forbidden in CONTENT (XML 1.0 §2.4) but legal inside
            // attribute values — same pre/post-accept rule as "-->" above
            // (a cut landing mid-record before an attr holding "]]>" is
            // scanned pre-accept; nothing emitted, tolerating is exact).
            if (b == ']') cd = math.min(cd + 1, 2)
            else {
              if (b == '>' && cd == 2 && accepted) throw new java.io.IOException(
                "mzml: CDATA closer ']]>' with no opener in this chunk after " +
                "records were emitted — a CDATA section may span the split cut and " +
                "the emitted records may be phantoms; disable splitting for this file")
              cd = 0
            }
          }
          if (k == 1 && (b == '!' || b == '?')) {
            // '<!' or '<?': consume the whole non-element construct so
            // '<spectrum' inside it is never taken as a record start
            if (b == '!') skipBang() else skipUntil("?>", "processing instruction")
            k = 0; cm = 0; cd = 0
          } else if (k < Pat.length) {
            if (b == Pat.charAt(k)) k += 1
            else k = if (b == '<') 1 else 0
          } else {
            // b is the byte after "<spectrum": a delimiter means a
            // spectrum start tag; anything else ("<spectrumList") is not
            if (b == ' ' || b == '\t' || b == '\n' || b == '\r' ||
                b == '>' || b == '/') {
              if (pos - Pat.length - 1 >= input.end) return false
              copyFragment(b)
              accepted = true
              return true
            }
            k = if (b == '<') 1 else 0
          }
        }
        false
      }

      private def rd(): Int = {
        val b = nextByte()
        if (b < 0) throw new java.io.EOFException(
          "mzml: truncated spectrum element (file cut mid-record?)")
        bput(b)
        b
      }

      /** Copy one spectrum element, given the byte after `<spectrum`, into
        * the batch buffer.
        */
      private def copyFragment(delim: Int): Unit = {
        var i = 0
        while (i < Pat.length) { bput(Pat.charAt(i)); i += 1 }
        bput(delim)
        if (delim != '>') {
          // finish the start tag (quote-aware: '>' and '/' are legal
          // inside attribute values); a '/' right before the closing '>'
          // is a self-closed empty spectrum
          var prev = delim
          var quote = 0
          var b = rd()
          while (b != '>' || quote != 0) {
            if (quote == 0 && (b == '"' || b == '\'')) quote = b
            else if (quote != 0 && b == quote) quote = 0
            prev = b
            b = rd()
          }
          if (prev == '/') return
        }
        // copy through the matching close tag: nested <spectrum> elements
        // are not legal mzML, so the first "</spectrum>" closes ours
        val C = "</spectrum>"
        var k = 0
        while (k < C.length) {
          val c = rd()
          if (c == C.charAt(k)) k += 1
          else k = if (c == '<') 1 else 0
        }
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): Array[Any] = {
        val row = nextRow
        advance()
        row
      }
    }
    pipelined(ctx, inner, required)
  }

  /** Reader Inflaters not yet released, JVM-wide: a leak check for specs. */
  private[sources] val liveReaderInflaters = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A reader task's decode state, counted in [[liveReaderInflaters]] and
    * as a [[DecodePool]] reader until its endInflater(). The Inflater holds
    * native zlib state: it is released when the task ends (covers failure
    * paths and LIMIT) and at normal exhaustion (end() is idempotent) —
    * finalization-only release leaks off-heap memory on long-running
    * executors.
    */
  private def readerCtx(): DecodeCtx = {
    liveReaderInflaters.incrementAndGet()
    val ctx = new DecodeCtx(DecodePool.register())
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => ctx.endInflater()))
    ctx
  }

  /** Per-partition reusable decode state: one native Inflater and two growable
    * scratch buffers for the whole file, instead of a fresh Inflater + regex
    * strip + ByteArrayOutputStream per binary array (the r4 b05 hot path).
    */
  private[sources] final class DecodeCtx(reader: DecodePool.Reader = null) {
    val inflater = new java.util.zip.Inflater()
    private val ended = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** Releases the Inflater's native state and the reader's place in the
      * decode gate; later calls do nothing. Only reader contexts
      * ([[readerCtx]]) call it.
      */
    def endInflater(): Unit = if (ended.compareAndSet(false, true)) {
      inflater.end()
      liveReaderInflaters.decrementAndGet()
      if (reader != null) reader.release()
    }
    var b64buf: Array[Byte] = new Array[Byte](1 << 13) // whitespace-stripped base64 bytes
    var rawbuf: Array[Byte] = new Array[Byte](1 << 14) // inflated output
    // small-blob decode batch (see flushPending): staged copies waiting for
    // ONE pool handoff per GROUP of spectra, plus the bytes staged by the
    // current group (parse-group byte bound for wide-spectrum files)
    val pending = new java.util.ArrayList[PendingBlob](64)
    var groupBytes = 0L
  }

  /** One staged small-blob decode: a copy of the whitespace-stripped base64
    * payload plus its declared codec params, completed by [[flushPending]].
    */
  private[sources] final class PendingBlob(val buf: Array[Byte], val len: Int,
      val zlib: Boolean, val is64: Boolean) {
    val fut = new java.util.concurrent.CompletableFuture[Array[Double]]()
  }

  /** Per-thread inflate scratch for [[DecodePool]] decodes. The Inflater
    * count is bounded by the pool size; native state is released by the
    * zip Cleaner when an idle pool thread times out (the per-task
    * ctx.inflater keeps its explicit end()).
    */
  private val poolScratch: ThreadLocal[DecodeCtx] =
    ThreadLocal.withInitial(() => new DecodeCtx)

  /** Blobs below this many base64 bytes join the group batch: the pool
    * handoff (payload copy + future + SynchronousQueue rendezvous) costs
    * ~µs, which dominated sub-KB spectra (the b05 shape measured 67 -> 22
    * MB/s when everything went async alone) while a 64 KB blob inflates
    * for ~1 ms and amortizes it.
    */
  private val asyncThreshold = 65536

  /** Decode a blob off the parse thread when [[DecodePool]] has an idle
    * core (the 84%-of-native-samples `Inflater.inflate` wall, 67 MB/s per
    * task, is what a spectrum's independent mz/intensity/wavelength arrays
    * spread over idle cores): big payloads are copied and decoded
    * individually; small payloads are staged into the task's GROUP batch —
    * one pool handoff per group of spectra (see [[flushPending]]). With the
    * gate closed (full-width scan) everything decodes inline on the parse
    * thread — the pre-pool path, zero overhead, by construction.
    */
  private[sources] def decodeAsync(ctx: DecodeCtx, b64len: Int, zlib: Boolean,
      is64: Boolean): java.util.concurrent.Future[Array[Double]] = {
    ctx.groupBytes += b64len
    def inline(buf: Array[Byte], sc: DecodeCtx) =
      java.util.concurrent.CompletableFuture.completedFuture(
        decodeBuf(buf, b64len, zlib, is64, sc))
    if (!DecodePool.idle) inline(ctx.b64buf, ctx)
    else if (b64len < asyncThreshold) {
      val p = new PendingBlob(java.util.Arrays.copyOf(ctx.b64buf, b64len),
        b64len, zlib, is64)
      ctx.pending.add(p)
      p.fut
    } else {
      val copy = java.util.Arrays.copyOf(ctx.b64buf, b64len)
      val fut = DecodePool.tryAsync(() =>
        decodeBuf(copy, b64len, zlib, is64, poolScratch.get()))
      if (fut != null) fut else inline(copy, ctx)
    }
  }

  /** Submit the task's staged small-blob batch as ONE pool task, or decode
    * it inline when [[DecodePool]] refuses; true when the pool took it.
    * Called once per parse group by [[pipelined]] — the group handoff is
    * what amortizes the SynchronousQueue rendezvous the per-blob path
    * could not.
    */
  private[sources] def flushPending(ctx: DecodeCtx): Boolean = {
    if (ctx.pending.isEmpty) return false
    val blobs = new java.util.ArrayList[PendingBlob](ctx.pending)
    ctx.pending.clear()
    def decodeAll(sc: DecodeCtx): Unit = {
      var i = 0
      while (i < blobs.size()) {
        val p = blobs.get(i)
        try p.fut.complete(decodeBuf(p.buf, p.len, p.zlib, p.is64, sc))
        catch { case t: Throwable => p.fut.completeExceptionally(t) }
        i += 1
      }
    }
    val granted = DecodePool.trySubmit(() => decodeAll(poolScratch.get()))
    if (!granted) decodeAll(ctx)
    granted
  }

  /** Bitmask of the binary-array columns a projection actually reads
    * (schema slots 1-3): a scan that prunes mz/intensity/wavelength must
    * pay ZERO base64+inflate for them — column pruning has to reach the
    * codec, not just the row assembly (guide §4/§6; the r17 check found
    * the decode running unconditionally with `required.map` applied after).
    */
  private def wantMask(required: Array[Int]): Int = {
    var m = 0
    var i = 0
    while (i < required.length) {
      val c = required(i)
      if (c >= 1 && c <= 3) m |= 1 << (c - 1)
      i += 1
    }
    m
  }

  /** Consume a `<binary>` element's content without staging it. */
  private def skipBinaryB64(xml: XMLStreamReader): Unit = {
    var done = false
    while (!done) {
      xml.next() match {
        case XMLStreamConstants.END_ELEMENT => done = true
        case XMLStreamConstants.START_ELEMENT =>
          throw new javax.xml.stream.XMLStreamException("element content inside <binary>")
        case _ => ()
      }
    }
  }

  private def parseSpectrum(xml: XMLStreamReader, ctx: DecodeCtx,
      want: Int = 7): Array[Any] = {
    val id = Option(xml.getAttributeValue(null, "id")).getOrElse("")
    val specParams = mutable.ArrayBuffer[Any]()
    var mz: java.util.concurrent.Future[Array[Double]] = null
    var intensity: java.util.concurrent.Future[Array[Double]] = null
    var wavelength: java.util.concurrent.Future[Array[Double]] = null
    var precursorMz: Any = null
    var precursorCharge: Any = null

    var inPrecursor = false
    // binaryDataArray state
    var inBda = false
    var bdaKind: String = null // mz | intensity | wavelength
    var bdaZlib = false
    var bda64bit = true
    var bdaB64Len: Int = -1 // stripped base64 bytes staged in ctx.b64buf

    var depth = 1
    while (depth > 0 && xml.hasNext) {
      xml.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          xml.getLocalName match {
            case "precursor" | "selectedIon" => inPrecursor = true
            case "binaryDataArray" =>
              inBda = true; bdaKind = null; bdaZlib = false; bda64bit = true; bdaB64Len = -1
            case "cvParam" =>
              val acc = xml.getAttributeValue(null, "accession")
              val nm = xml.getAttributeValue(null, "name")
              val v = xml.getAttributeValue(null, "value")
              if (inBda) acc match {
                case "MS:1000514" => bdaKind = "mz"
                case "MS:1000515" => bdaKind = "intensity"
                case "MS:1000617" => bdaKind = "wavelength"
                case "MS:1000574" => bdaZlib = true
                case "MS:1000576" => bdaZlib = false
                case "MS:1000523" => bda64bit = true
                case "MS:1000521" => bda64bit = false
                case _ => ()
              } else if (inPrecursor) acc match {
                case "MS:1000744" => precursorMz = v.toDouble
                case "MS:1000041" => precursorCharge = v.toLong
                case _ => ()
              } else {
                specParams += new GenericInternalRow(Array[Any](
                  dotNull(acc), dotNull(nm), if (v == null) null else utf8(v)))
              }
            case "binary" if inBda =>
              // a kind already declared (cvParams precede <binary> in valid
              // mzML) that the projection pruned: stream past the payload
              // without staging a byte. Unknown-kind-so-far payloads stage;
              // the END_ELEMENT handler drops them if they turn out pruned.
              val kindBit = bdaKind match {
                case "mz" => 1; case "intensity" => 2; case "wavelength" => 4
                case _ => 0
              }
              if (kindBit != 0 && (want & kindBit) == 0) {
                skipBinaryB64(xml); bdaB64Len = -1
              } else bdaB64Len = readBinaryB64(xml, ctx)
              depth -= 1 // the binary reader consumes the END_ELEMENT
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          xml.getLocalName match {
            case "precursor" | "selectedIon" => inPrecursor = false
            case "binaryDataArray" =>
              if (bdaKind != null && bdaB64Len >= 0) {
                val kindBit = bdaKind match {
                  case "mz" => 1; case "intensity" => 2; case _ => 4
                }
                if ((want & kindBit) != 0) {
                  val values = decodeAsync(ctx, bdaB64Len, bdaZlib, bda64bit)
                  bdaKind match {
                    case "mz" => mz = values
                    case "intensity" => intensity = values
                    case "wavelength" => wavelength = values
                  }
                }
              }
              inBda = false
            case _ => ()
          }
        case _ => ()
      }
    }

    // futures stay unresolved in slots 1-3: the iterator resolves them via
    // resolvePending AFTER the next spectrum's decodes are staged, so pool
    // inflate overlaps the parse of the following spectrum (depth-1
    // pipeline), not just the current element's tail
    Array[Any](utf8(id), mz, intensity, wavelength,
      new GenericArrayData(specParams.toArray), precursorMz, precursorCharge)
  }

  /** Join the staged decodes of a parsed spectrum row (slots 1-3) into
    * their final wrapped form. Called a GROUP late by [[pipelined]]; the
    * flush check is a hang-proof safety net (a future created by
    * decodeAsync can only be awaited after its batch was submitted).
    */
  private def resolvePending(ctx: DecodeCtx, row: Array[Any]): Array[Any] = {
    if (!ctx.pending.isEmpty) flushPending(ctx)
    if (row == null) return null
    var i = 1
    while (i <= 3) {
      row(i) = row(i) match {
        case f: java.util.concurrent.Future[_] =>
          val a = DecodePool.await(f.asInstanceOf[java.util.concurrent.Future[Array[Double]]])
          if (a == null) null
          else new GenericInternalRow(Array[Any](
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
              .fromPrimitiveArray(a)))
        case other => other
      }
      i += 1
    }
    row
  }

  /** Stream the current element's text content into ctx.b64buf as
    * whitespace-stripped base64 bytes, returning the byte count — the
    * zero-String replacement for getElementText (the payload is the bulk
    * of the file's bytes; the String path paid a UTF-16 widening plus a
    * StringBuilder copy and a char-strip pass per array). Reads the
    * parser's internal char buffer directly (getTextCharacters/-Start/
    * -Length), skips comments/PIs like getElementText does, and consumes
    * up to and including the element's END_ELEMENT.
    */
  private def readBinaryB64(xml: XMLStreamReader, ctx: DecodeCtx): Int = {
    var n = 0
    def ensure(extra: Int): Array[Byte] = {
      if (n + extra > ctx.b64buf.length) {
        var cap = ctx.b64buf.length << 1
        while (cap < n + extra) cap <<= 1
        ctx.b64buf = java.util.Arrays.copyOf(ctx.b64buf, cap)
      }
      ctx.b64buf
    }
    var done = false
    while (!done) {
      xml.next() match {
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA |
             XMLStreamConstants.SPACE =>
          val src = xml.getTextCharacters
          val off = xml.getTextStart
          val len = xml.getTextLength
          val buf = ensure(len)
          var i = 0
          while (i < len) {
            val c = src(off + i)
            if (c > ' ') { buf(n) = c.toByte; n += 1 }
            i += 1
          }
        case XMLStreamConstants.ENTITY_REFERENCE =>
          val t = xml.getText
          val buf = ensure(t.length)
          var i = 0
          while (i < t.length) {
            val c = t.charAt(i)
            if (c > ' ') { buf(n) = c.toByte; n += 1 }
            i += 1
          }
        case XMLStreamConstants.COMMENT | XMLStreamConstants.PROCESSING_INSTRUCTION => ()
        case XMLStreamConstants.END_ELEMENT => done = true
        case XMLStreamConstants.START_ELEMENT =>
          throw new javax.xml.stream.XMLStreamException("element content inside <binary>")
        case _ => ()
      }
    }
    n
  }

  private def decodeBuf(buf: Array[Byte], b64len: Int, zlib: Boolean,
      is64: Boolean, ctx: DecodeCtx): Array[Double] = {
    val decoded = Base64.getDecoder.decode(java.nio.ByteBuffer.wrap(buf, 0, b64len))
    var bytes = decoded.array()
    var byteLen = decoded.remaining()
    if (zlib) {
      val inf = ctx.inflater
      inf.reset()
      inf.setInput(bytes, 0, byteLen)
      var out = ctx.rawbuf
      var pos = 0
      while (!inf.finished()) {
        if (pos == out.length) {
          out = java.util.Arrays.copyOf(out, out.length << 1)
          ctx.rawbuf = out
        }
        val got = inf.inflate(out, pos, out.length - pos)
        if (got == 0 && inf.needsInput()) throw new java.io.EOFException("truncated zlib data")
        pos += got
      }
      bytes = out
      byteLen = pos
    }
    val bb = java.nio.ByteBuffer.wrap(bytes, 0, byteLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (is64) {
      val out = new Array[Double](byteLen / 8)
      var i = 0
      while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
      out
    } else {
      val out = new Array[Double](byteLen / 4)
      var i = 0
      while (i < out.length) { out(i) = bb.getFloat().toDouble; i += 1 }
      out
    }
  }
}
