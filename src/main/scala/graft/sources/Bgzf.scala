package graft.sources

import java.io.InputStream
import java.util.zip.Inflater
import org.apache.hadoop.fs.FSDataInputStream

/** BGZF (blocked gzip) primitives. A BGZF file is a sequence of independent
  * gzip members, each carrying its compressed size in a BC extra subfield, so
  * a reader can seek to any block boundary. A "virtual position" addresses
  * (block file offset << 16 | offset inside the decompressed block) — the
  * coordinate system used by tabix/.bai/.csi indexes.
  *
  * Format is public (SAM spec §4.1); reimplemented here, not ported: the
  * reference delegates to noodles (streaming_bgzf.rs:22-80).
  */
object Bgzf {

  final case class Block(data: Array[Byte], compressedSize: Int)

  /** One block's compressed payload + sizes, read off the stream but not
    * yet inflated — the unit of work the idle-core inflate pool takes
    * (see [[BgzfBlocks]]). `cdata` is the deflate payload only (no gzip
    * framing), so inflation needs no further stream access.
    */
  final case class RawBlock(cdata: Array[Byte], isize: Int, compressedSize: Int)

  /** Bytes [[looksLikeBgzf]] may read and unread: a pushback stream handed
    * to it needs at least this capacity.
    */
  val SniffBytes = 512

  /** Non-destructive BGZF sniff: true iff the stream starts with a gzip
    * member header carrying a BC subfield whose block size is plausible —
    * the same check ([[headerBsizeAt]]) the split scan applies to every
    * candidate boundary. Reads the fixed header and its extra field (at
    * most [[SniffBytes]]) and unreads them all, so the stream position is
    * unchanged either way. An extra field too long to buffer is not BGZF;
    * real BGZF writers emit XLEN=6.
    */
  def looksLikeBgzf(in: java.io.PushbackInputStream): Boolean = {
    val b = new Array[Byte](SniffBytes)
    def fill(from: Int, to: Int): Int = {
      var got = from
      var eof = false
      while (got < to && !eof) {
        val n = in.read(b, got, to - got)
        if (n < 0) eof = true else got += n
      }
      got
    }
    val head = fill(0, 12)
    val got =
      if (head < 12) head else fill(12, math.min(SniffBytes, 12 + u16(b, 10)))
    val bgzf = headerBsizeAt(b, 0, got) > 0
    in.unread(b, 0, got)
    bgzf
  }

  /** Read and inflate one BGZF block at the stream's current position.
    * Returns null at clean EOF. Allocates a fresh Inflater — block-loop
    * callers should use [[BgzfBlocks]] (JNI inflater init per 18 KB
    * block is a measurable tax on a multi-GB scan).
    */
  def readBlock(in: InputStream): Block = {
    val inf = new Inflater(true)
    try readBlock(in, inf) finally inf.end()
  }

  /** Reusing variant: `inf` is reset before use and stays owned by the
    * caller.
    */
  def readBlock(in: InputStream, inf: Inflater): Block = {
    val rb = readRawBlock(in)
    if (rb == null) null else Block(inflateRaw(rb, inf), rb.compressedSize)
  }

  /** Read one block's framing + compressed payload WITHOUT inflating (the
    * stream-ordered half of the read; inflation is order-free and can run
    * on any core). Returns null at clean EOF.
    */
  def readRawBlock(in: InputStream): RawBlock = {
    val header = new Array[Byte](12)
    var got = 0
    while (got < 12) {
      val n = in.read(header, got, 12 - got)
      if (n < 0) { if (got == 0) return null else throw truncated() }
      got += n
    }
    require((header(0) & 0xff) == 31 && (header(1) & 0xff) == 139,
      "not a BGZF/gzip block")
    val xlen = u16(header, 10)
    val extra = readFully(in, xlen)
    // find BC subfield -> BSIZE (total block size - 1)
    var bsize = -1
    var i = 0
    while (i + 4 <= extra.length && bsize < 0) {
      val si1 = extra(i) & 0xff; val si2 = extra(i + 1) & 0xff
      val slen = u16(extra, i + 2)
      if (si1 == 66 && si2 == 67 && slen == 2) bsize = u16(extra, i + 4) + 1
      i += 4 + slen
    }
    require(bsize > 0, "BGZF block missing BC subfield (plain gzip?)")
    // layout: 12-byte header + xlen extra + cdata + crc32 + isize == bsize
    val cdata = readFully(in, bsize - 12 - xlen - 8)
    val tail = readFully(in, 8)
    RawBlock(cdata, u32(tail, 4).toInt, bsize)
  }

  /** Inflate one raw block's payload. `inf` is reset before use and stays
    * owned by the caller.
    */
  def inflateRaw(rb: RawBlock, inf: Inflater): Array[Byte] = {
    val isize = rb.isize
    val out = new Array[Byte](isize)
    if (isize > 0) {
      inf.reset()
      inf.setInput(rb.cdata)
      var off = 0
      while (off < isize && !inf.finished()) {
        val n = inf.inflate(out, off, isize - off)
        if (n == 0 && inf.needsInput())
          throw new java.io.EOFException("corrupt BGZF block: inflater stalled")
        off += n
      }
    }
    out
  }

  private def truncated() = new java.io.EOFException("truncated BGZF block")

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r = in.read(b, got, n - got)
      if (r < 0) throw truncated()
      got += r
    }
    b
  }

  @inline private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  @inline private def u32(b: Array[Byte], i: Int): Long =
    (u16(b, i).toLong) | (u16(b, i + 2).toLong << 16)

  /** Parse a candidate BGZF block header at `b(i)`, returning its total
    * block size (BSIZE+1) or -1 when the bytes there are not a plausible
    * header. Pure-buffer validation used by the split-point scan.
    */
  private def headerBsizeAt(b: Array[Byte], i: Int, avail: Int): Int = {
    if (i + 12 > avail) return -1
    if ((b(i) & 0xff) != 31 || (b(i + 1) & 0xff) != 139 ||
        (b(i + 2) & 0xff) != 8 || (b(i + 3) & 4) == 0) return -1
    val xlen = u16(b, i + 10)
    if (xlen < 6 || i + 12 + xlen > avail) return -1
    var j = i + 12
    val xend = i + 12 + xlen
    var bsize = -1
    while (j + 4 <= xend && bsize < 0) {
      val si1 = b(j) & 0xff; val si2 = b(j + 1) & 0xff
      val slen = u16(b, j + 2)
      if (si1 == 66 && si2 == 67 && slen == 2 && j + 6 <= xend)
        bsize = u16(b, j + 4) + 1
      j += 4 + slen
    }
    if (bsize < 12 + xlen + 8 || bsize > (1 << 16)) -1 else bsize
  }

  /** Find the first BGZF block boundary at/after raw offset `c` by scanning
    * for a validated header (magic + FEXTRA + BC subfield) whose implied
    * NEXT block also validates (or lands exactly at EOF) — the two-header
    * chain makes a false positive inside compressed payload astronomically
    * unlikely (the hadoop-bam technique). The true boundary is at most one
    * block (64 KiB) away, so one bounded positioned read suffices. Returns
    * -1 when no boundary exists at/after `c` (offset inside the last
    * block).
    */
  def findBlockAtOrAfter(raw: FSDataInputStream, c: Long, fileSize: Long): Long = {
    if (c >= fileSize) return -1
    if (c == 0) return 0
    val win = math.min(fileSize - c, (3L << 16) + 1024).toInt
    val b = new Array[Byte](win)
    raw.readFully(c, b, 0, win)
    var i = 0
    // the first real boundary is within one max-size block of c
    val scanMax = math.min(win - 18, 1 << 16)
    while (i <= scanMax) {
      val bs = headerBsizeAt(b, i, win)
      if (bs > 0) {
        val nextAbs = c + i + bs
        if (nextAbs == fileSize || headerBsizeAt(b, i + bs, win) > 0)
          return c + i
      }
      i += 1
    }
    -1
  }
}

/** Ordered BGZF block cursor shared by every block-loop stream: raw block
  * framing is read sequentially on the task thread (stream order is the
  * only ordering constraint), inflation rides [[DecodePool]] when cores are
  * idle, and `next()` hands blocks back strictly in file order. When the
  * pool gate is closed the ring never grows past the one block being
  * served — the exact sequential read-inflate-parse loop this class
  * replaced. The cursor counts as one decode reader from construction to
  * [[close]].
  *
  * `stopAfter`: never read a block whose offset exceeds it (chunk streams
  * know their last block up front; prefetch must not overshoot a bounded
  * region read).
  */
private[sources] final class BgzfBlocks(raw: InputStream,
                                        firstOffset: Long = 0L,
                                        stopAfter: Long = Long.MaxValue) {
  import java.util.concurrent.Future
  import BgzfBlocks.{Depth, Group}

  /** One block in flight: offset + compressed size are known at read time
    * (the split/resync ownership decisions need them before inflation);
    * `data` joins the async inflate or inflates inline on the task-owned
    * Inflater. Single-use: each call re-inflates on the inline path.
    */
  final class Entry(val offset: Long, val compressedSize: Int,
                    rb: Bgzf.RawBlock, fut: Future[Array[Byte]]) {
    def data: Array[Byte] =
      if (fut == null) Bgzf.inflateRaw(rb, inf) else DecodePool.await(fut)
  }

  private val inf = new Inflater(true)
  private val ring = new java.util.ArrayDeque[Entry](Depth)
  private var nextOffset = firstOffset
  private var rawEof = false
  // prefetch persists only while the pool keeps granting async slots: the
  // first gated (inline) batch parks the cursor in sequential mode until
  // the ring drains and the gate is re-probed
  private var asyncGranted = true
  private val reader = DecodePool.register()

  private def fill(): Unit = {
    while (!rawEof && nextOffset <= stopAfter &&
        (ring.isEmpty || (asyncGranted && ring.size < Depth))) {
      // read up to one group of raw blocks, then submit them as ONE pool
      // handoff (per-block handoff overhead measurably exceeds the overlap
      // win on parse-light formats)
      val want = if (asyncGranted) math.min(Group, Depth - ring.size) else 1
      val rbs = new Array[Bgzf.RawBlock](want)
      val offs = new Array[Long](want)
      var k = 0
      while (k < want && !rawEof && nextOffset <= stopAfter) {
        val rb = Bgzf.readRawBlock(raw)
        if (rb == null) rawEof = true
        else {
          rbs(k) = rb; offs(k) = nextOffset
          nextOffset += rb.compressedSize
          k += 1
        }
      }
      if (k == 0) return
      val futs = BgzfBlocks.tryInflateAsync(rbs, k)
      asyncGranted = futs != null
      var i = 0
      while (i < k) {
        ring.add(new Entry(offs(i), rbs(i).compressedSize, rbs(i),
          if (futs == null) null else futs(i)))
        i += 1
      }
    }
  }

  /** Next block in file order; null at EOF or past `stopAfter`. */
  def next(): Entry = { fill(); ring.poll() }

  /** Ends the Inflater and gives the reader's place in the gate back;
    * idempotent.
    */
  def close(): Unit = { inf.end(); reader.release() }
}

private[sources] object BgzfBlocks {
  /** Most blocks a cursor keeps read ahead of the one being served. */
  val Depth = 32
  /** Blocks per pool handoff. */
  val Group = 4

  /** Per-pool-thread Inflater: reset per block, never end()-ed explicitly —
    * native state is released by the zip Cleaner when an idle pool thread
    * times out. (Task-owned Inflaters keep their explicit end().)
    */
  private val scratch: ThreadLocal[Inflater] =
    ThreadLocal.withInitial(() => new Inflater(true))

  /** Inflate the first `n` blocks on an idle core, one future per block;
    * null when [[DecodePool]] refuses (the caller inflates inline,
    * sequentially). One pool handoff covers the whole batch — the
    * SynchronousQueue rendezvous + park/unpark costs ~40 µs per submission
    * (measured: per-block submission ATE the b15 overlap win), so blocks
    * ride in groups and each completes its own future as it inflates
    * (block-granular joins, group-granular handoff).
    */
  def tryInflateAsync(rbs: Array[Bgzf.RawBlock], n: Int)
      : Array[java.util.concurrent.CompletableFuture[Array[Byte]]] = {
    val futs = Array.fill(n)(new java.util.concurrent.CompletableFuture[Array[Byte]]())
    val granted = DecodePool.trySubmit { () =>
      val inf = scratch.get()
      var k = 0
      while (k < n) {
        try futs(k).complete(Bgzf.inflateRaw(rbs(k), inf))
        catch { case t: Throwable => futs(k).completeExceptionally(t) }
        k += 1
      }
    }
    if (granted) futs else null
  }
}

/** Decompressed stream over the BGZF virtual range [vStart, vEnd) of a
  * file: an index chunk, or the whole file as [0, ∞) (the one-argument
  * constructor). Serves bytes straight from each inflated block's array —
  * roughly 2x faster than GZIPInputStream on whole-file BAM/BCF decode (no
  * per-member CRC recomputation, and byte-at-a-time record reads hit an
  * array instead of the inflater); block inflation overlaps parse via
  * [[BgzfBlocks]] when cores are idle. A range starting past block 0 needs
  * a seekable `raw`. Prefetch stops at the block holding `vEnd`, so a small
  * region read never inflates blocks past its end.
  */
final class BgzfStreamInputStream(raw: InputStream, vStart: Long, vEnd: Long)
  extends InputStream {

  def this(raw: InputStream) = this(raw, 0L, Long.MaxValue)

  private val endCoffset = vEnd >>> 16
  private var buf: Array[Byte] = _
  private var pos = 0
  private var limit = 0
  private var done = false
  private var firstBlock = true
  private val blocks = {
    val startCoffset = vStart >>> 16
    if (startCoffset > 0) raw.asInstanceOf[org.apache.hadoop.fs.Seekable].seek(startCoffset)
    new BgzfBlocks(raw, startCoffset, stopAfter = endCoffset)
  }

  private def advance(): Unit = {
    while (!done && pos >= limit) {
      val b = blocks.next()
      if (b == null) { done = true; return }
      buf = b.data
      pos = if (firstBlock) (vStart & 0xffff).toInt else 0
      firstBlock = false
      limit = if (b.offset == endCoffset) math.min(buf.length, (vEnd & 0xffff).toInt)
              else buf.length
    }
  }

  override def read(): Int = {
    advance()
    if (done) -1 else { val v = buf(pos) & 0xff; pos += 1; v }
  }

  override def read(out: Array[Byte], off: Int, len: Int): Int = {
    advance()
    if (done) return -1
    val n = math.min(len, limit - pos)
    System.arraycopy(buf, pos, out, off, n)
    pos += n
    n
  }

  override def close(): Unit = { blocks.close(); raw.close() }
}

/** Decode/parse overlap for SEQUENTIAL decompressors (plain gzip, zstd,
  * bzip2, xz — codecs whose streams cannot be block-parallelised the way
  * BGZF can): a long-running producer on the shared idle-core pool pulls
  * decompressed bytes from `inner` into chunk buffers ahead of the
  * consumer, so the task thread spends its time parsing instead of
  * inflating. Upper bound is 2x (one producer, one consumer); the gain is
  * the inflate share of the profile. Takes ONE pool slot for the stream's
  * lifetime, and its consumer counts as a decode reader — the same global
  * decode budget as every other format, so full-width scans see the gate
  * closed and fall back to the plain sequential read on the consumer
  * thread. Producer failures surface on the consumer's next read.
  */
final class AsyncChunkedInputStream private (
    inner: InputStream,
    producerSlot: java.util.concurrent.CompletableFuture[Unit],
    q: java.util.concurrent.ArrayBlockingQueue[AnyRef],
    closed: java.util.concurrent.atomic.AtomicBoolean,
    reader: DecodePool.Reader) extends InputStream {

  private var buf: Array[Byte] = _
  private var pos = 0
  private var limit = 0
  private var done = false
  private var error: Throwable = _

  private def advance(): Unit = {
    while (!done && pos >= limit) {
      q.take() match {
        case AsyncChunkedInputStream.Eof =>
          done = true
        case t: Throwable =>
          done = true; error = t
        case a: Array[Byte] =>
          buf = a; pos = 0; limit = a.length
      }
    }
    if (error != null) {
      val e = error; error = null; done = true
      e match {
        case io: java.io.IOException => throw io
        case re: RuntimeException    => throw re
        case other                   => throw new java.io.IOException(other)
      }
    }
  }

  override def read(): Int = {
    advance()
    if (done) -1 else { val v = buf(pos) & 0xff; pos += 1; v }
  }

  override def read(out: Array[Byte], off: Int, len: Int): Int = {
    advance()
    if (done) return -1
    val n = math.min(len, limit - pos)
    System.arraycopy(buf, pos, out, off, n)
    pos += n
    n
  }

  override def close(): Unit = {
    closed.set(true)
    q.clear() // unblock a producer parked on a full queue
    try producerSlot.get(5, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: Throwable => () }
    reader.release()
    inner.close()
  }
}

object AsyncChunkedInputStream {
  private[sources] case object Eof
  private val ChunkBytes = 1 << 18
  private val Depth = 8

  /** Pipeline `inner` through the idle-core pool when a slot is free;
    * serve `inner` unpiped when the gate is closed (full-width scans — the
    * overlap is a single-task/idle-core optimization by design). Either
    * way the calling task thread, the stream's consumer, counts as a decode
    * reader until the returned stream closes, so N tasks on N cores leave
    * the gate closed.
    */
  def wrap(inner: InputStream): InputStream = {
    val reader = DecodePool.register()
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = new java.util.concurrent.ArrayBlockingQueue[AnyRef](Depth)
    val slot = DecodePool.tryAsync { () =>
      try {
        var eof = false
        while (!eof && !closed.get) {
          val chunk = new Array[Byte](ChunkBytes)
          var got = 0
          while (got < ChunkBytes && !eof) {
            val n = inner.read(chunk, got, ChunkBytes - got)
            if (n < 0) eof = true else got += n
          }
          val out: AnyRef =
            if (got == ChunkBytes) chunk
            else java.util.Arrays.copyOf(chunk, got)
          if (got > 0) {
            // bounded offer so close() can always stop a parked producer
            while (!closed.get &&
              !q.offer(out, 100, java.util.concurrent.TimeUnit.MILLISECONDS)) ()
          }
        }
        while (!closed.get &&
          !q.offer(Eof, 100, java.util.concurrent.TimeUnit.MILLISECONDS)) ()
      } catch {
        case t: Throwable =>
          while (!closed.get &&
            !q.offer(t, 100, java.util.concurrent.TimeUnit.MILLISECONDS)) ()
      }
    }
    if (slot == null) new Unpiped(inner, reader)
    else new AsyncChunkedInputStream(inner, slot, q, closed, reader)
  }

  /** `inner` read on the consumer thread, releasing its reader on close. */
  private final class Unpiped(inner: InputStream, reader: DecodePool.Reader)
      extends java.io.FilterInputStream(inner) {
    override def close(): Unit = try super.close() finally reader.release()
  }
}

/** Decompressed stream over one COMPRESSED-offset split [cStart, cEnd) of a
  * BGZF file with NO index (an unindexed BAM/BCF, a bgzipped FASTQ/FASTA or
  * line file — the landing-zone shape before `samtools index` or `tabix`
  * runs): every format the planner cuts as [[ChunkKind.Record]] reads
  * through it and re-finds its own first record (BAM/BCF record resync, the
  * hadoop-bam SplitGuesser technique; FASTQ/FASTA record starts; a line
  * format's first '\n').
  *
  * Block ownership is positional and deterministic: the chunk owns every
  * block whose raw offset is in [findBlockAtOrAfter(cStart), first block >=
  * cEnd). The stream never cuts: it serves decompressed bytes from the
  * first owned block through EOF, because a record starting in the last
  * owned block may straddle arbitrarily many following blocks. The FORMAT
  * stops instead, via `positionIsOwned`, on decompressed positions counted
  * from the first owned block's first byte. A binary record belongs to the
  * chunk owning its first byte; a line belongs to the chunk owning the
  * '\n' before it (LineFormat.records). Every record therefore lands in
  * exactly one chunk under any chunking (BamResyncSpec, BgzfBlockSplitSpec
  * and FastqSplitSpec assert the invariance).
  */
final class BgzfResyncInputStream(raw: FSDataInputStream, cStart: Long,
                                  cEnd: Long, fileSize: Long)
  extends InputStream {

  private val queue = new java.util.ArrayDeque[Array[Byte]]()
  private var headPos = 0 // read offset into the queue head
  private var blocks: BgzfBlocks = null
  private val firstOffset: Long =
    if (cStart == 0) 0L else Bgzf.findBlockAtOrAfter(raw, cStart, fileSize)
  private var eof = firstOffset < 0
  // decompressed bytes of OWNED blocks loaded so far; final once
  // `ownedComplete` (the last owned block has been loaded, known the moment
  // its successor's offset lands >= cEnd — no lookahead needed)
  private var ownedLoaded = 0L
  private var ownedComplete = eof

  /** False when no block starts inside [cStart, cEnd) — the whole chunk is
    * interior to one block owned by the predecessor.
    */
  val hasOwned: Boolean = !eof && firstOffset < cEnd
  if (!eof) {
    raw.seek(firstOffset)
    blocks = new BgzfBlocks(raw, firstOffset)
  }
  if (!hasOwned) ownedComplete = true

  private def loadBlock(): Boolean = {
    if (eof) return false
    val block = blocks.next()
    if (block == null) { eof = true; ownedComplete = true; return false }
    val data = block.data
    if (block.offset < cEnd) ownedLoaded += data.length
    if (block.offset + block.compressedSize >= cEnd) ownedComplete = true
    if (data.length > 0) queue.addLast(data)
    true
  }

  /** True iff decompressed position `pos` (0 = first byte of the first
    * owned block) lies inside this chunk's owned extent. Loads ahead as
    * needed; never loads past the first non-owned block.
    */
  def positionIsOwned(pos: Long): Boolean = {
    while (!ownedComplete && pos >= ownedLoaded) loadBlock()
    pos < ownedLoaded
  }

  override def read(): Int = {
    while (queue.isEmpty || headPos >= queue.peekFirst().length) {
      if (!queue.isEmpty) { queue.removeFirst(); headPos = 0 }
      else if (!loadBlock()) return -1
    }
    val b = queue.peekFirst()(headPos) & 0xff
    headPos += 1
    b
  }

  override def read(out: Array[Byte], off: Int, len: Int): Int = {
    while (queue.isEmpty || headPos >= queue.peekFirst().length) {
      if (!queue.isEmpty) { queue.removeFirst(); headPos = 0 }
      else if (!loadBlock()) return -1
    }
    val head = queue.peekFirst()
    val n = math.min(len, head.length - headPos)
    System.arraycopy(head, headPos, out, off, n)
    headPos += n
    n
  }

  override def close(): Unit = {
    if (blocks != null) blocks.close()
    raw.close()
  }
}

/** Unsynchronized concat of a byte-array prefix and a tail stream: the
  * resync scan buffers the chunk's first bytes hunting for a record start,
  * and the parser then consumes the remainder of that buffer before the
  * live stream. SequenceInputStream+ByteArrayInputStream would add two
  * synchronized virtual hops to every one of LeIn's millions of 1-4
  * byte reads — measurably (~1.6x) slower on the decode hot path.
  */
final class PrefixedInputStream(buf: Array[Byte], private var off: Int,
                                len: Int, tail: InputStream)
  extends InputStream {
  override def read(): Int =
    if (off < len) { val b = buf(off) & 0xff; off += 1; b } else tail.read()
  override def read(out: Array[Byte], o: Int, n: Int): Int =
    if (off < len) {
      val k = math.min(n, len - off)
      System.arraycopy(buf, off, out, o, k)
      off += k
      k
    } else tail.read(out, o, n)
  override def close(): Unit = tail.close()
}

/** Shared scan harness for index-free record resync (BAM/BCF): grows a
  * buffer over a resync chunk's decompressed bytes and returns the first
  * candidate offset the format's validator accepts AND the chunk owns.
  * The validator returns 1 valid / 0 invalid / -1 need-more-bytes.
  */
object ResyncScan {
  /** First owned record start: offset into `buf` (== decompressed position
    * from the chunk's first block), with the buffer and its filled length
    * so the caller can serve parsed records from it. Null when no record
    * starts inside the owned extent (chunk interior to one straddling
    * record) — a correct zero-row chunk.
    */
  final class Start(val offset: Int, val buf: Array[Byte], val len: Int,
                    val exhausted: Boolean)

  /** A record boundary exists within one max-record-length of the chunk
    * start (records are back to back), so the buffer is bounded by the max
    * record size the validators admit (2^28) plus chain slack — growth is
    * capped and overrun fails LOUDLY rather than risk silently dropping
    * records.
    */
  private val MaxBuf = 192 << 20

  def findFirst(rr: BgzfResyncInputStream,
                validate: (Array[Byte], Int, Int, Boolean) => Int,
                what: String): Start = {
    var buf = new Array[Byte](1 << 18)
    var n = 0
    var exhausted = false
    def fillTo(target: Int): Unit = {
      val t = math.min(target, MaxBuf)
      if (t > buf.length) {
        var cap = buf.length
        while (cap < t) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, math.min(cap, MaxBuf))
      }
      while (n < t && n < buf.length && !exhausted) {
        val r = rr.read(buf, n, buf.length - n)
        if (r < 0) exhausted = true else n += r
      }
    }
    fillTo(1 << 18)
    var c = 0
    while (rr.positionIsOwned(c)) {
      validate(buf, n, c, exhausted) match {
        case 1 => return new Start(c, buf, n, exhausted)
        case 0 => c += 1
        case _ =>
          if (n >= MaxBuf) throw new IllegalStateException(
            s"$what resync: no record boundary within $MaxBuf decompressed " +
              "bytes of chunk start — file corrupt or records larger than " +
              "the resync cap; index the file to scan it")
          fillTo(math.max(n + (1 << 18), n * 2))
      }
    }
    null
  }
}

/** A BGZF binary record format (BAM, BCF) as the shared record driver
  * [[BgzfRecords]] sees it: the header parse, the resync validator and the
  * per-record parse. How a chunk is entered, where a mid-file chunk's header
  * comes from and where a chunk stops are the driver's.
  */
trait BgzfRecordCodec[H <: AnyRef] {
  def shortName: String
  /** The file header, from a stream positioned at the magic. */
  def readHeader(in: LeIn): H
  /** The header's reference (contig) count, which bounds a record's ids. */
  def refCount(h: H): Int
  /** [[ResyncScan]] validator: 1 valid / 0 invalid / -1 need more bytes. */
  def validateChain(b: Array[Byte], n: Int, c: Int, nRef: Int, exhausted: Boolean): Int
  /** One record whose leading i32 `first` is already read; must consume the
    * record to its last byte.
    */
  def parseRecord(in: LeIn, first: Int, h: H, required: Array[Int]): Array[Any]
}

/** The one record driver for the BGZF binary formats, one arm per chunk kind:
  *   - Record (index-free resync split): the head chunk reads its header
  *     in-stream; a later chunk takes it from the memo and scans for the
  *     first record start it owns (validated chain). Either way records stop
  *     before the first one starting past the owned extent (see
  *     BgzfResyncInputStream for the ownership convention).
  *   - Virtual (index chunk): a chunk at virtual offset 0 reads its header
  *     in-stream; any other starts at a record and takes the header from the
  *     memo.
  *   - Plain (the whole file): the whole-file gzip decision of
  *     [[Codecs.gunzip]] — BGZF through the block reader, plain gzip
  *     through the buffered generic path.
  * Every arm reads through one [[LeIn]] straight off the block queue —
  * interposing a BufferedInputStream costs ~1.6x on decode.
  */
object BgzfRecords {
  def records[H <: AnyRef](codec: BgzfRecordCodec[H], input: RecordInput,
                           required: Array[Int]): Iterator[Array[Any]] = {
    val chunk = input.chunk
    chunk.kind match {
      case ChunkKind.Record =>
        val rr = input.resync
        if (!rr.hasOwned) Iterator.empty
        else if (chunk.startsAtFileStart) {
          val in = new LeIn(rr)
          new Records(codec, in, codec.readHeader(in), rr, required)
        } else {
          val h = header(codec, input)
          val nRef = codec.refCount(h)
          val s0 = ResyncScan.findFirst(rr,
            (b, n, c, ex) => codec.validateChain(b, n, c, nRef, ex), codec.shortName)
          if (s0 == null) Iterator.empty
          else {
            // record starts are counted from the scan buffer's origin, so
            // its lookahead cannot skew the ownership check
            val in = new LeIn(new PrefixedInputStream(s0.buf, s0.offset, s0.len, rr))
            in.pos = s0.offset
            new Records(codec, in, h, rr, required)
          }
        }
      case ChunkKind.Virtual =>
        val in = new LeIn(input.stream)
        val h = if (chunk.startsAtFileStart) codec.readHeader(in) else header(codec, input)
        new Records(codec, in, h, null, required)
      case _ =>
        // LeIn issues many 1-4 byte reads; against a bare GZIPInputStream
        // each is a JNI inflate call (~10x slower than the block reader,
        // which serves from the inflated block array), so only the plain
        // gzip fallback is buffered
        val in = new LeIn(Codecs.gunzip(input.stream,
          gz => new java.io.BufferedInputStream(gz, 1 << 16)))
        new Records(codec, in, codec.readHeader(in), null, required)
    }
  }

  private def header[H <: AnyRef](codec: BgzfRecordCodec[H], input: RecordInput): H =
    input.fileHeader(codec.shortName) { raw =>
      val hs = new MultiMemberGzipInputStream(raw)
      try codec.readHeader(new LeIn(hs)) finally hs.close()
    }

  /** Records back to back from `in`; with `rr`, stops before the first
    * record starting outside the resync chunk's owned extent.
    */
  private final class Records[H <: AnyRef](codec: BgzfRecordCodec[H], in: LeIn, h: H,
                                           rr: BgzfResyncInputStream,
                                           required: Array[Int])
    extends Iterator[Array[Any]] {
    private var nextRec: Array[Any] = _
    advance()

    private def advance(): Unit = {
      nextRec = null
      if (rr != null && !rr.positionIsOwned(in.pos)) return
      // Eof ONLY when the stream ends cleanly before a record's first byte;
      // a file truncated mid-record throws EOFException and fails the task
      // instead of silently yielding fewer rows
      val first = in.i32OrEof()
      if (first != LeIn.Eof) nextRec = codec.parseRecord(in, first.toInt, h, required)
    }

    override def hasNext: Boolean = nextRec != null
    override def next(): Array[Any] = { val r = nextRec; advance(); r }
  }
}
