package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.util.concurrent.CountDownLatch
import graft.SharedSpark
import graft.sources.formats.MzMlFormat

/** The one idle-core decode budget every format shares: in-flight pool
  * work plus live decode readers stay below the core count, readers give
  * their place back when their stream closes, and the decode pipe's
  * consumer counts as a reader.
  */
class DecodePoolSpec extends AnyFunSuite with SharedSpark {
  import DecodePoolSpec._

  test("work of one kind fills the budget for BGZF batches and mzML flushes alike") {
    awaitDrained()
    val blocks = rawBlocks(bgzf(payload(1 << 20)))
    val mz = Array.tabulate(500)(i => i * 1.5)

    val inlineCtx = staged(mz)
    val latch = new CountDownLatch(1)
    val blockers = Iterator.continually(DecodePool.tryAsync(() => latch.await()))
      .takeWhile(_ != null).toVector
    try {
      assert(blockers.nonEmpty && !DecodePool.idle)
      assert(BgzfBlocks.tryInflateAsync(blocks, blocks.length) == null,
        "a BGZF batch was granted beyond the budget")
      assert(!MzMlFormat.flushPending(inlineCtx._1),
        "an mzML group flush was granted beyond the budget")
      // refused work ran inline, on this thread, before the flush returned
      assert(inlineCtx._2.isDone)
      assert(DecodePool.await(inlineCtx._2).sameElements(mz))
    } finally latch.countDown()
    awaitDrained()

    eventually {
      val (ctx, fut) = staged(mz)
      MzMlFormat.flushPending(ctx) && DecodePool.await(fut).sameElements(mz)
    }
    eventually {
      val futs = BgzfBlocks.tryInflateAsync(blocks, blocks.length)
      futs != null && futs.indices.forall { i =>
        DecodePool.await(futs(i)).sameElements(
          Bgzf.inflateRaw(blocks(i), new java.util.zip.Inflater(true)))
      }
    }
    awaitDrained()
    assert(DecodePool.inFlightCount == 0)
  }

  test("the decode pipe's consumer counts as a reader: Codecs.wrap serves unpiped once readers fill the budget") {
    awaitDrained()
    val (piped, lastPiped, poolSize) = spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      // more than the pipe's read-ahead, so every producer holds its slot
      val gz = gzip(payload(6 << 20))
      val streams = scala.collection.mutable.ArrayBuffer[InputStream]()
      def open(): Boolean = {
        val s = Codecs.wrap("x.fasta.gz", new ByteArrayInputStream(gz))
        streams += s
        s.isInstanceOf[AsyncChunkedInputStream]
      }
      try {
        while (open() && streams.size <= DecodePool.poolSize) ()
        (streams.count(_.isInstanceOf[AsyncChunkedInputStream]),
          streams.last.isInstanceOf[AsyncChunkedInputStream], DecodePool.poolSize)
      } finally streams.foreach(_.close())
    }.collect().head
    assert(!lastPiped)
    // each pipe holds its producer's slot and its consumer's place
    assert(piped <= poolSize / 2, s"$piped pipes on $poolSize cores")
    // a lone single-task scan (scan_write's fasta_gz) keeps its producer
    if (poolSize >= 2) assert(piped >= 1)
    awaitDrained()
    assert(DecodePool.idle)
  }

  test("a BGZF cursor gives its reader back on close, and at task end when left open") {
    awaitDrained()
    val idleAfterClose = spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val data = bgzf(payload(1 << 20))
      (0 until DecodePool.poolSize + 2).foreach { _ =>
        val in = new BgzfStreamInputStream(new ByteArrayInputStream(data))
        in.read()
        in.close()
        in.close() // idempotent
      }
      awaitDrained()
      DecodePool.idle
    }.collect().head
    assert(idleAfterClose, "closed cursors still hold the gate shut")

    // LIMIT / failure backstop: cursors never closed are released when
    // their task ends
    spark.sparkContext.parallelize(Seq(0), 1).foreach { _ =>
      val data = bgzf(payload(1 << 20))
      (0 until DecodePool.poolSize).foreach { _ =>
        new BgzfStreamInputStream(new ByteArrayInputStream(data)).read()
      }
    }
    awaitDrained()
    assert(DecodePool.idle, "unclosed cursors outlived their task")
  }
}

object DecodePoolSpec {
  def payload(n: Int): Array[Byte] = {
    val rnd = new scala.util.Random(7)
    Array.fill(n)("ACGT\n".charAt(rnd.nextInt(5)).toByte)
  }

  def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  def bgzf(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new BgzfWriter(bos)
    w.write(data)
    w.finish()
    bos.toByteArray
  }

  def rawBlocks(bytes: Array[Byte]): Array[Bgzf.RawBlock] = {
    val in = new ByteArrayInputStream(bytes)
    Iterator.continually(Bgzf.readRawBlock(in)).takeWhile(_ != null).toArray
  }

  /** A decode context with one small zlib blob staged for its group flush. */
  def staged(values: Array[Double])
      : (MzMlFormat.DecodeCtx, java.util.concurrent.Future[Array[Double]]) = {
    val bb = java.nio.ByteBuffer.allocate(values.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putDouble)
    val z = new ByteArrayOutputStream()
    val dz = new java.util.zip.DeflaterOutputStream(z)
    dz.write(bb.array()); dz.close()
    val b64 = java.util.Base64.getEncoder.encode(z.toByteArray)
    val ctx = new MzMlFormat.DecodeCtx()
    ctx.b64buf = b64
    val fut = MzMlFormat.decodeAsync(ctx, b64.length, zlib = true, is64 = true)
    assert(!fut.isDone, "the blob decoded inline instead of joining the group")
    (ctx, fut)
  }

  /** Wait for pool work to finish (pool threads decrement after their
    * futures complete).
    */
  def awaitDrained(): Unit = eventually(DecodePool.inFlightCount == 0)

  /** A pool thread that just finished is briefly not yet back at the
    * hand-off queue, and a submission meeting it is refused; retry.
    */
  def eventually(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!cond) {
      assert(System.nanoTime() < deadline, "condition not met within 10 s")
      Thread.sleep(5)
    }
  }
}
