package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PushbackInputStream}
import java.util.zip.GZIPOutputStream

/** Pins for the whole-file decode path: the one non-destructive BGZF sniff
  * (Bgzf.looksLikeBgzf, behind Codecs.gunzip and the planner's split gate),
  * and the sequential-codec decode/parse overlap pipe
  * (AsyncChunkedInputStream).
  */
class AsyncPipeSpec extends AnyFunSuite {

  private def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  private def bgzf(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new BgzfWriter(bos)
    w.write(data, 0, data.length)
    w.finish()
    bos.toByteArray
  }

  private def readAll(in: java.io.InputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
    in.close()
    bos.toByteArray
  }

  private val payload: Array[Byte] = {
    val rnd = new scala.util.Random(42)
    // compressible-but-nontrivial: repeated vocabulary with random order
    (0 until 200000).map(_ => ("ACGT" * 4)(rnd.nextInt(16))).mkString.getBytes
  }

  test("looksLikeBgzf: true on BGZF, false on plain gzip, position unchanged") {
    val b = bgzf(payload)
    val pbB = new PushbackInputStream(new ByteArrayInputStream(b), 512)
    assert(Bgzf.looksLikeBgzf(pbB))
    // the sniff must not consume anything: a full BGZF decode still works
    assert(readAll(new BgzfStreamInputStream(pbB)).sameElements(payload))

    val g = gzip(payload)
    val pbG = new PushbackInputStream(new ByteArrayInputStream(g), 512)
    assert(!Bgzf.looksLikeBgzf(pbG))
    assert(readAll(new MultiMemberGzipInputStream(pbG)).sameElements(payload))
  }

  test("looksLikeBgzf: short/empty streams are not-BGZF and stay readable") {
    for (n <- Seq(0, 3, 11)) {
      val head = gzip(payload).take(n)
      val pb = new PushbackInputStream(new ByteArrayInputStream(head), 512)
      assert(!Bgzf.looksLikeBgzf(pb))
      assert(readAll(pb).sameElements(head), s"sniff consumed bytes at n=$n")
    }
  }

  test("looksLikeBgzf: BC anywhere in the extra field; implausible BSIZE is not BGZF") {
    // re-frame the first block with a foreign subfield ahead of BC (XLEN 12,
    // BSIZE grown by the 6 extra bytes): still BGZF, still decodable
    val b = bgzf(payload)
    val bsize = ((b(16) & 0xff) | ((b(17) & 0xff) << 8)) + 1
    val extra = Array[Byte]('X', 'Y', 2, 0, 0, 0, 'B', 'C', 2, 0,
      ((bsize + 5) & 0xff).toByte, (((bsize + 5) >> 8) & 0xff).toByte)
    val head = b.take(10) ++ Array[Byte](12, 0) ++ extra
    val reframed = head ++ b.slice(18, b.length)
    val pb = new PushbackInputStream(new ByteArrayInputStream(reframed), Bgzf.SniffBytes)
    assert(Bgzf.looksLikeBgzf(pb))
    assert(readAll(new BgzfStreamInputStream(pb)).sameElements(payload))

    // a BC subfield whose BSIZE cannot hold the block's own framing
    val tiny = b.take(16) ++ Array[Byte](5, 0) ++ b.drop(18)
    val pbT = new PushbackInputStream(new ByteArrayInputStream(tiny), Bgzf.SniffBytes)
    assert(!Bgzf.looksLikeBgzf(pbT))
    assert(readAll(pbT).sameElements(tiny), "sniff consumed bytes")
  }

  test("async pipe serves byte-identical data for every wrapped codec") {
    val g = gzip(payload)
    val piped = AsyncChunkedInputStream.wrap(
      new MultiMemberGzipInputStream(
        new PushbackInputStream(new ByteArrayInputStream(g), 512)))
    assert(readAll(piped).sameElements(payload))
    // Codecs.wrap dispatch: BGZF content under a .gz name takes the block
    // reader; plain gzip under the same name takes the sequential pipe —
    // both must serve identical bytes
    val viaWrapBgzf = Codecs.wrap("x.fasta.gz",
      new ByteArrayInputStream(bgzf(payload)))
    assert(readAll(viaWrapBgzf).sameElements(payload))
    val viaWrapGz = Codecs.wrap("x.fasta.gz",
      new ByteArrayInputStream(gzip(payload)))
    assert(readAll(viaWrapGz).sameElements(payload))
  }

  test("async pipe propagates producer failure to the consumer read") {
    val g = gzip(payload)
    val truncated = g.take(g.length / 2) // mid-stream EOF inside deflate
    val piped = AsyncChunkedInputStream.wrap(
      new MultiMemberGzipInputStream(
        new PushbackInputStream(new ByteArrayInputStream(truncated), 512)))
    val e = intercept[Exception] { readAll(piped) }
    assert(e.isInstanceOf[java.io.IOException] ||
      e.isInstanceOf[RuntimeException], e.toString)
  }

  test("async pipe close() while the producer is parked on a full queue") {
    val g = gzip(payload)
    val piped = AsyncChunkedInputStream.wrap(
      new MultiMemberGzipInputStream(
        new PushbackInputStream(new ByteArrayInputStream(g), 512)))
    piped.read() // ensure the producer started
    piped.close() // must not hang
  }
}
