package graft.tools

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process S3 server speaking the public S3 REST API (path-style), used
  * to exercise the live HTTP object-store path without external jars or
  * network egress: GET (with `Range`), HEAD, PUT (object + `x-amz-copy-source`
  * server-side copy), DELETE, ListObjectsV2 (`?list-type=2` with prefix /
  * delimiter / continuation-token / max-keys) and multipart upload
  * (`?uploads` / `?partNumber&uploadId` / complete). The reference validates
  * the same surface against localstack (exon-core/tests/sqllogictests/slt/
  * fasta-scan-s3-tests.slt, cram-remote-tests.slt); this is the sandbox
  * equivalent. Keys live in a ConcurrentHashMap with their put time, which
  * LIST reports as `LastModified` and HEAD as `Last-Modified`; a request
  * log records (method, path, range) so tests can assert seek behavior.
  */
final class MiniS3 {
  private val objects = new ConcurrentHashMap[String, MiniS3.Stored]() // "bucket/key" -> object
  private val uploads = new ConcurrentHashMap[String, ConcurrentHashMap[Int, Array[Byte]]]()
  private val uploadKey = new ConcurrentHashMap[String, String]() // uploadId -> "bucket/key"
  private val nextUpload = new AtomicLong(1)
  val requests = new java.util.concurrent.CopyOnWriteArrayList[(String, String, Option[String])]()
  /** Authorization header of each request when auth is on ("" if absent). */
  val authHeaders = new java.util.concurrent.CopyOnWriteArrayList[String]()
  private var authCreds: Option[(String, String, String)] = None // access, secret, region

  /** Require AWS SigV4 on every request, verified against these static
    * credentials (like localstack/MinIO with auth enabled). The verifier
    * recanonicalizes from the raw received request per the public signing
    * spec and also checks the payload against x-amz-content-sha256.
    */
  def withAuth(accessKey: String, secretKey: String,
      region: String = "us-east-1"): MiniS3 = {
    authCreds = Some((accessKey, secretKey, region))
    this
  }

  /** Serve every GET as 200 + full body, ignoring `Range` — the
    * misbehaving-proxy shape the client's positioned reads must survive
    * without going quadratic (S3HttpFileSystem fallback stream).
    */
  def withIgnoredRanges(): MiniS3 = { ignoreRange = true; this }
  private var ignoreRange = false

  private var server: HttpServer = _
  def port: Int = server.getAddress.getPort
  def endpoint: String = s"http://127.0.0.1:$port"

  /** Store an object, stamped `modified` (epoch ms; the put time by
    * default), kept in whole seconds as S3 reports it.
    */
  def put(bucket: String, key: String, bytes: Array[Byte],
      modified: Long = System.currentTimeMillis()): Unit =
    store(s"$bucket/$key", bytes, modified)
  def get(bucket: String, key: String): Option[Array[Byte]] =
    Option(objects.get(s"$bucket/$key")).map(_.bytes)

  private def store(full: String, bytes: Array[Byte],
      modified: Long = System.currentTimeMillis()): Unit =
    objects.put(full, MiniS3.Stored(bytes, modified / 1000 * 1000))
  def keys(bucket: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala.toSeq.filter(_.startsWith(bucket + "/"))
      .map(_.stripPrefix(bucket + "/")).sorted
  }

  def start(): MiniS3 = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", handle _)
    // Daemon threads: a forgotten stop() must never pin the host JVM open
    // (HttpServer.stop does not shut down a user-supplied executor).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      r => { val t = new Thread(r, "minis3-handler"); t.setDaemon(true); t }))
    server.start()
    this
  }

  def stop(): Unit = if (server != null) {
    val ex = server.getExecutor
    server.stop(0)
    ex match {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow()
      case _ =>
    }
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def queryMap(ex: HttpExchange): Map[String, String] = {
    val q = ex.getRequestURI.getRawQuery
    if (q == null) Map.empty
    else q.split("&").toSeq.map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> ""
      else java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
        java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap
  }

  private def send(ex: HttpExchange, code: Int, body: Array[Byte],
      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    if (ex.getRequestMethod == "HEAD") {
      // HttpServer requires -1 for bodyless; advertise the real length ourselves
      ex.getResponseHeaders.set("Content-Length", body.length.toString)
      ex.sendResponseHeaders(code, -1)
    } else {
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    }
    ex.close()
  }

  private def notFound(ex: HttpExchange): Unit =
    send(ex, 404, "<Error><Code>NoSuchKey</Code></Error>".getBytes(StandardCharsets.UTF_8))

  /** SigV4 verification: parse the Authorization header, recompute the
    * signature from the raw request (method, raw path/query, the signed
    * headers' received values), and check the payload hash claim.
    */
  private def verifyAuth(ex: HttpExchange): Boolean = authCreds match {
    case None => true
    case Some((ak, sk, reg)) =>
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      authHeaders.add(auth)
      val credRe = "Credential=([^/]+)/(\\d{8})/([^/]+)/s3/aws4_request".r
      val shRe = "SignedHeaders=([^,\\s]+)".r
      val sigRe = "Signature=([0-9a-f]{64})".r
      (for {
        _ <- Option.when(auth.startsWith("AWS4-HMAC-SHA256"))(())
        c <- credRe.findFirstMatchIn(auth)
        sh <- shRe.findFirstMatchIn(auth)
        sig <- sigRe.findFirstMatchIn(auth)
        if c.group(1) == ak && c.group(3) == reg
        amzDate <- Option(ex.getRequestHeaders.getFirst("x-amz-date"))
        if amzDate.take(8) == c.group(2)
        payloadHash <- Option(ex.getRequestHeaders.getFirst("x-amz-content-sha256"))
      } yield {
        // read the body once for hash verification, then re-install it for
        // the downstream handlers
        val body = ex.getRequestBody.readAllBytes()
        ex.setStreams(new java.io.ByteArrayInputStream(body), null)
        val bodyOk = payloadHash == graft.sources.s3.SigV4.UnsignedPayload ||
          payloadHash == graft.sources.s3.SigV4.sha256Hex(body)
        val signedNames = sh.group(1).split(";").toSeq
        val hdrs = collection.immutable.SortedMap(signedNames.map(n =>
          n -> Option(ex.getRequestHeaders.getFirst(n)).getOrElse("")): _*)
        val scope = s"${c.group(2)}/$reg/s3/aws4_request"
        val cr = graft.sources.s3.SigV4.canonicalRequest(
          ex.getRequestMethod,
          Option(ex.getRequestURI.getRawPath).filter(_.nonEmpty).getOrElse("/"),
          ex.getRequestURI.getRawQuery, hdrs, payloadHash)
        val expect = graft.sources.s3.SigV4.hex(graft.sources.s3.SigV4.hmac(
          graft.sources.s3.SigV4.signingKey(sk, c.group(2), reg),
          graft.sources.s3.SigV4.stringToSign(amzDate, scope, cr)))
        bodyOk && expect == sig.group(1)
      }).getOrElse(false)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripPrefix("/")
    val range = Option(ex.getRequestHeaders.getFirst("Range"))
    requests.add((ex.getRequestMethod, path, range))
    if (!verifyAuth(ex)) {
      send(ex, 403,
        "<Error><Code>SignatureDoesNotMatch</Code></Error>"
          .getBytes(StandardCharsets.UTF_8))
      return
    }
    val slash = path.indexOf('/')
    val bucket = if (slash < 0) path else path.take(slash)
    val key = if (slash < 0) "" else path.drop(slash + 1)
    val q = queryMap(ex)
    ex.getRequestMethod match {
      case "GET" if key.isEmpty || q.contains("list-type") => list(ex, bucket, q)
      case "GET" => getObject(ex, s"$bucket/$key", range)
      case "HEAD" => Option(objects.get(s"$bucket/$key")) match {
        case Some(o) => // send() strips the body for HEAD
          send(ex, 200, o.bytes, Map("Last-Modified" -> MiniS3.httpDate(o.modified)))
        case None => notFound(ex)
      }
      case "PUT" if q.contains("partNumber") && q.contains("uploadId") =>
        val parts = uploads.get(q("uploadId"))
        if (parts == null) notFound(ex)
        else {
          parts.put(q("partNumber").toInt, ex.getRequestBody.readAllBytes())
          send(ex, 200, Array.empty, Map("ETag" -> s""""part-${q("partNumber")}""""))
        }
      case "PUT" =>
        Option(ex.getRequestHeaders.getFirst("x-amz-copy-source")) match {
          case Some(src0) =>
            val src = java.net.URLDecoder.decode(src0.stripPrefix("/"), "UTF-8")
            Option(objects.get(src)) match {
              case Some(o) =>
                store(s"$bucket/$key", o.bytes)
                send(ex, 200,
                  "<CopyObjectResult><ETag>\"copy\"</ETag></CopyObjectResult>"
                    .getBytes(StandardCharsets.UTF_8))
              case None => notFound(ex)
            }
          case None =>
            store(s"$bucket/$key", ex.getRequestBody.readAllBytes())
            send(ex, 200, Array.empty, Map("ETag" -> "\"put\""))
        }
      case "POST" if q.contains("uploads") =>
        val id = s"upload-${nextUpload.getAndIncrement()}"
        uploads.put(id, new ConcurrentHashMap[Int, Array[Byte]]())
        uploadKey.put(id, s"$bucket/$key")
        send(ex, 200,
          s"""<InitiateMultipartUploadResult><Bucket>${xmlEscape(bucket)}</Bucket>
             |<Key>${xmlEscape(key)}</Key><UploadId>$id</UploadId>
             |</InitiateMultipartUploadResult>""".stripMargin.getBytes(StandardCharsets.UTF_8))
      case "POST" if q.contains("uploadId") =>
        val id = q("uploadId")
        val parts = uploads.remove(id)
        val dest = uploadKey.remove(id)
        if (parts == null || dest == null) notFound(ex)
        else {
          import scala.jdk.CollectionConverters._
          // real S3 rejects a complete whose ETags don't match UploadPart's
          // responses; validate so clients that fabricate ETags fail here too.
          // Parse <Part> elements instead of matching one exact serialization
          // — spec-compliant clients vary whitespace/element order/quoting.
          val xml = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val partRe = "(?s)<Part>(.*?)</Part>".r
          val numRe = "(?s)<PartNumber>\\s*(\\d+)\\s*</PartNumber>".r
          val etagRe = "(?s)<ETag>\\s*(?:&quot;|\")?([^<\"&]*)(?:&quot;|\")?\\s*</ETag>".r
          val claimed: Map[Int, String] = partRe.findAllMatchIn(xml).flatMap { m =>
            for {
              n <- numRe.findFirstMatchIn(m.group(1)).map(_.group(1).toInt)
              t <- etagRe.findFirstMatchIn(m.group(1)).map(_.group(1))
            } yield n -> t
          }.toMap
          val badPart = parts.asScala.keys.find(n =>
            !claimed.get(n).contains(s"part-$n"))
          if (badPart.isDefined) {
            send(ex, 400,
              s"""<Error><Code>InvalidPart</Code><Message>part ${badPart.get} ETag mismatch</Message></Error>"""
                .getBytes(StandardCharsets.UTF_8))
            return
          }
          val ordered = parts.asScala.toSeq.sortBy(_._1).map(_._2)
          val out = new java.io.ByteArrayOutputStream()
          ordered.foreach(out.write)
          store(dest, out.toByteArray)
          send(ex, 200,
            s"""<CompleteMultipartUploadResult><Key>${xmlEscape(dest)}</Key>
               |<ETag>"mpu"</ETag></CompleteMultipartUploadResult>"""
              .stripMargin.getBytes(StandardCharsets.UTF_8))
        }
      case "DELETE" =>
        objects.remove(s"$bucket/$key")
        send(ex, 204, Array.empty)
      case _ => send(ex, 405, Array.empty)
    }
  } catch {
    case e: Throwable =>
      try send(ex, 500, String.valueOf(e).getBytes(StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
  }

  private def getObject(ex: HttpExchange, full: String, range: Option[String]): Unit =
    Option(objects.get(full)).map(_.bytes) match {
      case None => notFound(ex)
      case Some(b) =>
        (if (ignoreRange) None else range) match {
          case Some(r) if r.startsWith("bytes=") =>
            val spec = r.stripPrefix("bytes=")
            val dash = spec.indexOf('-')
            val from = spec.take(dash).toLong
            val to =
              if (dash == spec.length - 1) b.length - 1L
              else math.min(spec.drop(dash + 1).toLong, b.length - 1L)
            if (from >= b.length) send(ex, 416, Array.empty)
            else {
              val slice = java.util.Arrays.copyOfRange(b, from.toInt, to.toInt + 1)
              send(ex, 206, slice, Map(
                "Content-Range" -> s"bytes $from-$to/${b.length}",
                "Accept-Ranges" -> "bytes"))
            }
          case _ => send(ex, 200, b, Map("Accept-Ranges" -> "bytes"))
        }
    }

  /** ListObjectsV2 with prefix, '/' delimiter roll-up and continuation. */
  private def list(ex: HttpExchange, bucket: String, q: Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val prefix = q.getOrElse("prefix", "")
    val delimiter = q.get("delimiter").filter(_.nonEmpty)
    val maxKeys = q.get("max-keys").map(_.toInt).getOrElse(1000)
    val startAfter = q.get("continuation-token").orElse(q.get("start-after"))
    val all = objects.keySet().asScala.toSeq
      .filter(_.startsWith(s"$bucket/"))
      .map(_.stripPrefix(s"$bucket/"))
      .filter(_.startsWith(prefix))
      .sorted
    val after = startAfter match {
      case Some(t) => all.dropWhile(_ <= t)
      case None => all
    }
    val (contents, prefixes) = delimiter match {
      case Some(d) =>
        val direct = after.filter(k => !k.drop(prefix.length).contains(d))
        val rolled = after.filter(k => k.drop(prefix.length).contains(d))
          .map(k => prefix + k.drop(prefix.length).takeWhile(_ != d.head) + d)
          .distinct
        (direct, rolled)
      case None => (after, Seq.empty)
    }
    val page = contents.take(maxKeys)
    val truncated = contents.length > maxKeys
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<ListBucketResult><Name>").append(xmlEscape(bucket)).append("</Name>")
    sb.append("<Prefix>").append(xmlEscape(prefix)).append("</Prefix>")
    sb.append("<KeyCount>").append(page.length + prefixes.length).append("</KeyCount>")
    sb.append("<IsTruncated>").append(truncated).append("</IsTruncated>")
    if (truncated)
      sb.append("<NextContinuationToken>").append(xmlEscape(page.last))
        .append("</NextContinuationToken>")
    page.foreach { k =>
      val o = objects.get(s"$bucket/$k")
      sb.append("<Contents><Key>").append(xmlEscape(k)).append("</Key><Size>")
        .append(o.bytes.length).append("</Size><LastModified>")
        .append(java.time.Instant.ofEpochMilli(o.modified)).append("</LastModified></Contents>")
    }
    prefixes.foreach { p =>
      sb.append("<CommonPrefixes><Prefix>").append(xmlEscape(p))
        .append("</Prefix></CommonPrefixes>")
    }
    sb.append("</ListBucketResult>")
    send(ex, 200, sb.toString.getBytes(StandardCharsets.UTF_8),
      Map("Content-Type" -> "application/xml"))
  }
}

object MiniS3 {
  private final case class Stored(bytes: Array[Byte], modified: Long)

  /** An HTTP-date (RFC 1123), as S3 sends `Last-Modified`. */
  private def httpDate(ms: Long): String =
    java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
      java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC))
}

/** Standalone demo/dev entry: `runMain graft.tools.MiniS3Server [port]`. */
object MiniS3Server {
  def main(args: Array[String]): Unit = {
    val s3 = new MiniS3().start()
    println(s"MiniS3 listening on ${s3.endpoint} (path-style, anonymous)")
    Thread.currentThread().join()
  }
}
