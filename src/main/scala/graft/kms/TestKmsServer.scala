package graft.kms

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import graft.crypto.PrivilegeLevel
import javax.crypto.Cipher
import javax.crypto.spec.SecretKeySpec
import javax.net.ssl.SSLContext

/** In-process KMS, wire-compatible with the reference server
  * (kms_server.py): POST /api/v1/wrap/{kekId} and /api/v1/unwrap/{kekId}
  * with body {"key": "<base64>"}, optional x-api-key header, responses
  * {"key": "<base64>"}, 403 on insufficient privilege, 422 on validation
  * or unwrap failure. AES KeyWrap (RFC 3394) via JCE "AESWrap" matches the
  * reference's cryptography.aes_key_wrap (kms_server.py:138,151).
  *
  * The KMS is an external trust boundary, not part of the engine
  * (SURVEY.md §3.3); this implementation exists so tests and the
  * encrypted-roundtrip query are self-contained. The reference's own
  * server is a drop-in replacement.
  */
final class TestKmsServer(port: Int = 0, ssl: Option[SSLContext] = None) {

  /** Hardcoded demo KEKs — same values as kms_server.py:29-32. */
  private val keks: Map[String, Array[Byte]] = Map(
    "PUBLIC"       -> "960f87a5e2eb7d07e67892cbdd60d94053d43f3c26e2bca1c52a6efd3572b8d0",
    "INTERNAL"     -> "fb0d234a0b650ca3382bb7f481db2f96c7bccaf66f99b9160811c1cacb3f616d",
    "CONFIDENTIAL" -> "efdbe2afc153a13dae44b7415c4ef0d08cc1eaec75f5029220ec738141090bf2",
    "RESTRICTED"   -> "ab4ae72b44fc91c8c2b5e559855a5eded40595ce423cde6b6435e2821da72c44"
  ).map { case (k, v) => k -> hexToBytes(v) }

  private val mapper = new ObjectMapper()
  // With an SSLContext the server speaks HTTPS — the reference runs plain
  // HTTP (kms_server.py:166); TLS here exists to exercise the client's
  // trust path (HttpKmsClient SSL_CERT_FILE support).
  private val server = ssl match {
    case Some(ctx) =>
      val s = HttpsServer.create(new InetSocketAddress("127.0.0.1", port), 0)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
  @volatile private var wrapCalls = 0
  @volatile private var unwrapCalls = 0
  @volatile private var deniedCalls = 0

  server.createContext("/api/v1/", handle _)
  // Daemon worker pool: a running KMS must never block JVM exit (Bench and
  // Verify run in forked JVMs that exit when main returns; the shared
  // instance below is started once and deliberately never stopped).
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "test-kms-worker")
    t.setDaemon(true)
    t
  }))

  /** Starts the server from an ephemeral daemon thread so the JDK's
    * HTTP-Dispatcher thread (which inherits daemon status from its
    * creator) is daemon too.
    */
  def start(): TestKmsServer = {
    val t = new Thread(() => server.start(), "test-kms-starter")
    t.setDaemon(true)
    t.start()
    t.join()
    this
  }
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort
  def url: String =
    s"${if (ssl.isDefined) "https" else "http"}://127.0.0.1:$boundPort"
  def counts: (Int, Int) = (wrapCalls, unwrapCalls)
  /** Unwraps refused for insufficient privilege (HTTP 403). */
  def denied: Int = deniedCalls

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/")
      val parts = path.split("/")
      if (ex.getRequestMethod != "POST" || parts.length != 2)
        return respond(ex, 404, """{"detail":"Not Found"}""")
      val (op, kekId) = (parts(0), parts(1))
      val kekLevel = PrivilegeLevel.fromName(kekId).getOrElse(
        return respond(ex, 422, """{"detail":"unknown wrapping key"}"""))
      val kek = keks(kekId)
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val keyB64 = parseStrictKeyBody(body).getOrElse(
        return respond(ex, 422, """{"detail":"invalid request body"}"""))
      val keyBytes =
        try Base64.getDecoder.decode(keyB64)
        catch { case _: IllegalArgumentException =>
          return respond(ex, 422, """{"detail":"invalid base64"}""") }
      // Validation mirrors kms_server.py:52-79,92-101: multiple of 8 bytes;
      // >= 16 for wrap (min AES key), >= 24 for unwrap (RFC 3394 adds an
      // 8-byte integrity block).
      if (keyBytes.length % 8 != 0)
        return respond(ex, 422, """{"detail":"key length not multiple of 8"}""")
      op match {
        case "wrap" =>
          if (keyBytes.length < 16)
            return respond(ex, 422, """{"detail":"key too short"}""")
          wrapCalls += 1
          val c = Cipher.getInstance("AESWrap")
          c.init(Cipher.WRAP_MODE, new SecretKeySpec(kek, "AES"))
          val wrapped = c.wrap(new SecretKeySpec(keyBytes, "AES"))
          respondKey(ex, 200, wrapped)
        case "unwrap" =>
          val token = Option(ex.getRequestHeaders.getFirst("x-api-key"))
            .flatMap(PrivilegeLevel.fromName)
          // Missing header => None (auto_error=False, kms_server.py:132);
          // an unknown token name is treated as no privilege.
          if (!PrivilegeLevel.mayUnwrap(kekLevel, token)) {
            deniedCalls += 1
            return respond(ex, 403, """{"detail":"insufficient privilege"}""")
          }
          if (keyBytes.length < 24)
            return respond(ex, 422, """{"detail":"wrapped key too short"}""")
          unwrapCalls += 1
          try {
            val c = Cipher.getInstance("AESWrap")
            c.init(Cipher.UNWRAP_MODE, new SecretKeySpec(kek, "AES"))
            val key = c.unwrap(keyBytes, "AES", Cipher.SECRET_KEY)
            respondKey(ex, 200, key.getEncoded)
          } catch {
            // Tampered/garbage ciphertext => 422, like kms_server.py:152-156.
            case _: java.security.GeneralSecurityException =>
              respond(ex, 422, """{"detail":"invalid wrapped key"}""")
          }
        case _ => respond(ex, 404, """{"detail":"Not Found"}""")
      }
    } finally ex.close()

  /** Strict body parse: exactly {"key": <string>} — unknown or missing
    * fields rejected (model config kms_server.py:44-49, extra="forbid").
    */
  private def parseStrictKeyBody(body: String): Option[String] =
    try {
      val node = mapper.readTree(body)
      if (!node.isObject) return None
      val obj = node.asInstanceOf[ObjectNode]
      val names = obj.fieldNames()
      var only = List.empty[String]
      while (names.hasNext) only ::= names.next()
      if (only != List("key") || !obj.get("key").isTextual) None
      else Some(obj.get("key").asText())
    } catch { case _: Exception => None }

  private def respondKey(ex: HttpExchange, code: Int, key: Array[Byte]): Unit =
    respond(ex, code, s"""{"key":"${Base64.getEncoder.encodeToString(key)}"}""")

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def hexToBytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}

/** Standalone entry point mirroring `mise run serve` (port 8001,
  * kms_server.py:166).
  */
object TestKmsServer {
  /** One JVM-wide KMS for library queries (CryptoParity): starting a
    * fresh server + re-establishing client connections per query was pure
    * fixed overhead in round 1's bench (the q24 trio spent ~200 s on it
    * under the driver). Daemon threads, so it never blocks JVM exit.
    */
  lazy val shared: TestKmsServer = new TestKmsServer().start()

  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 8001
    val s = new TestKmsServer(port).start()
    println(s"KMS listening on ${s.url}")
    Thread.currentThread.join()
  }
}
