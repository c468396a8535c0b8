package graft.serving

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The wire scaffolding [[SearchService]] and [[HybridSearchService]]
  * share — ONE definition of the protective surface (POST-only → 405,
  * token-bucket admission → 429, declared-or-actual body overflow → 413,
  * anything thrown → 500) and of the JSON value escaping, so a fix to
  * any of them cannot silently miss one service (self-review r16 #4).
  */
private[graft] object HttpServing {

  // TCP_NODELAY for the JDK server's response writes. Without it a small
  // JSON response sits in the kernel behind Nagle until the peer's
  // delayed ACK (~40 ms) — measured r19: every endpoint's p95 pinned at
  // ~50 ms regardless of work, throughput = clients/0.05 exactly. The
  // property is read at ServerConfig class-init, which happens at the
  // first HttpServer.create — and every service constructs its
  // HttpServing.TokenBucket (loading this object) before start(), so
  // setting it here precedes any server in this JVM.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Continuously-refilled token bucket — the reference's
    * express-rate-limit window (searcher.js:125-127) smoothed to a
    * steady per-second budget. Thread-safe: handler threads race on it.
    */
  final class TokenBucket(maxPerSec: Int) {
    private var tokens: Double = maxPerSec.toDouble
    private var lastRefill: Long = System.nanoTime()
    def admit(): Boolean = synchronized {
      val now = System.nanoTime()
      tokens = math.min(maxPerSec.toDouble,
        tokens + (now - lastRefill) / 1e9 * maxPerSec)
      lastRefill = now
      if (tokens >= 1.0) { tokens -= 1.0; true } else false
    }
  }

  def jsonValue(v: Any): String = v match {
    case null                => "null"
    case s: String           =>
      "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""
    case f: Float            => f.toDouble.toString
    case n: java.lang.Number => n.toString
    case b: Boolean          => b.toString
    case other               => jsonValue(other.toString)
  }

  def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length.toLong)
    ex.getResponseBody.write(b)
    ex.close()
  }

  /** Register a guarded POST route: the method/admission/body-cap ladder
    * runs here; `handle` maps the capped body bytes to (status, json).
    * The declared Content-Length rejects cheap (before any read);
    * `readNBytes` caps the actual read even when the header lies.
    */
  def guardedPost(server: HttpServer, path: String, maxBodyBytes: Long,
                  bucket: TokenBucket,
                  handle: Array[Byte] => (Int, String)): Unit = {
    // readNBytes takes an Int: a cap at or past Int.MaxValue would
    // overflow `toInt + 1` and fail every request — fail at registration,
    // not per request (self-review r16 pass 2 #5)
    require(maxBodyBytes > 0 && maxBodyBytes < Int.MaxValue,
      s"maxBodyBytes $maxBodyBytes must be in (0, Int.MaxValue)")
    server.createContext(path, (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, """{"error":"POST only"}""")
        else if (!bucket.admit())
          respond(ex, 429, """{"error":"rate limit exceeded"}""")
        else {
          val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
            .flatMap(l => scala.util.Try(l.toLong).toOption)
          if (declared.exists(_ > maxBodyBytes))
            respond(ex, 413, """{"error":"body too large"}""")
          else {
            val bytes = ex.getRequestBody.readNBytes(maxBodyBytes.toInt + 1)
            if (bytes.length > maxBodyBytes)
              respond(ex, 413, """{"error":"body too large"}""")
            else {
              val (code, body) = handle(bytes)
              respond(ex, code, body)
            }
          }
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
  }
}
