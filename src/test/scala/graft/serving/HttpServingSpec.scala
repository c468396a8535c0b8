package graft.serving

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

/** The shared guarded-POST route: a handler that throws answers 500
  * Internal Server Error with the exception's class name, and the route
  * keeps serving afterwards.
  */
class HttpServingSpec extends AnyFunSuite {

  test("a handler exception answers 500, not 501, and the route stays up") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    HttpServing.guardedPost(server, "/boom", maxBodyBytes = 1024,
      new HttpServing.TokenBucket(1000), bytes =>
        if (bytes.isEmpty) throw new IllegalStateException("handler failed")
        else (200, """{"ok":true}"""))
    server.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String) = client.send(
        HttpRequest.newBuilder(
            new URI(s"http://127.0.0.1:${server.getAddress.getPort}/boom"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val failed = post("")
      assert(failed.statusCode() == 500, failed.body())
      assert(failed.body() == """{"error":"IllegalStateException"}""")
      assert(post("x").statusCode() == 200)
    } finally server.stop(0)
  }
}
