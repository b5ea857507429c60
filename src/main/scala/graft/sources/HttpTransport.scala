package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse => JHttpResponse}
import java.time.Duration
import scala.jdk.CollectionConverters._

/** Pluggable HTTP layer so HTTP sources are testable hermetically — the same
  * seam the reference gets by mocking httpx in its tests. The engine is
  * zero-egress in CI; tests inject a scripted fake (`FakeHttpTransport` in
  * `src/test/scala/graft/sources`).
  */
final case class HttpResult(status: Int, body: String, headers: Map[String, String])

trait HttpTransport {
  def get(url: String, headers: Map[String, String]): HttpResult
}

/** Driver-side JDK HttpClient transport (production path). */
object JdkHttpTransport extends HttpTransport {
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30)).build()

  def get(url: String, headers: Map[String, String]): HttpResult = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), JHttpResponse.BodyHandlers.ofString())
    val hs = resp.headers().map().asScala.map { case (k, vs) =>
      k.toLowerCase -> vs.asScala.mkString(",")
    }.toMap
    HttpResult(resp.statusCode(), resp.body(), hs)
  }
}
