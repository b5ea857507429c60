package graft.sources

/** Scripted fake transport for tests: URL → response, with request capture. */
class FakeHttpTransport(responses: PartialFunction[String, HttpResult]) extends HttpTransport {
  var requests: Vector[(String, Map[String, String])] = Vector.empty

  def get(url: String, headers: Map[String, String]): HttpResult = {
    requests :+= ((url, headers))
    if (responses.isDefinedAt(url)) responses(url)
    else HttpResult(404, s"""{"error": "no fake response for $url"}""", Map.empty)
  }
}
