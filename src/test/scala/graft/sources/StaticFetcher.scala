package graft.sources

/** Pre-fetched HTML for scraper tests: URL → page, failing on any other URL. */
final class StaticFetcher(content: Map[String, String]) extends ContentFetcher {
  def fetch(url: String): String = content.getOrElse(url,
    throw new RuntimeException(s"scraper: no content for $url"))
}
