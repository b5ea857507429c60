package graft.sources

import graft.core.Registries

/** Registration of the built-in extractors (the reference registers via
  * decorators at subpackage import; `Registries.bootstrap()` calls this).
  *
  * `playwright_scraper` requires a [[ContentFetcher]]; the registry wires a
  * URL-fetching default via [[JdkHttpTransport]] (tests construct
  * [[ScraperExtractor]] directly with the `StaticFetcher` in
  * `src/test/scala/graft/sources`).
  */
object Sources {
  @volatile private var done = false

  /** Test seam mirroring the reference's `patch("...httpx.Client")`: when
    * set, HTTP extractors resolved through the REGISTRY use this transport
    * instead of [[JdkHttpTransport]], so full Engine pipelines run
    * hermetically (the reference's mocked alpha_vantage → DB E2E).
    */
  @volatile var transportOverride: Option[HttpTransport] = None
  private def transport: HttpTransport = transportOverride.getOrElse(JdkHttpTransport)

  def register(): Unit = synchronized {
    if (done) return
    done = true
    Registries.extractors.register("json_file")((s, c) => new JsonFileExtractor(s, c))
    Registries.extractors.register("csv_file")((s, c) => new CsvFileExtractor(s, c))
    Registries.extractors.register("parquet_file")((s, c) => new ParquetFileExtractor(s, c))
    Registries.extractors.register("orc_file")((s, c) => new OrcFileExtractor(s, c))
    Registries.extractors.register("jsonl_file")((s, c) => new JsonlFileExtractor(s, c))
    Registries.extractors.register("rest_api")((s, c) =>
      new RestApiExtractor(s, c, transport, env = graft.core.EnvFile.get))
    Registries.extractors.register("alpha_vantage")((s, c) =>
      new AlphaVantageExtractor(s, c, transport, env = graft.core.EnvFile.get))
    Registries.extractors.register("playwright_scraper") { (s, c) =>
      new ScraperExtractor(s, c, (url: String) => transport.get(url, Map.empty).body)
    }
  }
}
