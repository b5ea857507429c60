package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.Extractor
import graft.core.PluginConfig._

/** Web-scrape source mirroring the reference's `playwright_scraper`
  * (`/root/reference/src/data_extractor/extractors/playwright_scraper.py:35-80`).
  *
  * Browser automation is orthogonal to the engine, so acquisition is a
  * pluggable [[ContentFetcher]] (any headless fetcher, or pre-fetched HTML in
  * tests — the reference never tests against a live browser either).
  *
  * Selectors accept BOTH shapes:
  *  - the reference's `selectors: [{name: ..., css: ...}]` list — CSS
  *    (tag/#id/.class + descendant combinator, via [[MiniHtml]]) extracting
  *    stripped `text_content`, exactly the reference semantics
  *    (`playwright_scraper.py:54-63`)
  *  - a plain string list (+ optional `column_names`): parsed as the CSS
  *    subset when it fits, else treated as a regex whose first capture group
  *    is the extracted text (engine-specific extension for non-CSS scraping)
  *
  * The reference's load-bearing contract is preserved either way: N selectors
  * → N columns, and ALL selectors must match the same element count or the
  * extract fails (`playwright_scraper.py:64-71`).
  */
trait ContentFetcher {
  def fetch(url: String): String
}

class ScraperExtractor(
    spark: SparkSession, conf: Conf,
    fetcher: ContentFetcher) extends Extractor {

  private val url = conf.str("url").getOrElse(
    throw new IllegalArgumentException("scraper: 'url' is required"))

  /** (column name, selector) pairs from either config shape. */
  private val selectorSpecs: Seq[(String, String)] = conf.get("selectors") match {
    case Some(s: Seq[_]) if s.nonEmpty && s.forall(_.isInstanceOf[Map[_, _]]) =>
      s.map { m =>
        val mm = m.asInstanceOf[Map[Any, Any]].map { case (k, v) => k.toString -> v }
        val name = mm.getOrElse("name",
          throw new IllegalArgumentException("scraper: selector entry missing 'name'")).toString
        val css = mm.getOrElse("css",
          throw new IllegalArgumentException("scraper: selector entry missing 'css'")).toString
        name -> css
      }
    case Some(s: Seq[_]) if s.nonEmpty =>
      val sels = s.map(String.valueOf)
      val names = conf.strSeq("column_names")
      val cols = if (names.nonEmpty) names else sels.indices.map(i => s"col_$i")
      require(cols.size == sels.size,
        "scraper: column_names must match selectors in length")
      cols.zip(sels)
    case _ => throw new IllegalArgumentException("scraper: 'selectors' is required")
  }

  private def columns = selectorSpecs.map(_._1)

  override def extract(): DataFrame = {
    val html = fetcher.fetch(url)
    lazy val dom = MiniHtml.parse(html)
    val extracted: Seq[Seq[String]] = selectorSpecs.map { case (_, sel) =>
      MiniHtml.parseSelector(sel) match {
        case Some(chain) => // reference semantics: stripped text_content
          MiniHtml.selectAll(dom, chain).map(e => MiniHtml.textContent(e).trim)
        case None => // regex-with-capture-group extension
          sel.r.findAllMatchIn(html).map(m =>
            if (m.groupCount >= 1) m.group(1) else m.matched).toSeq
      }
    }
    // equal-cardinality contract
    val counts = extracted.map(_.size).distinct
    if (counts.size > 1)
      throw new RuntimeException(
        s"scraper: selectors matched differing element counts: ${extracted.map(_.size).mkString(",")}")
    val n = counts.headOption.getOrElse(0)
    val rows = (0 until n).map(i => Row.fromSeq(extracted.map(_(i))))
    val schema = StructType(columns.map(c => StructField(c, StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
