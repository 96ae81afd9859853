package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow
import graft.queries.{MultimodalQueries, StreamQueries}

/** Crawl-tier composition spec: the streaming ingest equals the batch
  * funnel row-for-row, the response-payload relation is exactly the
  * HTTP-200 set and validated end-to-end, and the link extractor
  * fails loudly on href-less anchors.
  */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  test("q_stream_crawl equals q_crawl_funnel row-for-row") {
    val batch = MultimodalQueries.queries("q_crawl_funnel")(spark, sf001)
      .collect().map(_.toSeq)
    val stream = StreamQueries.queries("q_stream_crawl")(spark, sf001)
      .collect().map(_.toSeq)
    assert(batch.length == stream.length)
    batch.zip(stream).foreach { case (b, s) => assert(b == s) }
  }

  test("response relation carries exactly the 200 payloads, parseable as HTML") {
    val df = Seq(6L).toDF("doc_id") // m = 3 pairs -> 2 OK pages
    val warc = Multimodal.fixtures(df, "doc_id")(Multimodal.syntheticCrawlWarc)
    val resp = Multimodal.decode(warc)(Multimodal.decodeWarcResponses).as[MediaRow].collect()
    assert(resp.length == 2, s"expected 2 OK payloads, got ${resp.length}")
    resp.foreach { r =>
      val st = Multimodal.decodeHtml(Iterator(r)).next()
      assert(st.n_open == 3 && st.n_close == 3) // html, body, p
    }
  }

  test("a corrupted archive fails the payload walk via delegated validation") {
    val payload = Multimodal.syntheticCrawlWarc(3L).payload
    payload(0) = 0x00 // gzip magic
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeWarcResponses(
        Iterator(MediaRow(3L, "application/warc", payload))).toList)
    assert(e.getMessage.contains("gzip magic"))
  }

  test("loud failure: anchor without an href") {
    val html = "<html><body><a name=\"x\">t</a></body></html>"
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeHtmlLinks(
        Iterator(MediaRow(1L, "text/html", html.getBytes("UTF-8")))).toList)
    assert(e.getMessage.contains("without href"))
  }
}
