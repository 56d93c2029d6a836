package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Sources

/** S1 — the HTTP JSON extract driven through an injected transport (no
  * network): landing shape, retry schedule, exhaustion, non-JSON wrap,
  * query-param encoding, and the glue into the S4 multi-file JSON scan
  * (the engine boundary the landed files feed).
  * Reference behavior: ETL_Multi_Lvl_API/extract.py:68-121,
  * ETL_Weather_API/extract.py:18-40. */
class FetchSpec extends SparkSpec {

  private def tmp = Files.createTempDirectory("graft-fetch").toString

  private val weatherBody =
    """{"city": "hyderabad", "hourly": {"temperature_2m": [31.5, 32.0]}}"""

  test("happy path: params encode into the URL, body lands as <key>_<8hex>_raw_<ts>.json") {
    val dir = tmp
    var seen: List[String] = Nil
    val transport = (url: String, _: Int) => { seen ::= url; weatherBody }
    val res = Sources.fetchJsonToRaw(
      Seq(("New Delhi", "http://x.test/v1/latest",
        Map("city" -> "New Delhi", "limit" -> "100"))),
      dir, transport = transport)
    assert(res.map(r => (r.key, r.success)) == Seq(("New Delhi", true)))
    // params URL-encoded, deterministic (name-sorted) order
    assert(seen == List("http://x.test/v1/latest?city=New+Delhi&limit=100"))
    val path = res.head.rawPath.get
    assert(path.matches(".*/new_delhi_[0-9a-f]{8}_raw_\\d{8}T\\d{6}Z\\.json$"),
      s"landed name must follow the raw-layer convention: $path")
    // valid JSON bodies land VERBATIM
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(
      path.stripPrefix("file:"))), "UTF-8") == weatherBody)
  }

  test("retry: 2^(n-1)-second backoff between attempts, success on the third") {
    val dir = tmp
    var calls = 0
    var sleeps: List[Long] = Nil
    val flaky = (_: String, _: Int) => {
      calls += 1
      if (calls < 3) throw new java.io.IOException(s"boom $calls")
      weatherBody
    }
    val res = Sources.fetchJsonToRaw(Seq(("d", "http://x.test/f", Map.empty)),
      dir, transport = flaky, maxRetries = 3, sleep = ms => sleeps ::= ms)
    assert(res.head.success && calls == 3)
    assert(sleeps.reverse == List(1000L, 2000L), "exponential backoff schedule")
  }

  test("exhausted retries: failed key reports its error, later keys still fetch") {
    val dir = tmp
    val transport = (url: String, _: Int) =>
      if (url.contains("bad")) throw new java.io.IOException("HTTP 503")
      else weatherBody
    val res = Sources.fetchJsonToRaw(
      Seq(("bad", "http://x.test/bad", Map.empty),
        ("good", "http://x.test/good", Map.empty)),
      dir, transport = transport, maxRetries = 2, sleep = _ => ())
    assert(res.map(r => (r.key, r.success)) == Seq(("bad", false), ("good", true)))
    assert(res.head.rawPath.isEmpty && res.head.error.exists(_.contains("503")))
    assert(res(1).rawPath.nonEmpty)
  }

  test("non-JSON body wraps as {\"raw_text\": ...} so the raw layer stays scannable") {
    val dir = tmp
    val res = Sources.fetchJsonToRaw(Seq(("h", "http://x.test/h", Map.empty)),
      dir, transport = (_, _) => "<html>not json</html>")
    val landed = new String(Files.readAllBytes(java.nio.file.Paths.get(
      res.head.rawPath.get.stripPrefix("file:"))), "UTF-8")
    assert(landed == """{"raw_text":"<html>not json</html>"}""")
  }

  test("trailing-garbage body takes the raw_text wrap path, not the verbatim path (r20 ADVICE)") {
    val dir = tmp
    // readTree without FAIL_ON_TRAILING_TOKENS would accept this as
    // valid JSON and land it verbatim — breaking the 'raw layer is
    // always valid JSON for the multiLine scan' contract
    val res = Sources.fetchJsonToRaw(Seq(("t", "http://x.test/t", Map.empty)),
      dir, transport = (_, _) => """{"a":1}garbage""")
    val landed = new String(Files.readAllBytes(java.nio.file.Paths.get(
      res.head.rawPath.get.stripPrefix("file:"))), "UTF-8")
    assert(landed == """{"raw_text":"{\"a\":1}garbage"}""")
    assert(spark.read.option("multiLine", true)
      .json(res.head.rawPath.get).count() == 1)
  }

  test("path-separator keys sanitize into the raw layer, never out of it (r20 ADVICE)") {
    val dir = tmp
    val res = Sources.fetchJsonToRaw(
      Seq(("a/b", "http://x.test/1", Map.empty),
        ("../escape", "http://x.test/2", Map.empty)),
      dir, transport = (_, _) => weatherBody)
    assert(res.forall(_.success))
    res.foreach { r =>
      val p = r.rawPath.get
      val parent = java.nio.file.Paths.get(p.stripPrefix("file:"))
        .getParent.toAbsolutePath.normalize.toString
      assert(parent == java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString,
        s"landed file must stay inside rawDir: $p")
    }
    assert(res.map(_.rawPath.get).distinct.size == 2)
  }

  test("glue: landed files feed the S4 multi-file JSON scan") {
    val dir = tmp
    // distinct keys → distinct filenames even within one timestamp second
    val res = Sources.fetchJsonToRaw(
      Seq(("delhi", "http://x.test/a", Map.empty),
        ("mumbai", "http://x.test/b", Map.empty)),
      dir, transport = (url, _) =>
        s"""{"city": "${url.last}", "aqi": ${url.length}}""")
    assert(res.forall(_.success))
    val scanned = spark.read.option("multiLine", true).json(s"$dir/*_raw_*.json")
    assert(scanned.count() == 2)
    assert(scanned.select(countDistinct(col("city"))).head().getLong(0) == 2)
  }
}
