package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{EvmApi, Json, JsonParseException, RestServer}
import graft.evm.EvmDerive

/** End-to-end HTTP drive of the REST façade: the reference's routes,
  * wire field names, and 400/404 error mapping
  * (`src/api.rs:390-406`, `src/api_models.rs`, `src/models.rs`). */
class RestApiSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  override def afterAll(): Unit = server.stop()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val server = {
    val s = new RestServer(EvmApi.onFixtures(spark, sfDir), port = 0)
    s.start()
    s
  }
  private lazy val base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def obj(body: String): Map[String, Any] =
    Json.parse(body).asInstanceOf[Map[String, Any]]

  test("GET / returns the welcome page") {
    val (code, body) = get("/")
    assert(code == 200 && body.contains("EVM Indexer API"))
  }

  test("GET /stats returns the snake_case IndexerStats wire shape (api_models.rs:50-58)") {
    val (code, body) = get("/stats")
    assert(code == 200)
    val m = obj(body)
    assert(m.keySet == Set("total_blocks", "total_transactions", "total_logs",
      "last_synced_block", "ingestion_lag"))
    assert(m("total_blocks").asInstanceOf[Long] > 0)
    assert(m("ingestion_lag") == 3L)
  }

  test("GET /block/{identifier}: height, hash, 400 on bad syntax, 404 on absent") {
    val (code, body) = get("/block/42")
    assert(code == 200)
    val m = obj(body)
    assert(m("blockNumber") == 42L)
    assert(m.keySet == Set("blockNumber", "blockHash", "parentHash", "timestamp",
      "gasUsed", "gasLimit", "baseFeePerGas"), "MyBlock camelCase wire shape")
    // U256 gas fields arrive as decimal strings (init.sql:18-20),
    // populated — not the nulls of a lossy facade
    assert(m("gasUsed") == "147000" && m("gasLimit") == "30000000")
    assert(m("baseFeePerGas") == "5200000000")
    // same block by its 66-char hash
    val hash = m("blockHash").asInstanceOf[String]
    assert(hash.length == 66)
    val (c2, b2) = get(s"/block/$hash")
    assert(c2 == 200 && obj(b2)("blockNumber") == 42L)
    // 0x-prefixed but not a valid hash: 400, error wire shape; every
    // CLIENT error is "fail" (api.rs:52-56 is_client_error), not just 404
    val (c3, b3) = get("/block/0xnothex")
    assert(c3 == 400)
    assert(obj(b3).keySet == Set("status", "statusCode", "message"))
    assert(obj(b3)("statusCode") == 400L)
    assert(obj(b3)("status") == "fail", "4xx must report fail, not error")
    // well-formed but absent: 404 with "fail" status (api.rs:55-58)
    val (c4, b4) = get("/block/999999999")
    assert(c4 == 404 && obj(b4)("status") == "fail")
  }

  test("GET /transaction/{tx_hash}: found, 400 invalid, 404 missing") {
    val (code, body) = get(s"/transaction/${EvmDerive.txHashOf(3)}")
    assert(code == 200)
    val m = obj(body)
    assert(m.keySet == Set("txHash", "blockNumber", "blockHash", "transactionIndex",
      "fromAddress", "toAddress", "value", "gasPrice", "maxFeePerGas",
      "maxPriorityFeePerGas", "gas", "inputData", "status"), "MyTransaction wire shape")
    assert(m("value").asInstanceOf[String].nonEmpty)
    // tx 3 lives at index 3 in its block and is EIP-1559 (event 6 % 4
    // != 0): fee-cap fields populated, legacy gasPrice null
    assert(m("transactionIndex") == 3L)
    assert(m("maxFeePerGas").asInstanceOf[String].endsWith("000000000"))
    assert(m("maxPriorityFeePerGas").asInstanceOf[String].endsWith("000000000"))
    assert(m("gasPrice") == null)
    assert(m("inputData").asInstanceOf[String].startsWith("0x"))
    // tx 2 (event 4 % 4 == 0) is legacy: gasPrice populated
    val legacy = obj(get(s"/transaction/${EvmDerive.txHashOf(2)}")._2)
    assert(legacy("gasPrice").asInstanceOf[String].endsWith("000000000"))
    assert(get("/transaction/tooShort")._1 == 400)
    assert(get("/transaction/0x" + "0" * 64)._1 == 404)
  }

  test("POST /logs: filtered page with cursor, camelCase MyLog rows (models.rs:8-25)") {
    val (code, body) = post("/logs", """{"fromBlock":0,"toBlock":5,"pageSize":10}""")
    assert(code == 200)
    val m = obj(body)
    assert(m.keySet == Set("logs", "next_cursor_block", "next_cursor_log_id"))
    val logs = m("logs").asInstanceOf[List[Map[String, Any]]]
    assert(logs.length == 10)
    assert(logs.head.keySet == Set("logIndex", "transactionHash", "transactionIndex",
      "blockNumber", "blockHash", "address", "data", "topics"))
    assert(logs.forall(_("blockNumber").asInstanceOf[Long] <= 5))
    // transaction_index_in_block rides along (api.rs:119-121), not a
    // hardcoded null
    assert(logs.forall(l => (0L to 4L).contains(l("transactionIndex").asInstanceOf[Long])))
    // resume from the cursor: no overlap with the first page
    val cb = m("next_cursor_block").asInstanceOf[Long]
    val cl = m("next_cursor_log_id").asInstanceOf[Long]
    val (c2, b2) = post("/logs",
      s"""{"toBlock":5,"cursorBlock":$cb,"cursorLogId":$cl,"pageSize":10}""")
    assert(c2 == 200)
    val page2 = obj(b2)("logs").asInstanceOf[List[Map[String, Any]]]
    val ids1 = logs.map(l => (l("blockNumber"), l("logIndex"), l("transactionHash")))
    val ids2 = page2.map(l => (l("blockNumber"), l("logIndex"), l("transactionHash")))
    assert(ids1.toSet.intersect(ids2.toSet).isEmpty, "cursor page must not overlap")
  }

  test("POST /logs: limit alias, empty body defaults, malformed JSON is 400") {
    val (c1, b1) = post("/logs", """{"limit":3}""")
    assert(c1 == 200 && obj(b1)("logs").asInstanceOf[List[Any]].length == 3)
    val (c2, b2) = post("/logs", "")
    assert(c2 == 200 && obj(b2)("logs").asInstanceOf[List[Any]].length == 25,
      "empty body uses the default page size (api_models.rs:12-13)")
    val (cBad, bBad) = post("/logs", """{"fromBlock":""")
    assert(cBad == 400 && obj(bBad)("status") == "fail")
    assert(post("/logs", """{"fromBlock":"zero"}""")._1 == 400)
    // out-of-int-range paging must 400, not silently truncate
    assert(post("/logs", """{"page": 4294967297}""")._1 == 400,
      "2^32+1 page must not truncate to page 1")
    assert(post("/logs", """{"pageSize": 4294967396}""")._1 == 400)
  }

  test("unknown route is a 404 with the GenericErrorResponse shape") {
    val (code, body) = get("/nope")
    assert(code == 404)
    assert(obj(body).keySet == Set("status", "statusCode", "message"))
  }

  test("GET /api-docs/openapi.json parses and covers the five routes (docs.rs:6-42)") {
    val (code, body) = get("/api-docs/openapi.json")
    assert(code == 200)
    val doc = obj(body)
    assert(doc("openapi").asInstanceOf[String].startsWith("3."))
    val paths = doc("paths").asInstanceOf[Map[String, Any]].keySet
    assert(paths == Set("/", "/stats", "/logs", "/block/{identifier}",
      "/transaction/{tx_hash}"))
    val schemas = doc("components").asInstanceOf[Map[String, Any]]("schemas")
      .asInstanceOf[Map[String, Any]].keySet
    assert(Set("GetLogsFilter", "IndexerStats", "LogsResponse", "MyBlock",
      "MyTransaction", "MyLog", "GenericErrorResponse").subsetOf(schemas))
    assert(get("/swagger-ui")._1 == 200)
  }

  test("the /swagger-ui console drives a real POST /logs round-trip from its embedded example") {
    // The page is a generic OpenAPI driver: it renders a form per path
    // from /api-docs/openapi.json and fires fetch() with the textarea
    // body. No browser here, so assert the driver pieces are served,
    // then execute EXACTLY the request the console's Execute button
    // sends for /logs — its prefilled example body, its content type.
    val (code, page) = get("/swagger-ui")
    assert(code == 200)
    assert(page.contains("/api-docs/openapi.json"), "console must load the OpenAPI doc")
    assert(page.contains("fetch(url") && page.contains("Execute"),
      "console must contain the fetch driver, not a static link list")
    // the prefilled example for /logs, as embedded in the page's JS
    val example = "\\\"/logs\\\": '(.*?)'".r.findFirstMatchIn(page)
      .getOrElse(fail("console must prefill an example body for /logs"))
      .group(1).replace("\\n", "\n")
    val (postCode, body) = post("/logs", example)
    assert(postCode == 200, s"console round-trip failed: $body")
    val resp = obj(body)
    val logs = resp("logs").asInstanceOf[Seq[Any]]
    assert(logs.nonEmpty && logs.size <= 5, "pageSize:5 from the example must bound the page")
    assert(resp.contains("next_cursor_block"))
  }

  test("REST serves a live ChainStore while the ingester appends (main.rs:83-90 composition)") {
    import java.nio.file.Files
    import graft.ingest.{ChainStore, StreamingIngester}
    import graft.sources.SimChainSource
    val headFile = Files.createTempFile("rest-live-head", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 20, None)
    val storeDir = Files.createTempDirectory("rest-live-store").toString
    val store = new ChainStore(spark, storeDir, bucketSize = 10)
    val checkpoint = Files.createTempDirectory("rest-live-ckpt").toString
    val envelopes = spark.readStream.format("graft-simchain")
      .option("headFile", headFile).option("blocksPerBatch", 5).load()
    val query = StreamingIngester.start(envelopes, store, checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      query.processAllAvailable()
      // provider form: the facade re-reads the store per request, so
      // the server sees rows appended after it started
      val live = new RestServer(() => EvmApi.onStore(store).get, 0, 4)
      val port = live.start()
      def getLive(path: String): (Int, String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      try {
        assert(obj(getLive("/stats")._2)("total_blocks") == 21L)
        assert(obj(getLive("/block/5")._2)("blockNumber") == 5L)
        // chain advances while the server is up: the next request must
        // see the new blocks without a server restart
        SimChainSource.writeHeadFile(headFile, 30, None)
        query.processAllAvailable()
        assert(obj(getLive("/stats")._2)("total_blocks") == 31L)
        assert(obj(getLive("/block/28")._2)("blockNumber") == 28L)
      } finally live.stop()
    } finally query.stop()
  }

  test("adversarial HTTP pagination property: random-filter cursor walks lose nothing, duplicate nothing (api.rs:162-195)") {
    // The reference's core pagination claim — a keyset-cursor walk
    // visits exactly the filtered set, in order, no matter the filter
    // — proved OVER THE WIRE: every page is a real POST /logs through
    // the JSON parse, alias handling, and clamp, not a DataFrame call.
    // `Smoke` walks the DataFrame layer; this pins the HTTP layer to
    // the same contract.
    import graft.api.{GetLogsFilter, LogsQuery}
    import org.apache.spark.sql.functions.{col, max}
    val logs = EvmDerive.logs(spark, sfDir)
    // value pools sampled from the data (hits) plus a guaranteed miss
    val aRows = logs.select("contract_address").distinct().limit(3).collect()
    val addrs = aRows.map(_.getString(0)).toSeq :+ ("0x" + "ab" * 20)
    val topics = logs.select("topic0").where(col("topic0").isNotNull)
      .distinct().limit(2).collect().map(_.getString(0)).toSeq
    val maxBlock = logs.agg(max("block_number")).head().getLong(0)
    val rnd = new scala.util.Random(1234)

    def opt[T](v: => T): Option[T] = if (rnd.nextBoolean()) Some(v) else None

    // requested sizes straddle the clamp on both ends: 0 and -5 clamp
    // to 1, 1000 to 100 (api.rs:26,115)
    val sizes = Seq(0, 1, 3, 7, 25, 100, 1000, -5)

    def walkOnce(iter: Int): Unit = {
      val f = GetLogsFilter(
        fromBlock = opt(rnd.nextLong(maxBlock + 1)),
        toBlock = opt(rnd.nextLong(maxBlock + 1)),
        contractAddress = opt(addrs(rnd.nextInt(addrs.length))),
        topic0 = opt(topics(rnd.nextInt(topics.length))))
      val requested = sizes(rnd.nextInt(sizes.length))
      val effective = LogsQuery.clampPageSize(requested)
      // the page-size key alternates between the canonical name and
      // the serde alias — both must drive the same clamp
      val sizeKey = if (iter % 2 == 0) "pageSize" else "limit"

      // ground truth: the library's own predicate fold, UNbounded —
      // exactly what the walk must reassemble
      val expected = LogsQuery.predicates(f)
        .foldLeft(LogsQuery.projection(logs))(_.filter(_))
        .orderBy(col("block_number").asc, col("id").asc)
        .select("block_number", "transaction_hash", "log_index")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toVector

      def bodyJson(cb: Long, cl: Long): String = {
        val fields = Seq(
          f.fromBlock.map(v => s""""fromBlock":$v"""),
          f.toBlock.map(v => s""""toBlock":$v"""),
          // address goes through the reference's field name
          f.contractAddress.map(v => s""""address":"$v""""),
          f.topic0.map(v => s""""topic0":"$v""""),
          Some(s""""cursorBlock":$cb,"cursorLogId":$cl"""),
          Some(s""""$sizeKey":$requested""")).flatten
        fields.mkString("{", ",", "}")
      }

      var walked = Vector.empty[(Long, String, Long)]
      var cb = -1L
      var cl = -1L
      var done = false
      var pages = 0
      while (!done) {
        val (code, body) = post("/logs", bodyJson(cb, cl))
        assert(code == 200, s"walk $iter page $pages failed: $body")
        val m = obj(body)
        val page = m("logs").asInstanceOf[List[Map[String, Any]]]
        assert(page.length <= effective,
          s"page exceeds the clamped size ($requested -> $effective)")
        walked ++= page.map(l => (l("blockNumber").asInstanceOf[Long],
          l("transactionHash").asInstanceOf[String],
          l("logIndex").asInstanceOf[Long]))
        pages += 1
        assert(pages <= expected.length + 2, s"walk $iter did not terminate")
        if (page.length < effective) done = true
        else {
          cb = m("next_cursor_block").asInstanceOf[Long]
          cl = m("next_cursor_log_id").asInstanceOf[Long]
        }
      }
      assert(walked == expected,
        s"walk $iter ($sizeKey=$requested, filter=$f): HTTP walk visited " +
          s"${walked.length} rows vs ${expected.length} expected " +
          s"(dups: ${walked.length - walked.distinct.length})")
    }

    (0 until 8).foreach(walkOnce)
  }

  test("keep-alive responses go out at once, not after the client's delayed ACK") {
    // in a child JVM: the JDK reads the server's nodelay property once,
    // when its first server is created, and other suites create theirs
    val proc = new ProcessBuilder(s"${System.getProperty("java.home")}/bin/java", "-Xmx128m",
      "-cp", System.getProperty("java.class.path"), "graft.RestLatencyProbe")
      .redirectErrorStream(true).start()
    val out =
      try {
        assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), "the probe JVM did not exit")
        new String(proc.getInputStream.readAllBytes(), "UTF-8")
      } finally proc.destroyForcibly(): Unit
    val median = "median_ms=([0-9.]+)".r.findFirstMatchIn(out).map(_.group(1).toDouble)
    assert(median.isDefined, s"no median in the probe's output: $out")
    // a stalled response waits 40 ms or more
    assert(median.get < 20.0, s"median GET / over keep-alive took ${median.get} ms")
  }

  test("Json codec round-trips escapes, unicode, nested structures") {
    val v = Map("a" -> List(1L, -2L, 3.5), "s" -> "q\"\\\n\tüñ", "b" -> true,
      "n" -> null)
    val written = Json.write(graft.api.JObj(
      "a" -> Seq(1L, -2L, 3.5), "s" -> "q\"\\\n\tüñ", "b" -> true, "n" -> None))
    assert(Json.parse(written) == v)
    intercept[JsonParseException](Json.parse("""{"a":}"""))
    intercept[JsonParseException](Json.parse("""[1,2"""))
    intercept[JsonParseException](Json.parse("""{"a":1} extra"""))
    // hostile nesting must be a parse error (a 400), never a
    // StackOverflowError on the handler thread
    intercept[JsonParseException](Json.parse("[" * 100000))
    assert(Json.parse("[" * 50 + "]" * 50) != null) // within the bound
  }
}

/** Serves `GET /` from a [[RestServer]] with no Spark session and
  * prints the median latency of 20 requests over one keep-alive
  * connection: `runMain graft.RestLatencyProbe` (test classpath). */
object RestLatencyProbe {
  def main(args: Array[String]): Unit = {
    val server = new RestServer(() => throw new IllegalStateException("GET / reads no tables"), 0, 2)
    val url = java.net.URI.create(s"http://127.0.0.1:${server.start()}/").toURL
    try {
      val ms = Seq.fill(20) {
        val t0 = System.nanoTime()
        val in = url.openConnection().getInputStream
        try in.readAllBytes() finally in.close()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(s"median_ms=${(ms(9) + ms(10)) / 2}")
    } finally server.stop()
  }
}
