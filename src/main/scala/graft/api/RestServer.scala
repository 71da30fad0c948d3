package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import org.apache.spark.sql.Row

/** The reference's HTTP serving layer (`src/api.rs:390-406`) over the
  * [[EvmApi]] facade, on the JDK's built-in `com.sun.net.httpserver`
  * (no extra dependencies — the sandbox build has none to offer).
  *
  * Routes (`src/api.rs:393-401`):
  *   - `GET  /`                        welcome page
  *   - `GET  /stats`                   ingestion counters + lag
  *   - `POST /logs`                    filtered log page + resume cursor
  *   - `GET  /block/{identifier}`      by 0x-hash or decimal height
  *   - `GET  /transaction/{tx_hash}`   by 0x-hash
  *   - `GET  /api-docs/openapi.json`   OpenAPI 3 document (`src/docs.rs`)
  *   - `GET  /swagger-ui`              self-contained endpoint index
  *     (the reference embeds the Swagger UI asset bundle; zero-egress
  *     here, so this serves a dependency-free HTML index over the same
  *     OpenAPI document instead)
  *
  * Wire shapes mirror the reference's serde output: camelCase model
  * fields (`src/models.rs` `rename_all = "camelCase"`), snake_case
  * stats/logs-response envelopes (`src/api_models.rs:50-66`, no
  * rename), `GenericErrorResponse` for 400/404/500
  * (`src/api_models.rs:69-76`). Optional fields a given source does
  * not carry (e.g. gas_price on an EIP-1559 tx) serialize as null,
  * like the reference's `Option::None`.
  *
  * Error mapping (`src/api.rs:29-63`): syntactically invalid
  * identifiers → 400; well-formed but absent → 404; handler failure →
  * 500. Identifier syntax follows `src/api.rs:290-303,342-346`:
  * 0x-prefixed must be 66 hex chars; otherwise a decimal height.
  *
  * Serving model: a fixed thread pool drives concurrent Spark actions
  * (SparkSession is thread-safe; each request is an independent job —
  * the serve-while-ingest path I-13 exercises exactly this). As with
  * [[EvmApi]], a COLD point lookup runs one pruned Spark job, unless
  * its key lies in a store's two newest buckets ([[HotTail]]); repeats
  * are served by the facade's [[LookupCache]] memo. Both answer with
  * zero Spark jobs and invalidate on the store's manifest version, so
  * a reorg is visible on the next request. Responses go out with TCP_NODELAY
  * (see [[start]]): without it every response, a memo hit included,
  * waited ~40 ms for the client's delayed ACK.
  *
  * The facade is a provider, re-invoked per request: the reference
  * queries Postgres per request and so always sees the latest ingested
  * rows, while a fixed DataFrame freezes its parquet file listing at
  * construction. A provider over the store (use
  * [[EvmApi.providerOnStore]], which shares ONE lookup memo across
  * the per-request facades) serves live data while a
  * [[graft.ingest.StreamingIngester]] appends — the reference's
  * API-server + indexer-loop composition (`src/main.rs:83-90`). Each
  * facade reads one snapshot of the store's three tables, which the
  * store reuses until a commit moves its manifest version. In the
  * writer process that is any commit through a store object over the
  * root; a reader-only process finds a foreign writer's commit by
  * listing `_manifest` alone (once per facade, once more per memoized
  * lookup), and serves with the same memo and tail. For a static
  * source, pass the fixed-facade constructor.
  */
final class RestServer(apiProvider: () => EvmApi, port: Int, nThreads: Int) {

  /** Fixed-facade form (static tables, e.g. the derived fixtures). */
  def this(api: EvmApi, port: Int = 0, nThreads: Int = 8) =
    this(() => api, port, nThreads)

  private def api: EvmApi = apiProvider()

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Starts the server; returns the bound port (ephemeral when
    * constructed with port 0). */
  def start(): Int = {
    // The JDK server writes a response's headers and body as two TCP
    // segments with Nagle on, so the body waits for the client's
    // delayed ACK (40 ms or more on Linux). It reads this property
    // once per JVM, when the first server is created.
    if (System.getProperty(RestServer.NoDelay) == null)
      System.setProperty(RestServer.NoDelay, "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", Router)
    pool = Executors.newFixedThreadPool(nThreads)
    server.setExecutor(pool)
    server.start()
    boundPort
  }

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = if (server != null) {
    server.stop(0)
    pool.shutdown()
  }

  // ---- routing ----------------------------------------------------

  private object Router extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
        (ex.getRequestMethod, segs) match {
          case ("GET", Nil) => html(ex, 200, Welcome)
          case ("GET", "stats" :: Nil) => handleStats(ex)
          case ("POST", "logs" :: Nil) => handleLogs(ex)
          case ("GET", "block" :: id :: Nil) => handleBlock(ex, id)
          case ("GET", "transaction" :: h :: Nil) => handleTransaction(ex, h)
          case ("GET", "api-docs" :: "openapi.json" :: Nil) =>
            json(ex, 200, OpenApiDoc.json)
          case ("GET", "swagger-ui" :: _) => html(ex, 200, OpenApiDoc.indexHtml)
          case _ => error(ex, 404, "The requested resource was not found.")
        }
      } catch {
        case e: Exception => error(ex, 500, s"Internal error: ${e.getMessage}")
      } finally ex.close()
  }

  // ---- handlers ---------------------------------------------------

  /** `GET /stats` → the reference's IndexerStats wire shape
    * (`src/api_models.rs:50-58` — snake_case, no rename_all). */
  private def handleStats(ex: HttpExchange): Unit = {
    val s = api.stats()
    json(ex, 200, Json.write(JObj(
      "total_blocks" -> s.blocksCount,
      "total_transactions" -> s.transactionsCount,
      "total_logs" -> s.logsCount,
      "last_synced_block" -> s.lastProcessedBlock,
      "ingestion_lag" -> s.ingestionLag)))
  }

  /** `POST /logs` → one page + resume cursor
    * (`src/api.rs:111-228`, `src/api_models.rs:61-66`). */
  private def handleLogs(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val filter =
      try parseLogsFilter(body)
      catch {
        case e: JsonParseException =>
          error(ex, 400, s"Invalid request body: ${e.getMessage}"); return
        case e: IllegalArgumentException =>
          error(ex, 400, s"Invalid filters: ${e.getMessage}"); return
      }
    val page = api.logsPage(filter)
    json(ex, 200, Json.write(JObj(
      "logs" -> page.logs.map(logJson).toSeq,
      "next_cursor_block" -> page.nextCursorBlock,
      "next_cursor_log_id" -> page.nextCursorLogId)))
  }

  /** `GET /block/{identifier}` (`src/api.rs:284-320`). */
  private def handleBlock(ex: HttpExchange, identifier: String): Unit =
    if (!validBlockIdentifier(identifier))
      error(ex, 400, s"Invalid block identifier: $identifier")
    else api.block(identifier) match {
      case None => error(ex, 404, "The requested resource was not found.")
      case Some(b) =>
        // MyBlock (`src/models.rs:27-44`): camelCase; U256 gas fields
        // serialize as decimal strings
        json(ex, 200, Json.write(JObj(
          "blockNumber" -> b.blockNumber,
          "blockHash" -> b.blockHash,
          "parentHash" -> b.parentHash,
          "timestamp" -> b.timestamp,
          "gasUsed" -> b.gasUsed,
          "gasLimit" -> b.gasLimit,
          "baseFeePerGas" -> b.baseFeePerGas)))
    }

  /** `GET /transaction/{tx_hash}` (`src/api.rs:338-387`). */
  private def handleTransaction(ex: HttpExchange, hash: String): Unit =
    if (!valid0xHash(hash))
      error(ex, 400, s"Invalid transaction hash: $hash")
    else api.transaction(hash) match {
      case None => error(ex, 404, "The requested resource was not found.")
      case Some(t) =>
        // MyTransaction (`src/models.rs:46-75`): camelCase; `gas` is
        // the provided gas limit, value/gas as decimal strings
        json(ex, 200, Json.write(JObj(
          "txHash" -> t.txHash,
          "blockNumber" -> t.blockNumber,
          "blockHash" -> t.blockHash,
          "transactionIndex" -> t.txIndexInBlock,
          "fromAddress" -> t.fromAddress,
          "toAddress" -> t.toAddress,
          "value" -> t.value,
          "gasPrice" -> t.gasPrice,
          "maxFeePerGas" -> t.maxFeePerGas,
          "maxPriorityFeePerGas" -> t.maxPriorityFeePerGas,
          "gas" -> t.gasLimit,
          "inputData" -> t.inputData.getOrElse(""),
          "status" -> t.status)))
    }

  // ---- wire helpers -----------------------------------------------

  /** MyLog (`src/models.rs:8-25`): camelCase; `topics` collects the
    * non-null topic0..3 (the reference reads a SQL text[]). */
  private def logJson(r: Row): JObj = {
    def opt[T](name: String): Option[T] =
      if (r.isNullAt(r.fieldIndex(name))) None else Some(r.getAs[T](name))
    JObj(
      "logIndex" -> opt[Long]("log_index"),
      "transactionHash" -> r.getAs[String]("transaction_hash"),
      "transactionIndex" -> opt[Long]("transaction_index"),
      "blockNumber" -> r.getAs[Long]("block_number"),
      "blockHash" -> r.getAs[String]("block_hash"),
      "address" -> r.getAs[String]("contract_address"),
      "data" -> opt[String]("data").getOrElse(""),
      "topics" -> Seq("topic0", "topic1", "topic2", "topic3")
        .flatMap(opt[String](_)))
  }

  /** Request-body model (`src/api_models.rs:16-48`): camelCase keys,
    * `limit` accepted as an alias of `pageSize` (serde
    * `alias = "limit"`), `address` as the reference names the
    * contract-address filter. Unknown keys are ignored (serde
    * default). Throws IllegalArgumentException on mistyped fields. */
  private def parseLogsFilter(body: String): GetLogsFilter = {
    val m = (if (body.trim.isEmpty) Map.empty[String, Any]
             else Json.parse(body)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(s"expected a JSON object, got $other")
    }
    def long(k: String): Option[Long] = m.get(k).map {
      case n: Long => n
      case other => throw new IllegalArgumentException(s"$k must be an integer, got $other")
    }
    def str(k: String): Option[String] = m.get(k).map {
      case s: String => s
      case other => throw new IllegalArgumentException(s"$k must be a string, got $other")
    }
    // reject out-of-int-range paging values instead of letting toInt
    // truncate them (2^32+1 would silently become page 1; the
    // reference's u64→clamp path would 400 on the serde boundary)
    def intRange(k: String)(v: Long): Int =
      if (v >= Int.MinValue && v <= Int.MaxValue) v.toInt
      else throw new IllegalArgumentException(s"$k out of range: $v")
    GetLogsFilter(
      blockHash = str("blockHash"),
      fromBlock = long("fromBlock"),
      toBlock = long("toBlock"),
      contractAddress = str("address").orElse(str("contractAddress")),
      topic0 = str("topic0"), topic1 = str("topic1"),
      topic2 = str("topic2"), topic3 = str("topic3"),
      cursorBlock = long("cursorBlock"),
      cursorLogId = long("cursorLogId"),
      page = long("page").map(intRange("page")),
      pageSize = long("pageSize").orElse(long("limit")).map(intRange("pageSize")))
  }

  /** `src/api.rs:290-303`: 0x-prefixed must be a 66-char hex hash,
    * anything else must parse as a decimal height. */
  private def validBlockIdentifier(id: String): Boolean =
    if (id.startsWith("0x")) valid0xHash(id) else id.toLongOption.isDefined

  /** `src/api.rs:342-346`: 0x + 64 ASCII hex chars.
    * (Not `Character.digit(c, 16)` — that accepts non-ASCII Unicode
    * digits, which would turn the reference's 400 into a 404.) */
  private def valid0xHash(h: String): Boolean =
    h.length == 66 && h.startsWith("0x") &&
      h.drop(2).forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))

  // ---- response plumbing ------------------------------------------

  /** GenericErrorResponse (`src/api.rs:51-60`): every CLIENT error
    * (4xx, `StatusCode::is_client_error`) reports `"fail"`, server
    * errors `"error"` — not just 404. */
  private def error(ex: HttpExchange, status: Int, message: String): Unit =
    json(ex, status, Json.write(JObj(
      "status" -> (if (status >= 400 && status < 500) "fail" else "error"),
      "statusCode" -> status,
      "message" -> message)))

  private def json(ex: HttpExchange, status: Int, body: String): Unit =
    respond(ex, status, body, "application/json")

  private def html(ex: HttpExchange, status: Int, body: String): Unit =
    respond(ex, status, body, "text/html; charset=utf-8")

  private def respond(ex: HttpExchange, status: Int, body: String, ct: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ct)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  /** `src/api.rs:93-99`. */
  private val Welcome =
    "<h1>Hello, EVM Indexer API!</h1><p>Welcome to your Spark-powered API.</p>"
}

object RestServer {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** Serve the derived fixture tables — `runMain graft.api.RestServer
    * [sfDir] [port]`. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(3000)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = new RestServer(EvmApi.onFixtures(spark, sfDir), port)
    val bound = srv.start()
    println(s"[rest] serving $sfDir on http://localhost:$bound (Ctrl-C to stop)")
    Thread.currentThread.join()
  }
}
