package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.evm.EvmDerive.md5hex
import graft.ingest.SimChain

/** The serving mix and its oracle, over a store that holds exactly
  * the blocks `[0, tip]` of [[Chain]] and does not change.
  *
  * The reference publishes no request mix, so the mix is an
  * assumption (see the README). Routes go by position: every ten
  * consecutive requests hold the routes of [[Slots]], so runs differ
  * in keys and filters but not in route mix. Point keys lean to the
  * newest `hotBlocks` blocks with probability `hotShare`, otherwise
  * they are uniform over the whole chain (more than 15k block and tx
  * keys, which do not fit `LookupCache`'s 4,096 entries). A `repeat`
  * is one of [[repeats]], the newest block and its first transaction,
  * which the warm-up fetched, so the cache answers it.
  */
final class Serving(tip: Long, hotBlocks: Int, hotShare: Double) {
  import Chain.{block, logId}

  /** The routes of requests `10k` to `10k + 9`. `other` is `/stats` or
    * a request that must answer 400 or 404. */
  val Slots: Vector[String] =
    Vector("logs", "block", "tx", "logs", "repeat", "other", "blockHash", "tx", "logs", "block")

  private val addresses = (0 until 7).map(k => "0x" + md5hex(s"addr:$k").take(40))
  private val topic0s = (0 until 3).map(k => "0x" + md5hex(s"sig:$k"))
  private val UnknownAddress = "0x" + "ab" * 20
  private val UnknownHash = "0x" + "cd" * 32
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def blockReq(path: String, n: Long) = Req("block", "GET", path, key = Some((n, 0)))
  private def txReq(n: Long, t: Int) =
    Req("tx", "GET", s"/transaction/${block(n).transactions(t).tx_hash}", key = Some((n, t)))

  /** The point lookups that repeat: the newest block and its first tx. */
  val repeats: Seq[Req] = Seq(blockReq(s"/block/$tip", tip), txReq(tip, 0))

  /** The deterministic `i`-th request of a run with `seed`. */
  def request(seed: Long, i: Long): Req = {
    val r = new java.util.Random(seed * 1000003L + i)
    def height(): Long =
      if (r.nextDouble() < hotShare) {
        val u = r.nextDouble()
        math.max(0L, tip - (u * u * hotBlocks).toLong)
      } else (r.nextDouble() * (tip + 1)).toLong
    Slots((i % Slots.size).toInt) match {
      case "block" => val n = height(); blockReq(s"/block/$n", n)
      case "blockHash" => val n = height(); blockReq(s"/block/${block(n).block_hash}", n)
      case "tx" => val n = height(); txReq(n, r.nextInt((n % 3 + 1).toInt))
      case "repeat" => repeats(r.nextInt(repeats.size))
      case "logs" =>
        val hi = height()
        val lo = math.max(0L, hi - Seq(10, 50, 200)(r.nextInt(3)))
        val page = Seq(10, 25, 100)(r.nextInt(3))
        def inRange() = lo + r.nextInt((hi - lo + 1).toInt)
        val filter = r.nextInt(6) match {
          case 0 => s""""address":"${addresses(r.nextInt(7))}""""
          case 1 => s""""topic0":"${topic0s(r.nextInt(3))}""""
          case 2 => s""""address":"${addresses(r.nextInt(7))}","topic0":"${topic0s(r.nextInt(3))}""""
          case 3 => s""""topic1":"0x${md5hex(s"t1:${inRange()}")}""""
          case 4 =>
            val cb = inRange()
            s""""cursorBlock":$cb,"cursorLogId":${cb * 1000000L + r.nextInt(3) * 1000}"""
          case _ => s""""address":"$UnknownAddress""""
        }
        Req("logs", "POST", "/logs", s"""{"fromBlock":$lo,"toBlock":$hi,"pageSize":$page,$filter}""")
      case "other" => r.nextInt(8) match {
        case 0 => Req("bad", "GET", "/block/0xzz")
        case 1 => Req("bad", "GET", "/transaction/abc")
        case 2 => Req("bad", "GET", "/block/1000000000000")
        case 3 => Req("bad", "GET", s"/block/$UnknownHash")
        case 4 => Req("bad", "GET", s"/transaction/$UnknownHash")
        case _ => Req("stats", "GET", "/stats")
      }
    }
  }

  /** The oracle: is `(code, body)` the correct answer to `req`? Every
    * block the mix names is in the store, so a 404 is only right for
    * the requests that must miss. */
  def check(req: Req, code: Int, body: JsonNode, send: Long, end: Long): Boolean = {
    val seg = req.path.split("/").filter(_.nonEmpty).toList
    req.route match {
      case "bad" => seg match {
        case List("block", "0xzz") | List("transaction", "abc") => code == 400
        case _ => code == 404
      }
      case "stats" => code == 200 && checkStats(body)
      case "block" =>
        val n = req.key.get._1
        val b = block(n)
        code == 200 && body.get("blockNumber").asLong() == n &&
          body.get("blockHash").asText() == b.block_hash &&
          body.get("parentHash").asText() == b.parent_hash && body.get("timestamp").asLong() == b.timestamp
      case "tx" =>
        val (n, t) = req.key.get
        val tx = block(n).transactions(t)
        code == 200 && body.get("txHash").asText() == tx.tx_hash && body.get("blockNumber").asLong() == n &&
          body.get("blockHash").asText() == block(n).block_hash &&
          body.get("transactionIndex").asLong() == t && body.get("fromAddress").asText() == tx.from_address &&
          body.get("toAddress").asText() == tx.to_address && body.get("value").asText() == tx.value &&
          body.get("status").asLong() == tx.status.get
      case "logs" => code == 200 && checkLogs(req, body)
    }
  }

  private def checkStats(body: JsonNode): Boolean = {
    val n = tip + 1
    val txs = (0L until n).map(_ % 3 + 1).sum
    val logs = (0L until n).map(h => (0L until (h % 3 + 1)).map(t => t % 2 + 1).sum).sum
    body.get("last_synced_block").asLong() == tip && body.get("total_blocks").asLong() == n &&
      body.get("total_transactions").asLong() == txs && body.get("total_logs").asLong() == logs
  }

  /** A `/logs` page must equal the page computed from the chain: the
    * first `pageSize` matching logs in (block, log id) order, every
    * field of each log, and the resume cursor. */
  private def checkLogs(req: Req, body: JsonNode): Boolean = {
    val f = mapper.readTree(req.body)
    def opt(k: String) = Option(f.get(k)).map(_.asText())
    val lo = f.get("fromBlock").asLong(); val hi = f.get("toBlock").asLong()
    val page = f.get("pageSize").asInt()
    val cursor = Option(f.get("cursorBlock")).map(c => (c.asLong(), f.get("cursorLogId").asLong()))
    def matches(n: Long, id: Long, l: SimChain.SimLog): Boolean =
      opt("address").forall(_ == l.contract_address) &&
        opt("topic0").forall(_ == l.topic0) && opt("topic1").forall(t => l.topic1.contains(t)) &&
        cursor.forall { case (cb, cl) => n > cb || (n == cb && id > cl) }
    val expected = (lo to hi).iterator.flatMap { n =>
      block(n).transactions.iterator.flatMap(t => t.logs.map(l => (n, t, l)))
    }.filter { case (n, t, l) => matches(n, logId(n, t.tx_index_in_block, l.log_index_in_tx), l) }
      .take(page).toSeq
    val logs = Option(body.get("logs")).map(l => (0 until l.size()).map(l.get)).getOrElse(Seq.empty)
    val sameLogs = logs.size == expected.size && logs.zip(expected).forall { case (got, (n, t, l)) =>
      val topics = (0 until got.get("topics").size()).map(got.get("topics").get(_).asText())
      got.get("blockNumber").asLong() == n && got.get("blockHash").asText() == block(n).block_hash &&
        got.get("transactionHash").asText() == t.tx_hash &&
        got.get("transactionIndex").asLong() == t.tx_index_in_block &&
        got.get("logIndex").asLong() == l.log_index_in_tx && got.get("address").asText() == l.contract_address &&
        topics == (Seq(l.topic0) ++ l.topic1 ++ l.topic2 ++ l.topic3) && got.get("data").asText() == l.data
    }
    val cursorOk = expected.lastOption match {
      case Some((n, t, l)) => body.get("next_cursor_block").asLong() == n &&
        body.get("next_cursor_log_id").asLong() == logId(n, t.tx_index_in_block, l.log_index_in_tx)
      case None => body.get("next_cursor_block").isNull
    }
    sameLogs && cursorOk
  }
}
