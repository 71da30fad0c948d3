package graft.perfbench

import graft.ingest.SimChain

/** The chain the benchmark serves and checks: the canonical branch of
  * `SimChain`. Block `n` depends only on `n`, so the node, the store
  * builder and the oracle each compute any block directly. */
object Chain {
  def block(n: Long): SimChain.SimBlock = SimChain.blockOn(n, None)

  /** The log id the ingester assigns (`StreamingIngester.processBatch`). */
  def logId(n: Long, txIndex: Long, logIndex: Long): Long =
    n * 1000000L + txIndex * 1000L + logIndex
}
