package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid keyword × semantic retrieval — the fusion shape an LLM-data
  * curation or RAG user reaches for first once both a BM25 ref
  * ([[TextRefs.searchBm25Stored]]) and a persisted ANN index
  * ([[AnnIndex.topK]] over [[AnnIndex.Ids]]) exist: each leg returns
  * its own top-N, and reciprocal-rank fusion (Cormack/Clarke/
  * Buettcher's RRF) merges them on rank alone, so the two legs'
  * incomparable score scales never touch.
  *
  * Integer-exact by construction: fused score =
  * Σ_legs 1000000 div (60 + rank) — the standard RRF k = 60 constant,
  * scaled to parts-per-million and floored, so both engines fold the
  * same integers and the registry entry hash-checks (the same
  * ×1000-style discipline as BM25's saturation arithmetic).
  *
  * 100-TB shape: both legs are already bounded serving reads — the
  * keyword leg scans term-matched tokens plus |terms| stored-df rows,
  * the semantic leg is a bucket-pruned probe — and the fusion itself
  * joins two ≤N-row frames. The rank windows run over those ≤N-row
  * legs, never the corpus, so the whole fusion is O(N) regardless of
  * corpus size.
  */
object Hybrid {

  /** Top-N fused results for one (terms, query-vector) request:
    * `doc_id`, each leg's rank (null when the leg missed the doc —
    * a doc found by only one leg still competes), and the fused
    * `rrf_x1m`. Total-ordered (fused desc, doc_id asc). */
  def searchRrf(spark: SparkSession, dir: String, terms: Seq[String],
                queryVecId: Long, topN: Int = 20): DataFrame = {
    import spark.implicits._
    // keyword leg: the stored-BM25 top-N re-ranked to dense integer
    // ranks — a ≤N-row single-partition window, not a corpus sort
    val kw = TextRefs.searchBm25Stored(spark, dir, terms, topN)
      .withColumn("krank", row_number()
        .over(Window.orderBy(col("score_x1000").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("krank"))
    // semantic leg: the composed explicit-id probe over the persisted
    // index; its rn IS the rank
    val sem = AnnIndex.topK(spark, dir, AnnIndex.Ids(Seq(queryVecId).toDF("vec_id")),
        k = topN, nProbe = 2)
      .select(col("vec_id").as("doc_id"), col("rn").cast("long").as("srank"))
    kw.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_x1m",
        coalesce(expr("1000000 div (60 + krank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + srank)"), lit(0L)))
      .orderBy(col("rrf_x1m").desc, col("doc_id").asc)
      .limit(topN)
      .orderBy(col("rrf_x1m").desc, col("doc_id").asc)
  }
}
