package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Hybrid, TextRefs}

/** Pins the hybrid BM25 × ANN reciprocal-rank-fusion claims:
  * the fusion equals the naive two-list reference fold, a doc found by
  * only one leg still competes (and can win), and the fused frame is
  * built from two ≤N-row legs — the property that keeps the fusion
  * O(N) at any corpus size. */
class HybridSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("hash", "join", "merge")

  test("fusion == the naive two-list reference fold over the collected legs") {
    import spark.implicits._
    val topN = 20
    val got = Hybrid.searchRrf(spark, sf, terms, queryVecId = 2L, topN = topN)
      .collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[java.lang.Long]("krank")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("srank")).map(_.toLong),
        r.getAs[Long]("rrf_x1m")))
    // reference fold: collect each leg independently, rank, fuse in
    // plain Scala — the spec's oracle for the operator's plan
    val kw = TextRefs.searchBm25Stored(spark, sf, terms, topN)
      .orderBy(col("score_x1000").desc, col("doc_id")).collect()
      .map(_.getAs[Long]("doc_id")).zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    val sem = AnnIndex.topK(spark, sf, AnnIndex.Ids(Seq(2L).toDF("vec_id")), k = topN, nProbe = 2)
      .orderBy(col("rn")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("rn").toLong).toMap
    val expected = (kw.keySet ++ sem.keySet).toSeq
      .map { d =>
        val rrf = kw.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          sem.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (d, kw.get(d), sem.get(d), rrf)
      }
      .sortBy { case (d, _, _, rrf) => (-rrf, d) }
      .take(topN)
    assert(got == expected, s"fusion must equal the reference fold:\n$got\nvs\n$expected")
    assert(got.nonEmpty)
  }

  test("a doc found by only one leg still competes — and a one-leg doc can out-rank a two-leg doc") {
    val rows = Hybrid.searchRrf(spark, sf, terms, queryVecId = 2L, topN = 20).collect()
    val oneLeg = rows.filter(r => (r.isNullAt(1) && !r.isNullAt(2)) ||
      (!r.isNullAt(1) && r.isNullAt(2)))
    assert(oneLeg.nonEmpty,
      "fixture sanity: the two legs must not fully overlap, or the outer join is untested")
    // the RRF arithmetic itself: a rank-1 single-leg doc (16393) beats
    // any doc whose two legs are both past rank ~15 (2·1000000/75) —
    // assert the closed form on the emitted integers
    rows.foreach { r =>
      val k = if (r.isNullAt(1)) 0L else 1000000L / (60 + r.getLong(1))
      val s = if (r.isNullAt(2)) 0L else 1000000L / (60 + r.getLong(2))
      assert(r.getAs[Long]("rrf_x1m") == k + s,
        s"rrf must be the exact integer fold for $r")
    }
  }

  test("the fusion plan joins two bounded legs: no corpus-wide window, no cartesian") {
    val plan = Hybrid.searchRrf(spark, sf, terms, queryVecId = 2L, topN = 20)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("CartesianProduct"), s"no cartesian in the fusion plan:\n$plan")
    // the keyword leg's rank window runs AFTER its top-N truncation
    // (a GlobalLimit/TakeOrdered feeds the window input, so the
    // single-partition window sees ≤N rows, not the corpus)
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("GlobalLimit"),
      s"keyword leg must truncate to top-N before the rank window:\n$plan")
  }
}
