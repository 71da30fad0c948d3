package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Similarity}
import graft.ops.AnnIndex.{Pq, Prefix, Sq8, TwoLevel}

/** ANN recall probe: measure recall@k of every approximate serving
  * path against the brute-force cosine baseline on one embeddings
  * tier, across the nProbe / rerank dials — the measurement behind
  * SCALING.md's recall table, so the dials carry numbers instead of
  * prose (`runMain graft.AnnRecallProbe <sfDir> [queries] [k]`).
  *
  * recall@k = |approx top-k ∩ brute top-k| / (queries · k), the
  * standard macro-averaged definition (each query contributes its
  * overlap fraction; ties broken identically on both sides by the
  * engines' shared (score desc, vec_id asc) rank, so the intersection
  * is well-defined).
  *
  * Paths probed:
  *  - `indexed`   — [[AnnIndex.topK]] over the persisted IVF index
  *                  (√n md5-sampled cells), nProbe swept
  *  - `indexed_sq`— [[AnnIndex.topK]] with [[AnnIndex.Sq8]], the
  *                  stored IVF×SQ8 read path, (nProbe, rerank)
  *                  swept — where rerank ≥ k·probed candidates exist,
  *                  recall equals `indexed`'s at the same nProbe (SQ
  *                  error only reorders BELOW the rerank cut; the
  *                  exact rerank restores the top)
  *  - `ivf2`      — [[AnnIndex.topK]] on [[AnnIndex.TwoLevel]], the
  *                  PERSISTED two-level index (the path production
  *                  serves from — the inline [[Similarity.topKIvf2]]
  *                  is spec-pinned identical, so sweeping the stored
  *                  probe measures both), (nProbe, nProbeFine) swept
  *  - `ivf2_sq`   — the two-level [[AnnIndex.Sq8]] probe, the
  *                  byte-bounded two-level read path; with rerank =
  *                  2k it must match `ivf2` at every dial (the flat
  *                  tier's zero-loss result, one level down)
  *  - `indexed_deleted` — [[AnnIndex.topK]] over a TOMBSTONED
  *                  generation (vec_id % 10 == 7 retired), measured
  *                  against brute force over the SURVIVORS
  *                  ([[Similarity.topKOver]]): deletion changes both
  *                  the candidate set and the per-probe economics, so
  *                  the table carries its own row — and at full probe
  *                  width (nProbe = cells) recall must be exactly 1.0
  *                  (deletion may never lose a live neighbor;
  *                  `AnnIndexSpec` pins it)
  */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnRecallProbe <sfDir> [queries] [k]")
    val dir = args(0)
    val nQueries = if (args.length > 1) args(1).toInt else 50
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.tables.Fixtures.embeddings(spark, dir)
    val n = emb.count()
    val kCells = AnnIndex.annCellsFor(n)
    def pairs(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val brute = pairs(Similarity.topK(emb, maxQueryId = nQueries, k = k))
    def recall(df: DataFrame): Double = {
      val approx = pairs(df)
      brute.iterator.map { case (q, b) =>
        (approx.getOrElse(q, Set.empty) & b).size.toDouble / b.size
      }.sum / brute.size
    }
    println(f"[recall] dir=$dir n=$n cells=$kCells queries=$nQueries k=$k")

    AnnIndex.ensureBuilt(spark, dir)
    Seq(1, 2, 4, 8, 16).foreach { nProbe =>
      val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), k = k, nProbe = nProbe))
      println(f"[recall] path=indexed nProbe=$nProbe%-3d recall@$k=$r%.3f")
    }
    Seq((2, 2 * k), (4, 2 * k), (8, 2 * k), (8, 4 * k)).foreach { case (nProbe, rerank) =>
      val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), Sq8(rerank), k = k,
        nProbe = nProbe))
      println(f"[recall] path=indexed_sq nProbe=$nProbe%-3d rerank=$rerank%-3d recall@$k=$r%.3f")
    }
    // ---- PQ legs (round 19): 4 bits/dim is far lossier than SQ8, so
    // rerank is the dial that matters and is swept explicitly.
    // `pq` = the inline brute ADC scan (no cell pruning — isolates
    // pure code-ordering loss); `idx_pq` = the stored IVF×PQ probe
    // (spec-pinned identical to the inline topKIvfPq, so one sweep
    // measures both registry shapes).
    Seq(2 * k, 3 * k, 5 * k).foreach { rerank =>
      val r = recall(Similarity.topKPq(emb, maxQueryId = nQueries,
        k = k, rerank = rerank))
      println(f"[recall] path=pq rerank=$rerank%-3d recall@$k=$r%.3f")
    }
    // the learned (per-subspace Lloyd) codebook vs the sampled
    // default at identical dials — the delta the codebookIn seam buys
    val learnedCb = Similarity.learnedPqCodebook(emb)
    Seq(2 * k, 3 * k, 5 * k).foreach { rerank =>
      val r = recall(Similarity.topKPq(emb, maxQueryId = nQueries,
        k = k, rerank = rerank, codebookIn = Some(learnedCb)))
      println(f"[recall] path=pq_learned rerank=$rerank%-3d recall@$k=$r%.3f")
    }
    Seq((2, 2 * k), (2, 4 * k), (4, 2 * k), (4, 4 * k),
        (8, 2 * k), (8, 4 * k), (8, 8 * k), (8, 16 * k))
      .foreach { case (nProbe, rerank) =>
        val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), Pq(rerank), k = k,
          nProbe = nProbe))
        println(f"[recall] path=idx_pq nProbe=$nProbe%-3d rerank=$rerank%-4d recall@$k=$r%.3f")
      }
    // the STORED learned-codebook index (the ensureBuilt learnedPq
    // build flag — round 20): same dials as idx_pq, so each row's
    // delta is exactly what the persisted Lloyd book buys a
    // production index
    val ltag = "learned-pq"
    AnnIndex.ensureBuilt(spark, dir, tag = ltag, learnedPq = true)
    Seq((2, 2 * k), (4, 2 * k), (8, 2 * k), (8, 4 * k))
      .foreach { case (nProbe, rerank) =>
        val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), Pq(rerank), k = k,
          nProbe = nProbe, tag = ltag))
        println(f"[recall] path=idx_pq_learned nProbe=$nProbe%-3d rerank=$rerank%-4d recall@$k=$r%.3f")
      }
    // IVF × residual-PQ (round 20): residual codes at idx_pq-matched
    // dials — the recall lever after the learned codebook, measured
    // against the same ground truth
    Seq((2, 2 * k), (4, 2 * k), (8, 2 * k), (8, 4 * k))
      .foreach { case (nProbe, rerank) =>
        val r = recall(Similarity.topKIvfRpq(emb, maxQueryId = nQueries,
          k = k, nProbe = nProbe, rerank = rerank))
        println(f"[recall] path=ivf_rpq nProbe=$nProbe%-3d rerank=$rerank%-4d recall@$k=$r%.3f")
      }
    // the full faiss recipe — residual encode × LEARNED book — at the
    // same dials, so the table separates the two levers' contributions
    val learnedRcb = Similarity.learnedResidualCodebook(emb)
    Seq((2, 2 * k), (4, 2 * k), (8, 2 * k), (8, 4 * k))
      .foreach { case (nProbe, rerank) =>
        val r = recall(Similarity.topKIvfRpq(emb, maxQueryId = nQueries,
          k = k, nProbe = nProbe, rerank = rerank, codebookIn = Some(learnedRcb)))
        println(f"[recall] path=ivf_rpq_learned nProbe=$nProbe%-3d rerank=$rerank%-4d recall@$k=$r%.3f")
      }
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    Seq((2, 4), (4, 8), (8, 16)).foreach { case (nc, nf) =>
      val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), k = k,
        nProbe = nc, nProbeFine = nf, layout = TwoLevel))
      println(f"[recall] path=ivf2 nProbeCoarse=$nc%-3d nProbeFine=$nf%-3d recall@$k=$r%.3f")
    }
    Seq((2, 4), (4, 8), (8, 16)).foreach { case (nc, nf) =>
      val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), Sq8(2 * k), k = k,
        nProbe = nc, nProbeFine = nf, layout = TwoLevel))
      println(f"[recall] path=ivf2_sq nProbeCoarse=$nc%-3d nProbeFine=$nf%-3d rerank=${2 * k}%-3d recall@$k=$r%.3f")
    }
    // gen-2 PQ: the billion-vector tier's sub-byte read path — the
    // regime where 4-bit codes matter most, so its recall cost must
    // be measured, not assumed
    Seq((2, 4, 2 * k), (4, 8, 2 * k), (8, 16, 2 * k), (8, 16, 4 * k))
      .foreach { case (nc, nf, rr) =>
        val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), Pq(rr), k = k,
          nProbe = nc, nProbeFine = nf, layout = TwoLevel))
        println(f"[recall] path=ivf2_pq nProbeCoarse=$nc%-3d nProbeFine=$nf%-3d rerank=$rr%-3d recall@$k=$r%.3f")
      }
    // the billion-vector tier's first recall dial, now measured: a
    // gen-2 generation built with the learned codebook, probed at the
    // same dials as ivf2_pq
    AnnIndex.ensureBuilt(spark, dir, tag = ltag, learnedPq = true, layout = TwoLevel)
    Seq((2, 4, 2 * k), (4, 8, 2 * k), (8, 16, 2 * k), (8, 16, 4 * k))
      .foreach { case (nc, nf, rr) =>
        val r = recall(AnnIndex.topK(spark, dir, Prefix(nQueries), Pq(rr), k = k,
          nProbe = nc, nProbeFine = nf, tag = ltag, layout = TwoLevel))
        println(f"[recall] path=ivf2_pq_learned nProbeCoarse=$nc%-3d nProbeFine=$nf%-3d rerank=$rr%-3d recall@$k=$r%.3f")
      }

    // ---- recall AFTER DELETE: tombstoned generation vs brute force
    // over the survivors. The retired tenth (vec_id % 10 == 7 — the
    // registry delete entry's residue) leaves the ground-truth corpus
    // but its ids still probe (external-caller contract).
    val delTag = "recall-del"
    AnnIndex.ensureBuilt(spark, dir, tag = delTag)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7), tag = delTag)
    val bruteSurv = pairs(Similarity.topKOver(
      emb.filter(col("vec_id") % 10 =!= 7), emb, maxQueryId = nQueries, k = k))
    def recallSurv(df: DataFrame): Double = {
      val approx = pairs(df)
      bruteSurv.iterator.map { case (q, b) =>
        (approx.getOrElse(q, Set.empty) & b).size.toDouble / b.size
      }.sum / bruteSurv.size
    }
    (Seq(1, 2, 4, 8, 16) :+ kCells).distinct.foreach { nProbe =>
      val r = recallSurv(AnnIndex.topK(spark, dir, Prefix(nQueries), k = k,
        nProbe = nProbe, tag = delTag))
      println(f"[recall] path=indexed_deleted nProbe=$nProbe%-3d recall@$k=$r%.3f" +
        (if (nProbe == kCells) " (full width — must be 1.000)" else ""))
    }
    // ...and the same leg on the two-level generation: removeBatch's
    // coarse-pruned anti-join measured against the identical
    // survivors' ground truth; full width (every coarse cell, fine
    // probe wider than any cell's fine count) must again be exact
    AnnIndex.ensureBuilt(spark, dir, tag = delTag, layout = TwoLevel)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7), tag = delTag,
      layout = TwoLevel)
    val kc2 = AnnIndex.storedQuantizer(spark, dir, tag = delTag, layout = TwoLevel).length
    (Seq((2, 4), (4, 8), (8, 16)) :+ ((kc2, 1000000))).foreach { case (nc, nf) =>
      val r = recallSurv(AnnIndex.topK(spark, dir, Prefix(nQueries), k = k,
        nProbe = nc, nProbeFine = nf, tag = delTag, layout = TwoLevel))
      println(f"[recall] path=ivf2_deleted nProbeCoarse=$nc%-3d nProbeFine=$nf%-7d recall@$k=$r%.3f" +
        (if (nc == kc2) " (full width — must be 1.000)" else ""))
    }
    spark.stop()
  }
}
