package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Brute-force cosine is the correctness baseline (oracle-checked);
  * the scale paths are IVF (coarse-cell probe — here the fixture
  * `label` plays the centroid-cell id) and random-hyperplane LSH
  * (bucketed candidate join). All dot products run in double via
  * `zip_with` + `aggregate` — codegen'd, no UDF.
  */
object Similarity {

  /** Dot product in double via the native codegen expression
    * [[graft.functions.DotProductF64]] — sequential index-order
    * summation, same order as the oracle's list_dot_product, for bit
    * parity; ~40× faster than the interpreted
    * `aggregate(zip_with(...))` formulation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotF64(a, b)

  def cosine(a: Column, aNorm: Column, b: Column, bNorm: Column): Column =
    dot(a, b) / (aNorm * bNorm)

  /** embeddings with double vectors + precomputed norms (compute the
    * norm once per row, not once per pair). */
  def prepared(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    embeddings.select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Brute-force cosine top-k for a set of query vectors: broadcast
    * the (small) query side across the full table, per-query window
    * rank. Scores rounded to 4 decimals before ranking so ordering is
    * reproducible across engines; ties broken by vec_id. */
  def topK(embeddings: DataFrame, maxQueryId: Long, k: Int = 10): DataFrame =
    topKOver(embeddings, embeddings, maxQueryId, k)

  /** [[topK]] with SEPARATE corpus and query frames — the ground-truth
    * form deletion telemetry needs: after a retire pass the corpus is
    * the SURVIVORS but a retired id still probes (external callers are
    * not corpus members), so the query side must come from the full
    * table. Self-matches are excluded by id, as in [[topK]]. */
  def topKOver(corpus: DataFrame, queries: DataFrame,
               maxQueryId: Long, k: Int = 10): DataFrame =
    rankTopK(prepared(corpus), queryRows(prepared(queries), maxQueryId), Nil, k)

  /** The query side of an all-pairs top-k: every vector with
    * vec_id < maxQueryId as a `(q_id, qv, qn)` row. */
  private def queryRows(e: DataFrame, maxQueryId: Long): DataFrame =
    e.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** IVF-style top-k: candidates restricted to the query's coarse
    * cell (`label` = centroid-cell id, standing in for a k-means
    * assignment). The join is an equality join on the cell key — at
    * scale each query probes one cell, not the corpus. */
  def topKIvf(embeddings: DataFrame, maxQueryId: Long, k: Int = 3): DataFrame = {
    val e = prepared(embeddings)
    val q = e.filter(col("vec_id") < maxQueryId)
      .select(col("label"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", round(cosine(col("v"), col("nrm"), col("qv"), col("qn")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("label"), col("score"))
  }

  /** Brute-force near-duplicate pairs (cosine >= threshold, i < j).
    * O(n²) by construction — the correctness baseline and OpsSpec's
    * recall yardstick for [[nearDupPairsLsh]]. Deliberately NOT a
    * registry query: the scale path is [[nearDupPairsLsh]], and the
    * registry's plan audit rejects cartesian shapes unconditionally. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = prepared(embeddings)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("score", round(cosine(col("va"), col("na"), col("vb"), col("nb")), 4))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Deterministic k-means (Lloyd) coarse quantizer for a real IVF
    * index — replaces the fixture `label` stand-in with learned cells.
    *
    * Seeding: the k lowest vec_ids (deterministic across runs and
    * engines — no RNG in the hot path). Each iteration is one narrow
    * assignment pass (k codegen'd dot products per row, argmin) plus
    * one element-wise mean: `posexplode` → groupBy(cell, dim) → avg —
    * a shuffle of n·d skinny rows with map-side combine. Centroids
    * (k·d doubles) ride to executors as literals; only they ever
    * reach the driver. At 100 TB: iterations are O(scan), k·d is tiny,
    * and the final assignment is the partition key that makes every
    * later probe O(corpus/k).
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8, iters: Int = 2): Array[Array[Double]] = {
    val e = prepared(embeddings)
    var centroids: Array[Array[Double]] = e.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    (0 until iters).foreach { _ =>
      val assigned = assignCells(e, centroids)
      // bounded collect: exactly k·d rows (the LEARNED-quantizer k —
      // a caller-dialed handful, not the corpus-scaled ⌈√n⌉ of the
      // sampled index), aggregated map-side before the driver sees it
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCell = means.groupBy(_._1)
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(ms) => ms.sortBy(_._2).map(_._3).toArray
          case None     => centroids(c) // empty cell keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid assignment: k dot-product distances per row,
    * argmin by (distance, cell) with first-index tie-break.
    * d(v,c)² = |v|² − 2·v·c + |c|²; |v|² is constant per row, so
    * comparing −2·v·c + |c|² suffices. One native codegen'd expression
    * ([[graft.functions.NearestCellF64]]) rather than k inlined
    * literal-array dot columns: the matrix rides the plan as a single
    * referenced constant, so the generated method stays small and
    * JIT-compiled at corpus-scaled k (the inlined form fell out of
    * compiled execution past a few dozen cells — see the expression's
    * scaladoc for the measurement). */
  def assignCells(prepared: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    prepared.withColumn("cell",
      graft.functions.NearestCell(col("v"), centroids))

  /** Query side of an IVF probe: each query exploded to its `nProbe`
    * nearest cells as `(cell, q_id, qv, qn)` rows — the native
    * [[graft.functions.NearestCellsF64]] arg-top-n, so the centroid
    * matrix rides the plan as ONE referenced constant exactly like the
    * assignment side ([[assignCells]]). The former declarative form
    * (an `array(...)` of k scored literal columns, struct-sorted and
    * sliced) embedded k·d literal doubles in the expression tree —
    * fine at fixture k, but at corpus-scaled k (⌈√n⌉ ≈ 31k cells at
    * 10⁹ vectors) the tree itself is a planning/driver-memory cost and
    * the generated method falls out of JIT compilation
    * ([[graft.functions.NearestCellF64]]'s measurement). Ranking is
    * (score, cell) ascending with the first-min tie-break — the same
    * `ORDER BY s, cell` the DuckDB oracles state, unchanged. */
  def probeQueries(queries: DataFrame, cs: Array[Array[Double]], nProbe: Int): DataFrame =
    queries
      .withColumn("probe_cell",
        explode(graft.functions.NearestCell.top(col("v"), cs, nProbe)))
      .select(col("probe_cell").as("cell"),
        col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** Probe + rank over a cell assignment (`vec_id, v, nrm, cell` —
    * built inline by [[topKIvfKmeans]]; the flat [[AnnIndex.topK]]
    * runs the same [[rankTopK]] over its persisted table): equality
    * join on the probed cell, exact cosine, per-query top-k. */
  def probeIndex(index: DataFrame, probes: DataFrame, k: Int): DataFrame =
    rankTopK(index, probes, Seq("cell"), k)

  /** A candidate codec: the query-side terms it adds to the probe frame
    * (`qbasis`/`t` for SQ8, `qtbl` for PQ, plus `qctr` for residual
    * PQ), the approximate score it ranks candidates by over its code
    * column, and how many candidates per query survive to the exact
    * rerank. */
  private[ops] final case class Scoring(terms: DataFrame => DataFrame, approx: Column,
                                        codes: String, rerank: Int)

  /** THE candidate → rerank → rank-k tail every top-k path shares —
    * brute force, the inline IVF/SQ/PQ/residual-PQ compositions, and
    * every stored [[AnnIndex.topK]] probe. `index` rows (vec_id, v,
    * nrm, the `on` keys and the scoring's code column) pair with the
    * broadcast `probes` (q_id, qv, qn, the `on` keys) on `on` — all
    * pairs when empty — self-matches excluded by id. Exact: rank every
    * pair by cosine. With a [[Scoring]]: the candidate pass reads ONLY
    * (vec_id, nrm, keys, codes) — parquet column pruning keeps `v` out
    * of it — ranks by the approximate score, and only the `rerank`
    * survivors per query re-read full vectors for the exact cosine.
    * Both rankings break ties by vec_id, and scores are rounded to 4
    * decimals before the final ranking so ordering is reproducible
    * across engines. */
  private[ops] def rankTopK(index: DataFrame, probes: DataFrame, on: Seq[String], k: Int,
                            scoring: Option[Scoring] = None): DataFrame = {
    def pairs(side: DataFrame, q: DataFrame): DataFrame =
      if (on.isEmpty) side.join(broadcast(q), col("vec_id") =!= col("q_id"))
      else side.join(broadcast(q), on).filter(col("vec_id") =!= col("q_id"))
    def best(df: DataFrame, by: String, n: Int): DataFrame =
      df.withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col(by).desc, col("vec_id").asc)))
        .filter(col("rn") <= n)
    val exact = scoring match {
      case None => pairs(index, probes)
      case Some(s) =>
        val cands = best(pairs(index.select((Seq("vec_id", "nrm") ++ on :+ s.codes).map(col): _*),
            s.terms(probes)).withColumn("approx", s.approx), "approx", s.rerank)
          .select(col("q_id"), col("vec_id"), col("qv"), col("qn"))
        index.select(col("vec_id"), col("v"), col("nrm")).join(broadcast(cands), Seq("vec_id"))
    }
    best(exact.withColumn("score", round(cosine(col("v"), col("nrm"), col("qv"), col("qn")), 4)),
        "score", k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("score"))
  }

  /** IVF top-k with a learned quantizer: fit (or pass) centroids,
    * assign the corpus once, probe only the query's `nProbe` nearest
    * cells. Recall/cost dial = nProbe/k. */
  def topKIvfKmeans(embeddings: DataFrame, maxQueryId: Long, k: Int = 10,
                    nCells: Int = 8, nProbe: Int = 2,
                    centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cs = centroids.getOrElse(kmeansCentroids(embeddings, nCells))
    val e = assignCells(prepared(embeddings), cs)
    val q = probeQueries(prepared(embeddings).filter(col("vec_id") < maxQueryId), cs, nProbe)
    probeIndex(e, q, k)
  }

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** Deterministic pseudo-random double in [-0.5, 0.5) derived from
    * md5(tag): top 48 bits of the digest scaled to the unit interval.
    * Engine-independent (the md5 trick already differentially proven
    * by the MinHash oracle), so plane/centroid matrices built from it
    * can be embedded as identical literals in the Spark plan AND the
    * DuckDB oracle SQL — making the LSH scale path fully
    * hash-checkable instead of rows-only. */
  def md5Unit(tag: String): Double = {
    val x = java.lang.Long.parseLong(md5hex(tag).substring(0, 12), 16)
    x.toDouble / (1L << 48).toDouble - 0.5
  }

  /** The fixed hyperplane matrix for [[nearDupPairsLsh]]. Uniform in
    * [-0.5,0.5)^dim rather than Gaussian — for sign-bit LSH only the
    * plane's direction matters and the uniform cube is direction-rich
    * enough; determinism across engines is what buys the oracle. */
  def lshPlanes(nPlanes: Int = 16, dim: Int = 64): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)((p, d) => md5Unit(s"plane:$p:$d"))

  /** Fixed (data-independent) coarse centroids for the differential
    * form of the IVF probe+rank — the Lloyd fit itself is pinned by
    * OpsSpec (planted clusters + recall-vs-brute), this matrix makes
    * the assignment/probe/rank stage DuckDB-expressible. */
  def fixedCentroids(nCells: Int = 8, dim: Int = 64): Array[Array[Double]] =
    Array.tabulate(nCells, dim)((c, d) => md5Unit(s"centroid:$c:$d"))

  /** Data-sampled coarse centroids: the embeddings of the k vec_ids
    * that rank first by md5("seed:" || vec_id) — a deterministic
    * uniform sample FROM THE CORPUS (k-means++ step-0 seeding, no
    * Lloyd iterations), fully oracle-expressible because both engines
    * compute the identical md5 order and read the identical floats.
    *
    * Why not [[fixedCentroids]] for anything whose cost is quadratic
    * in cell occupancy: random off-distribution centroids do not adapt
    * to data density, so one centroid keeps owning the corpus's dense
    * region as k grows — measured on the embeddings tiers (SCALING.md),
    * the hottest cell held ~9% of the corpus at EVERY scale
    * (occ_max 1145→18466 from 2k→200k vectors) and the within-cell
    * candidate count grew as n² (candidates/vector 510→4002 for a
    * 1000-target). Sampling centroids from the data puts ~occupancy/n
    * of them inside every dense region, splitting it: the same tiers
    * measure occ_max ~1.2k FLAT and candidates/vector ~502 at every n
    * — the ~n·target/2 linear cost the SemDeDup cell formula assumes.
    *
    * The k·dim collect is bounded and deliberate (same contract as
    * [[kmeansCentroids]]): centroids ride to executors as one
    * referenced plan constant ([[graft.functions.NearestCellF64]]),
    * nothing corpus-sized reaches the driver. That holds to
    * k ~ thousands; a billion-vector corpus (k ~ 10⁶ at 1000/cell)
    * outgrows literals and takes the standard two-level quantizer —
    * √k sampled coarse cells by this method, then the same method
    * again within each coarse cell — without changing the plan shape
    * downstream of `cell`: built as [[topKIvf2]] (registry entry
    * `topk_ivf2`, hash-checked at both levels). */
  def sampledCentroids(prepared: DataFrame, k: Int): Array[Array[Double]] =
    sampledRowsBy(prepared, k, "seed:")

  /** [[sampledCentroids]] under a caller-chosen hash tag — an
    * INDEPENDENT deterministic sample. The tag matters whenever two
    * samples of the same corpus must not collide: [[topKIvfRpq]]'s
    * residual codebook seeds ("rseed:") must be disjoint-by-
    * construction from the "seed:"-ranked cell quantizer, because a
    * seed row that IS a centroid row residualizes to the zero vector
    * (its nearest cell is itself) — with the shared tag every ksub ≤ k
    * seed did exactly that, an all-zero codebook whose ADC carried no
    * signal (recall 0.146 flat across nProbe, caught by the probe;
    * the hash check passed because the oracle computed the same
    * zeros — differential identity is necessary, not sufficient). */
  def sampledRowsBy(prepared: DataFrame, k: Int, tag: String): Array[Array[Double]] =
    prepared
      .withColumn("h", md5(concat(lit(tag), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)

  /** Integer-exact smallest x with x² ≥ n, as a Column — the per-group
    * form of [[AnnIndex.annCellsFor]]'s search loop. floor(sqrt(n)) on
    * an exact integer is correctly rounded in IEEE double (identical
    * in Spark and DuckDB), and the three-branch correction absorbs the
    * at-most-±1 the floor can be off by — so both engines compute the
    * same k with no floating comparison left to diverge. */
  private[ops] def intSqrtCeil(n: Column): Column = {
    val s = floor(sqrt(n.cast("double"))).cast("long")
    when((s - lit(1L)) * (s - lit(1L)) >= n, s - lit(1L))
      .when(s * s >= n, s)
      .otherwise(s + lit(1L))
  }

  /** Two-level IVF — the documented fix for the single-level
    * quantizer's literal-capacity knee (see [[sampledCentroids]]): a
    * billion-vector corpus wants k ~ 10⁶ cells at ~1000 vectors each,
    * far past what a centroid matrix riding the plan as one literal
    * can carry. Here the only literal is the COARSE quantizer —
    * kc = annCellsFor(annCellsFor(n)) ≈ n^¼ md5-sampled centroids
    * ([[sampledCentroids]], the proven method at level 1) — and the
    * fine quantizer is DATA, not plan: within each coarse cell, the
    * ⌈√occupancy⌉ md5-rank-first members of THAT cell (the same
    * sampling method applied per cell, occupancy-adaptive by
    * construction), materialized as a (ccell, fcell, centroid)
    * relation that reaches executors as a broadcast join keyed on the
    * coarse cell. Total fine cells ≈ Σ⌈√occ_c⌉ and nothing is ever a
    * k-sized literal, so the structure holds at any n.
    *
    * Plan shape downstream of the (ccell, fcell) key is UNCHANGED
    * from single-level IVF: equality-join candidates, exact cosine,
    * per-query top-k — exactly as promised where the seam was
    * documented. Assignment cost per vector is kc coarse scores (one
    * codegen'd [[graft.functions.NearestCellF64]] pass) plus
    * ⌈√occ⌉ fine scores via the broadcast join with a map-side-combined
    * `min_by` argmin — no shuffle wider than n rows anywhere in the
    * build, and the probe reads only the probed fine cells' members.
    *
    * Fully differential: md5 sampling at both levels, the integer-exact
    * [[intSqrtCeil]] per-cell sizing, and (score, cell) first-min
    * tie-breaks are all DuckDB-expressible, so the registry entry
    * hash-checks every stage. */
  /** The coarse+fine structure [[topKIvf2]] probes, exposed so the
    * spec can pin the capacity claims directly: returns (coarse
    * centroid matrix — the ONLY literal, ~n^¼ rows; fine quantizer
    * relation `(ccell, fcell, fv, f2)` — ⌈√occ⌉ rows per coarse cell;
    * full assignment `(vec_id, ccell, v, nrm, fcell)`). */
  def ivf2Structure(embeddings: DataFrame): (Array[Array[Double]], DataFrame, DataFrame) = {
    val e = prepared(embeddings)
    ivf2StructureOf(e, e.count())
  }

  /** [[ivf2Structure]] over an already-prepared corpus with a known
    * count — the form [[topKIvf2]] uses so one top-k call pays ONE
    * prepared projection and ONE count job for its whole setup instead
    * of re-deriving them per stage (each re-derivation was a separate
    * full-corpus driver job). */
  /** Corpus size past which the gen-2 BUILD no longer forces the fine
    * quantizer broadcast: n^(5/8)·550 B crosses ~1 GB near n = 4×10⁹
    * (see the knee comment at the join and SCALING.md). */
  val Ivf2FineBroadcastKneeN: Long = 4L * 1000L * 1000L * 1000L

  def ivf2StructureOf(e: DataFrame, n: Long): (Array[Array[Double]], DataFrame, DataFrame) = {
    val coarse = sampledCentroids(e, AnnIndex.annCellsFor(AnnIndex.annCellsFor(n)))
    val (fine, asg) = ivf2Levels(e, n, coarse)
    (coarse, fine, asg)
  }

  /** The two-level structure below a given coarse matrix: the fine
    * quantizer relation and the full assignment — [[ivf2StructureOf]]'s
    * body, and the two-level [[AnnIndex.Layout]]'s build (which samples
    * the coarse matrix together with its PQ codebook). */
  private[ops] def ivf2Levels(e: DataFrame, n: Long,
                              coarse: Array[Array[Double]]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val casg = assignCells(e, coarse).withColumnRenamed("cell", "ccell")
    // fine quantizer relation: per coarse cell, its ⌈√occ⌉ first
    // members in md5-rank order; |fctr|² precomputed once here rather
    // than per scored pair
    val wRank = Window.partitionBy(col("ccell")).orderBy(col("h"), col("vec_id"))
    val wCell = Window.partitionBy(col("ccell"))
    val fine = casg
      .withColumn("h", md5(concat(lit("seed:"), col("vec_id").cast("string"))))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(wCell))
      .filter(col("rnk") <= intSqrtCeil(col("cnt")))
      .select(col("ccell"), (col("rnk") - 1).cast("int").as("fcell"),
        col("v").as("fv"), dot(col("v"), col("v")).as("f2"))
    // KNEE: the fine relation is ~Σ⌈√occ⌉ ≈ n^(5/8) rows at ~550 B/row
    // (d=64 doubles + keys) — ~230 MB at n = 10⁹, a sane build-time
    // broadcast; past ~4×10⁹ it outgrows the practical broadcast
    // envelope, so the hint applies only below the knee and the join
    // is left to Catalyst/AQE above it (this is the BUILD-side join
    // only — probe-side fine scans are coarse-cell-filtered and far
    // below the knee at any n). Measured capacity table: SCALING.md.
    (fine, assignFine(casg, if (n <= Ivf2FineBroadcastKneeN) broadcast(fine) else fine))
  }

  /** Fine assignment of coarse-assigned rows (`vec_id, ccell, v, nrm`):
    * score each row only against its own coarse cell's fine centroids,
    * argmin with the same (score, cell) first-min tie-break as
    * assignCells — min_by over a struct key combines map-side, so the
    * assignment never shuffles more than n rows. Shared by the build
    * and the stored index's append (against the stored relation). */
  private[ops] def assignFine(casg: DataFrame, fine: DataFrame): DataFrame =
    casg.join(fine, Seq("ccell"))
      .withColumn("s", lit(-2.0) * dot(col("v"), col("fv")) + col("f2"))
      .groupBy(col("vec_id")).agg(
        first(col("ccell")).as("ccell"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        min_by(col("fcell"), struct(col("s"), col("fcell"))).as("fcell"))

  def topKIvf2(embeddings: DataFrame, maxQueryId: Long, k: Int = 5,
               nProbeCoarse: Int = 2, nProbeFine: Int = 3): DataFrame = {
    val e = prepared(embeddings)
    val (coarse, fine, asg) = ivf2StructureOf(e, e.count())
    probeIvf2(coarse, fine, asg, e.filter(col("vec_id") < maxQueryId),
      k, nProbeCoarse, nProbeFine)
  }

  /** The two-level probe+rank over an (coarse, fine, asg) structure —
    * the inline [[topKIvf2]]'s, built from the same [[fineProbes]] and
    * [[rankTopK]] the persisted two-level [[AnnIndex.topK]] runs over
    * its stored tables, so the two paths cannot drift: nProbeCoarse
    * nearest coarse cells (literal matrix — small by construction),
    * then the probed cells' fine centroids ranked TOGETHER per query,
    * top nProbeFine overall, equality-join candidates, exact cosine,
    * per-query top-k. */
  def probeIvf2(coarse: Array[Array[Double]], fine: DataFrame, asg: DataFrame,
                queries: DataFrame, k: Int,
                nProbeCoarse: Int, nProbeFine: Int): DataFrame =
    rankTopK(asg, fineProbes(probeQueries(queries, coarse, nProbeCoarse), fine, nProbeFine),
      Seq("ccell", "fcell"), k)

  /** The fine probe: each coarse-probed query row (`cell, q_id, qv,
    * qn`, plus any codec terms; the cell becomes `ccell`) joined with
    * its coarse cell's fine centroids, and the nProbeFine best
    * (s, ccell, fcell) kept per query across ALL its probed coarse
    * cells. */
  private[ops] def fineProbes(qc: DataFrame, fine: DataFrame, nProbeFine: Int): DataFrame = {
    val wQ = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("s"), col("ccell"), col("fcell"))
    qc.withColumnRenamed("cell", "ccell").join(broadcast(fine), Seq("ccell"))
      .withColumn("s", lit(-2.0) * dot(col("qv"), col("fv")) + col("f2"))
      .withColumn("prn", row_number().over(wQ))
      .filter(col("prn") <= nProbeFine)
      .drop("fv", "f2", "s", "prn")
  }

  /** Per-dimension affine scalar-quantization (SQ8) parameters over
    * the corpus: (min, max) per dimension, collected to two d-length
    * driver arrays (d = 64 here — bounded like the centroid matrices,
    * nothing corpus-sized reaches the driver). One posexplode →
    * map-side-combined min/max agg: the only corpus pass quantization
    * ever needs. */
  def sqParams(embeddings: DataFrame, dim: Int = 64): (Array[Double], Array[Double]) =
    sqParamsOf(prepared(embeddings), dim)

  /** [[sqParams]] over an already-prepared corpus — shared by the
    * inline SQ paths and [[AnnIndex.ensureBuilt]]'s write-time
    * quantization, so neither pays a second prepared projection. */
  def sqParamsOf(prep: DataFrame, dim: Int = 64): (Array[Double], Array[Double]) = {
    val rows = prep
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(rows.length == dim, s"expected $dim dims, saw ${rows.length}")
    (rows.map(_._2), rows.map(_._3))
  }

  /** SQ8 codes: each dimension affine-quantized to an integer in
    * [0, 255] — `floor((x − mn)·255 / (mx − mn))` clamped, 0 for a
    * constant dimension. The IEEE sequence (subtract, ×255, divide,
    * floor) is stated once here and mirrored verbatim in the oracle, so
    * the codes are bit-identical across engines.
    *
    * This is the memory/IO side of ANN at 100 TB: a 64-dim float
    * vector is 256 bytes; its code row is 64 small ints that parquet
    * bit-packs to ~1 byte each — the candidate-scan side of a probe
    * reads ~4× fewer bytes (8× vs double), and executor cache holds 4×
    * more of the corpus. The full-precision vector is kept ONLY for
    * the rerank stage, which touches `rerank` rows per query, not the
    * scan. The stored norm (8 bytes) rides along — standard SQ
    * practice, so approximate COSINE needs no second pass. Build cost:
    * one interpreted transform per row, paid once at write time (the
    * probe-side scan only ever sees the codes). */
  def sqQuantize(embeddings: DataFrame, mns: Array[Double], mxs: Array[Double]): DataFrame =
    prepared(embeddings).select(col("vec_id"), col("nrm"),
      sqCodesCol(col("v"), mns, mxs).as("codes"))

  /** The SQ8 code array as a Column over a prepared double vector —
    * the single owner of the quantization IEEE sequence, so the inline
    * paths, [[AnnIndex]]'s write-time encode, and the oracle can never
    * drift onto different code books. */
  def sqCodesCol(v: Column, mns: Array[Double], mxs: Array[Double]): Column = {
    val d = mns.length
    val mnL = array(mns.map(lit): _*)
    val mxL = array(mxs.map(lit): _*)
    transform(sequence(lit(0), lit(d - 1)), i => {
      val x = element_at(v, i + 1)
      val mn = element_at(mnL, i + 1)
      val mx = element_at(mxL, i + 1)
      when(mx === mn, lit(0))
        .otherwise(least(greatest(
          floor((x - mn) * lit(255.0) / (mx - mn)), lit(0.0)), lit(255.0)).cast("int"))
    })
  }

  /** The SQ8 [[Scoring]]: per-query `qbasis`/`t` terms and the
    * decomposed approximate cosine over the `codes` column (see
    * [[topKSq]] for the algebra). steps_d = (mx−mn)/255 and
    * basis_d = mn + 0.5·step are driver-computed ONCE from the params —
    * the IEEE sequences every SQ consumer (inline and stored) states
    * identically with the oracles. */
  private[ops] def sq8Scoring(mns: Array[Double], mxs: Array[Double], rerank: Int): Scoring = {
    val steps = mns.indices.map(i => (mxs(i) - mns(i)) / 255.0).toArray
    val basis = mns.indices.map(i => mns(i) + 0.5 * steps(i)).toArray
    val stepL = array(steps.map(lit): _*)
    val basisL = array(basis.map(lit): _*)
    Scoring(
      _.withColumn("qbasis", dot(col("qv"), basisL))
        .withColumn("t", zip_with(col("qv"), stepL, (a, b) => a * b)),
      (col("qbasis") + dot(col("t"), col("codes").cast("array<double>"))) /
        (col("nrm") * col("qn")),
      "codes", rerank)
  }

  /** SQ8 top-k with exact rerank: rank the full corpus by APPROXIMATE
    * cosine computed from the codes, keep `rerank` candidates per
    * query, then score only those with the exact full-precision cosine
    * and emit the final top-k — the standard quantize-then-rerank
    * serving shape (faiss's SQ8, ScaNN's AH stage).
    *
    * The approximate dot is the exact algebra of the midpoint
    * reconstruction `x̂_d = mn_d + (code_d + 0.5)·step_d`, regrouped so
    * the per-ROW work is ONE native codegen'd dot product over the
    * code array ([[graft.functions.VectorExprs]]): with
    * `basis_d = mn_d + 0.5·step_d` and the per-QUERY vector
    * `t_d = q_d·step_d`,
    * `dot(q, x̂) = dot(q, basis) + dot(t, codes)` — the first term and
    * `t` are computed once per query on the tiny broadcast side. The
    * decomposed IEEE sequence is the operator's DEFINITION and the
    * oracle mirrors it term by term, so candidate selection is
    * bit-reproducible (raw-double ranking, vec_id tiebreak) even
    * though it is numerically ≠ a naive Σ q_d·x̂_d fold.
    *
    * At scale: the candidate pass scans codes (bit-packed bytes) —
    * combine with the IVF cell key for bucket pruning exactly as the
    * full-precision scan does; the rerank join back to full vectors is
    * a broadcast of queries×rerank (q_id, vec_id) pairs against the
    * corpus — with a vec_id-bucketed layout it touches only the
    * candidates' buckets. */
  def topKSq(embeddings: DataFrame, maxQueryId: Long, k: Int = 10,
             rerank: Int = 20, dim: Int = 64): DataFrame = {
    // ONE prepared projection feeds params, codes, queries and the
    // rerank scan; the candidate pass reads only the code column
    val e = prepared(embeddings)
    val (mns, mxs) = sqParamsOf(e, dim)
    rankTopK(e.withColumn("codes", sqCodesCol(col("v"), mns, mxs)), queryRows(e, maxQueryId),
      Nil, k, Some(sq8Scoring(mns, mxs, rerank)))
  }

  /** Product quantization (PQ) with asymmetric distance scoring — the
    * sub-byte tier BEYOND SQ8 (faiss IVF-PQ's code shape): the vector
    * is split into `m` subspaces of dim/m dims, each subspace coded as
    * the index of its nearest of `ksub` subspace centroids, so a
    * 64-dim float vector (256 B) stores as m=8 4-bit codes (4 B —
    * 16× smaller than SQ8's ~64 B). The candidate pass never touches
    * vectors OR reconstructions: each query precomputes an m×ksub
    * inner-product TABLE against the codebook (the "asymmetric"
    * half — queries stay full-precision), and a candidate's
    * approximate dot is m table lookups — `Σ_j qtbl[j][codes[j]]` —
    * then `rerank` survivors per query re-score exactly.
    *
    * Codebook = the ksub md5-rank-first corpus rows ([[
    * sampledCentroids]] — the same proven sampling as the IVF
    * quantizers), subspace j's centroid i being that row's j-th
    * slice: ONE ksub×dim literal rides the plan (16×64 doubles —
    * tiny at any corpus size, unlike a learned k·d codebook).
    * Assignment distances, the query tables, and the ADC fold are all
    * stated as EXPLICIT left-associated arithmetic chains (generated
    * here, mirrored textually in the DuckDB oracle), so every double
    * is the same IEEE sequence in both engines and the registry entry
    * hash-checks the whole quantize→table→scan→rerank shape.
    *
    * At scale: this inline form's scan side reads m small ints per
    * row; the STORED index packs the same codes to a PHYSICAL
    * 4 bits/dim ([[AnnIndex]]'s nibble-packed binary `pqcodes`
    * column, decoded inside the generated ADC loop). The per-pair
    * cost is m lookups + m−1 adds (vs
    * dim mults for SQ8's decomposed dot); composes with the IVF cell
    * key for bucket pruning exactly like [[topKIvfSq]]; the rerank
    * join touches queries×rerank full vectors only. */
  def topKPq(embeddings: DataFrame, maxQueryId: Long, k: Int = 10,
             m: Int = 8, ksub: Int = 16, rerank: Int = 30,
             dim: Int = 64,
             codebookIn: Option[Array[Array[Double]]] = None): DataFrame = {
    val e = prepared(embeddings)
    val cb = pqCodebook(e, ksub, codebookIn)
    rankTopK(e.withColumn("codes", pqCodesCol(col("v"), cb, m)), queryRows(e, maxQueryId),
      Nil, k, Some(pqScoring(cb, m, rerank)))
  }

  /** The full faiss IVF-PQ serving shape: the √n sampled cell
    * quantizer bounds WHICH rows a probe touches ([[topKIvfSq]]'s cell
    * key), the 4-bit PQ codes bound the BYTES and the per-pair work
    * (m table lookups instead of dim multiplies), exact rerank keeps
    * emitted scores full-precision — cell pruning, the code scan, and
    * the ADC fold all mirrored in one oracle statement. */
  def topKIvfPq(embeddings: DataFrame, maxQueryId: Long, k: Int = 5,
                nProbe: Int = 2, m: Int = 8, ksub: Int = 16,
                rerank: Int = 30, dim: Int = 64): DataFrame = {
    val e = prepared(embeddings)
    val cs = sampledCentroids(e, AnnIndex.annCellsFor(e.count()))
    val cb = pqCodebook(e, ksub)
    // the inline form of a stored (cell, codes) bucket row
    rankTopK(assignCells(e, cs).withColumn("codes", pqCodesCol(col("v"), cb, m)),
      probeQueries(e.filter(col("vec_id") < maxQueryId), cs, nProbe),
      Seq("cell"), k, Some(pqScoring(cb, m, rerank)))
  }

  /** IVF × RESIDUAL-PQ — the standard faiss IVF-PQ encoding
    * refinement this family's raw-vector codes lacked: instead of
    * quantizing `v` directly, each row's codes quantize the RESIDUAL
    * `v − centroid(cell)` to its assigned IVF cell. Residuals are
    * centered near zero with far smaller spread than raw vectors, so
    * the same ksub-codebook budget spends its resolution where the
    * rows of one cell actually differ — the recall lever after the
    * learned codebook (SCALING.md dial table, `ivf_rpq` rows vs
    * `idx_pq` at matched dials). Decode adds the centroid term back
    * per probed cell: approx <q,v> ≈ <q, centroid(cell)> + ADC(q, r),
    * where `<q, centroid(cell)>` is one per-(query, probed-cell) dot
    * ([[graft.functions.DotCellF64]]) riding the tiny broadcast side
    * and the ADC fold is unchanged. The residual CODEBOOK stays
    * deterministic and oracle-expressible: ksub rows sampled under an
    * INDEPENDENT hash tag ([[sampledRowsBy]] "rseed:" — the shared
    * "seed:" tag would hand back the quantizer's own rows, whose
    * residuals are identically zero; see that method's scaladoc) minus
    * their OWN cell centroids — no learning, so the whole
    * assign→residualize→code→table→scan→rerank shape hash-checks in
    * one DuckDB statement (`topk_rpq`).
    *
    * At scale: identical serving economics to [[topKIvfPq]] — cell
    * pruning bounds WHICH rows, 4-bit codes bound the BYTES, the
    * centroid matrices ride the plan as reference objects (never
    * k·d literals), and the residual column exists only inside the
    * encode projection (one codegen'd subtract per row, fused into
    * the same stage as the code assignment — nothing residual-sized
    * is ever shuffled or stored). */
  def topKIvfRpq(embeddings: DataFrame, maxQueryId: Long, k: Int = 5,
                 nProbe: Int = 2, m: Int = 8, ksub: Int = 16,
                 rerank: Int = 30, dim: Int = 64,
                 codebookIn: Option[Array[Array[Double]]] = None): DataFrame = {
    val e = prepared(embeddings)
    val cs = sampledCentroids(e, AnnIndex.annCellsFor(e.count()))
    // residual codebook: ksub INDEPENDENTLY-sampled rows ("rseed:" —
    // see [[sampledRowsBy]]: a "seed:"-ranked seed would be one of the
    // cell centroids and residualize to zero) MINUS their own cell
    // centroid — assigned driver-side with the exact first-min
    // arithmetic of [[assignCells]]/the oracle's ROW_NUMBER(s, cell).
    // `codebookIn` is the [[topKPq]] seam one ring out: a RESIDUAL
    // codebook (e.g. [[learnedResidualCodebook]]) replaces the
    // sampled default — the probe's `ivf_rpq_learned` leg.
    val rcb: Array[Array[Double]] = codebookIn.getOrElse {
      val seeds = sampledRowsBy(e, ksub, "rseed:")
      require(seeds.length == ksub,
        s"residual codebook seed has ${seeds.length} rows, need exactly ksub=$ksub")
      seeds.map { row =>
        val c = cs(nearestCellIdx(row, cs))
        Array.tabulate(row.length)(d => row(d) - c(d))
      }
    }
    require(rcb.length == ksub,
      s"residual codebook has ${rcb.length} rows, need exactly ksub=$ksub")
    val codes = assignCells(e, cs).withColumn("codes", pqCodesCol(
      graft.functions.VectorExprs.vecMinusCell(col("v"), col("cell"), cs), rcb, m))
    val residual = Scoring(
      q => pqQueryTbl(q.withColumn("qctr",
        graft.functions.VectorExprs.dotCell(col("qv"), col("cell"), cs)), rcb, m),
      (col("qctr") + graft.functions.VectorExprs.pqAdc(col("codes"), col("qtbl"), ksub)) /
        (col("nrm") * col("qn")),
      "codes", rerank)
    rankTopK(codes, probeQueries(e.filter(col("vec_id") < maxQueryId), cs, nProbe),
      Seq("cell"), k, Some(residual))
  }

  /** Driver-side twin of [[graft.functions.NearestCellF64]]'s argmin —
    * same ascending 0.0-seeded dot and |c|² loops, same strict-<
    * first-min tie-break — for residualizing the handful of codebook
    * seed rows without a Spark job. */
  private[graft] def nearestCellIdx(v: Array[Double],
                                    cs: Array[Array[Double]]): Int = {
    var best = -1
    var bestS = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      val n = math.min(ctr.length, v.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += ctr(i) * v(i); i += 1 }
      var c2 = 0.0
      var j = 0
      while (j < ctr.length) { c2 += ctr(j) * ctr(j); j += 1 }
      val s = -2.0 * dot + c2
      if (s < bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  /** LEARNED residual codebook — [[learnedPqCodebook]]'s per-subspace
    * Lloyd fit run over the RESIDUAL frame `v − centroid(cell)`
    * instead of raw vectors: the full faiss IVF-PQ training recipe
    * (residual encode × learned book), the pairing
    * [[topKIvfRpq]]'s `codebookIn` seam exists for. Seeded under the
    * "rseed:" tag for the same zero-residual reason as the sampled
    * default ([[sampledRowsBy]]); one extra corpus pass builds the
    * residual frame (the codegen'd [[graft.functions.VecMinusCellF64]]
    * subtract fused into the assignment projection), then each Lloyd
    * iteration is [[learnedPqCodebookOf]]'s bounded-collect pass
    * unchanged. Recall measured as the probe's `ivf_rpq_learned` leg;
    * like the raw learned book it stays OFF the oracle-checked
    * default (iterative artifact — the sampled residual book is the
    * single-statement-expressible one). */
  def learnedResidualCodebook(embeddings: DataFrame, m: Int = 8,
                              ksub: Int = 16, dim: Int = 64,
                              iters: Int = 2): Array[Array[Double]] = {
    val e = prepared(embeddings)
    val cs = sampledCentroids(e, AnnIndex.annCellsFor(e.count()))
    val res = assignCells(e, cs).select(col("vec_id"),
      graft.functions.VectorExprs.vecMinusCell(col("v"), col("cell"), cs).as("v"))
    learnedPqCodebookOf(res, m, ksub, dim, iters, seedTag = "rseed:")
  }

  /** The PQ codebook of the inline forms: the caller's, or the ksub
    * md5-rank-first corpus rows. */
  private def pqCodebook(e: DataFrame, ksub: Int,
                         codebookIn: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    val cb = codebookIn.getOrElse(sampledCentroids(e, ksub))
    // the ADC fold's generated getDouble(j*ksub+code) gather trusts
    // the table stride: a codebook shorter than ksub (corpus < ksub
    // rows, or a mismatched stored artifact) would read out of bounds
    // on UnsafeArrayData — silently wrong scores, not an error
    require(cb.length == ksub,
      s"PQ codebook has ${cb.length} rows, need exactly ksub=$ksub")
    cb
  }

  /** The PQ [[Scoring]]: per-query m×ksub inner-product tables
    * ([[pqQueryTbl]]) and the native ADC fold over the codes — the
    * inline `codes` array, or (`packed`) the stored index's
    * nibble-packed `pqcodes` column decoded inside the gather loop. */
  private[ops] def pqScoring(cb: Array[Array[Double]], m: Int, rerank: Int,
                             packed: Boolean = false): Scoring = {
    val adc =
      if (packed) graft.functions.VectorExprs.pqAdcPacked(col("pqcodes"), col("qtbl"), cb.length)
      else graft.functions.VectorExprs.pqAdc(col("codes"), col("qtbl"), cb.length)
    Scoring(pqQueryTbl(_, cb, m), adc / (col("nrm") * col("qn")),
      if (packed) "pqcodes" else "codes", rerank)
  }

  /** LEARNED PQ codebook — faiss-style per-subspace Lloyd behind
    * [[topKPq]]'s `codebookIn` seam. Subspace j's ksub centroids are
    * k-means over the corpus's j-th slices, seeded from the SAME
    * md5-rank-first sampled rows the default codebook uses (so a
    * recall comparison isolates the learning, not the seeding), and
    * assembled back into ksub FULL-dim rows (`codebookIn`'s shape:
    * row i's j-th slice is subspace j's centroid i).
    *
    * Each iteration is one corpus pass: the native per-subspace
    * assignment ([[pqCodesCol]] — m codegen'd [[NearestCell]] slices)
    * plus a posexplode → groupBy(subspace, code, dim) mean — map-side
    * combined, exactly ksub·dim rows collected (1024 doubles at the
    * default dials), the same bounded-collect contract as
    * [[kmeansCentroids]]. Lloyd monotonicity guarantees the
    * per-subspace quantization SSE never increases vs the sampled
    * seed (OpsSpec pins it), so the learned book is a pure quality
    * dial. The ORACLE-CHECKED default stays the sampled codebook
    * (deterministic, single-statement-SQL-expressible); this is the
    * production alternative whose recall delta [[graft.AnnRecallProbe]]
    * measures (`pq_learned` leg, SCALING.md dial table). */
  def learnedPqCodebook(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
                        dim: Int = 64, iters: Int = 2): Array[Array[Double]] = {
    learnedPqCodebookOf(prepared(embeddings), m, ksub, dim, iters)
  }

  /** [[learnedPqCodebook]] over an already-[[prepared]] frame — the
    * form the stored-index build paths call ([[AnnIndex.requantize]]'s
    * `live` frame has no raw `embedding` column to re-prepare). */
  private[graft] def learnedPqCodebookOf(e: DataFrame, m: Int = 8,
                                         ksub: Int = 16, dim: Int = 64,
                                         iters: Int = 2,
                                         seedTag: String = "seed:"): Array[Array[Double]] = {
    val dsub = dim / m
    var cb = sampledRowsBy(e, ksub, seedTag)
    // same guard as pqCodebook: the ADC gather trusts the ksub stride,
    // and a corpus with fewer than ksub rows would otherwise surface
    // as an opaque ArrayIndexOutOfBounds inside Array.tabulate below
    require(cb.length == ksub,
      s"PQ codebook seed has ${cb.length} rows, need exactly ksub=$ksub " +
        "(corpus smaller than ksub?)")
    (0 until iters).foreach { _ =>
      val means = e
        .select(pqCodesCol(col("v"), cb, m).as("codes"),
          posexplode(col("v")).as(Seq("d", "x")))
        .withColumn("j", (col("d") / dsub).cast("int"))
        .withColumn("code", element_at(col("codes"), col("j") + 1))
        .groupBy(col("j"), col("code"), col("d")).agg(avg(col("x")).as("mn"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      // empty clusters keep their previous centroid slice
      cb = Array.tabulate(ksub, dim) { (i, d) =>
        means.getOrElse((d / dsub, i, d), cb(i)(d))
      }
    }
    cb
  }

  /** PQ code column for a vector column against a FULL-ROW codebook
    * (subspace j's centroid i = codebook row i's j-th slice): per
    * subspace, first-min of -2·<sub,c> + |c|² over the ksub centroids
    * (the |sub|² term is rank-constant and dropped). The pass runs
    * through the NATIVE codegen'd [[graft.functions.NearestCellF64]]
    * on each subvector slice — its strict-< ascending scan is the
    * oracle's list_position(list_min) first-min, and its 0.0-seeded
    * ascending dot/|c|² loops produce the same values as the oracle's
    * explicit chains (a leading +0.0 can only flip a zero's sign,
    * which compares equal) — the interpreted higher-order-function
    * twin measured ~7× slower at sf1 (12.5 s → this shape). Shared by
    * the inline forms and [[AnnIndex]]'s stored-PQ build/append. */
  def pqCodesCol(v: Column, codebook: Array[Array[Double]], m: Int): Column = {
    val dim = codebook.head.length
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    array((0 until m).map { j =>
      graft.functions.NearestCell(
        slice(v, j * dsub + 1, dsub),
        codebook.map(_.slice(j * dsub, (j + 1) * dsub)))
    }: _*)
  }

  /** Decorate a query frame (with a `qv` vector column) with its
    * FLATTENED m×ksub asymmetric inner-product table (subspace-major),
    * so the per-pair fold is one native gather loop
    * ([[graft.functions.PqAdcF64]]) — same elements, same ascending-j
    * order as the oracle's nested indexing. Query frames are small, so
    * the interpreted transform here is off the hot path. */
  def pqQueryTbl(q: DataFrame, codebook: Array[Array[Double]], m: Int): DataFrame = {
    val dim = codebook.head.length
    val ksub = codebook.length
    val dsub = dim / m
    val dotChain = (1 to dsub).map(t =>
      s"element_at(qv, j*$dsub+$t) * element_at(element_at(cmat, i+1), j*$dsub+$t)")
      .mkString(" + ")
    q.withColumn("cmat", typedlit(codebook.map(_.toSeq).toSeq))
      .withColumn("qtbl", expr(
        s"flatten(transform(sequence(0, ${m - 1}), j -> " +
          s"transform(sequence(0, ${ksub - 1}), i -> $dotChain)))"))
      .drop("cmat")
  }

  /** IVF × SQ8 — the composed serving shape (faiss's IVF-SQ): cell
    * pruning bounds WHICH rows a probe touches, the 8-bit codes bound
    * the BYTES each touched row costs, and the exact rerank keeps
    * emitted scores full-precision. The candidate pass reads only the
    * probed cells' code rows (cell equality join, one native dot over
    * the code array per candidate); full vectors are read only by the
    * queries×rerank rerank join. The STORED form of this shape is
    * [[AnnIndex.topK]] with [[AnnIndex.Sq8]]: the codes live inside
    * the cell buckets (written once beside the assignment, the index's
    * physical layout) so a probe reads nProbe/k of the corpus at ~1
    * byte/dim instead of 4 — this inline form is its oracle-shaped
    * twin and the one-shot-batch path.
    *
    * Same quantizer recipe as the persisted index ([[AnnIndex]]:
    * `annCellsFor(n)` md5-sampled centroids) and the same SQ terms as
    * [[topKSq]], so every stage stays oracle-expressible. */
  def topKIvfSq(embeddings: DataFrame, maxQueryId: Long, k: Int = 5,
                nProbe: Int = 2, rerank: Int = 15, dim: Int = 64): DataFrame = {
    // one prepared projection and one count job for the whole setup
    // (quantizer sizing, centroid sample, SQ params, codes, queries,
    // rerank) — the per-invocation duplicate corpus passes are gone
    val e = prepared(embeddings)
    val cs = sampledCentroids(e, AnnIndex.annCellsFor(e.count()))
    val (mns, mxs) = sqParamsOf(e, dim)
    // the inline form of the stored index's (cell, codes) bucket rows
    rankTopK(assignCells(e, cs).withColumn("codes", sqCodesCol(col("v"), mns, mxs)),
      probeQueries(e.filter(col("vec_id") < maxQueryId), cs, nProbe),
      Seq("cell"), k, Some(sq8Scoring(mns, mxs, rerank)))
  }

  /** Corpus-scaled LSH banding parameters: (nPlanes, bitsPerBand).
    *
    * The scale invariant is CONSTANT BUCKET OCCUPANCY: with b bits per
    * band a band has 2^b buckets, so b must grow as log2(n) or each
    * bucket's membership — and with it the candidate join's quadratic
    * per-bucket term — grows linearly with the corpus (the classic
    * fixed-width LSH failure: 10× data → 100× candidate pairs).
    * b = smallest bits with 2^b · targetOccupancy ≥ n (integer-exact:
    * the same search loop is expressible in the DuckDB oracle, no
    * floating log2 whose rounding could diverge between engines).
    *
    * Wider bands lower per-band recall (P[collide] = s^b for bit-match
    * rate s), so the band COUNT grows alongside: m = max(4, 2b−4).
    * For genuine near-dups (cosine ≥ 0.9, s ≈ 0.86) recall stays
    * ≥ 0.93 through b = 16 under this pairing, while total candidate
    * work is m · n · occupancy/2 — linear in n with a log factor from
    * m. At n ≤ 2^4·32 = 512 this yields exactly the historical
    * default (16 planes, 4×4), so small-fixture behavior — and every
    * spec sentinel pinned on it — is unchanged.
    */
  def lshParamsFor(n: Long, targetOccupancy: Long = 32L): (Int, Int) = {
    require(n >= 0 && targetOccupancy > 0)
    val b = (4 to 32).find(b => (1L << b) >= (n + targetOccupancy - 1) / targetOccupancy)
      .getOrElse(32)
    val m = math.max(4, 2 * b - 4)
    (m * b, b)
  }

  /** Sign-bit banding shared by [[nearDupPairsLsh]] and
    * [[incrementalNearDupLsh]]: one row per (vector, band) carrying the
    * band's bitsPerBand-bit chunk — the LSH bucket key. Map-only; the
    * plane matrix rides as a broadcast literal. Band j owns planes
    * [j·bitsPerBand, (j+1)·bitsPerBand) — the layout the oracle SQL
    * mirrors with substr over the concatenated bit string. */
  def lshBanded(embeddings: DataFrame, nPlanes: Int = 16, dim: Int = 64,
                bitsPerBand: Int = 4): DataFrame = {
    require(bitsPerBand > 0 && nPlanes % bitsPerBand == 0,
      s"nPlanes=$nPlanes must be a multiple of bitsPerBand=$bitsPerBand")
    val nBands = nPlanes / bitsPerBand
    val planes = lshPlanes(nPlanes, dim)
    val planesCol = array(planes.map(p => array(p.map(lit): _*)): _*)
    prepared(embeddings)
      .withColumn("bits", transform(planesCol, p =>
        when(dot(col("v"), p) >= 0, 1).otherwise(0)))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)),
          b => concat_ws("", (0 until bitsPerBand).map(k =>
            element_at(col("bits"), b * bitsPerBand + k + 1).cast("string")): _*)))
          .as(Seq("band", "chunk")))
  }

  /** Session-shared banded corpus ([[SharedCaches]], "embed" family):
    * the three embedding near-dup entries (full, incremental,
    * incremental-apply) band the SAME corpus with the SAME
    * corpus-scaled params, and banding is the scan-heavy half of each
    * (n·m dot products) — one materialization feeds all of them.
    * Banding is row-local, so a FILTER of this base is a valid band
    * table for a filter of the vectors (the corpus/fresh split), the
    * same commute rule [[Dedup.sharedShingleRows]] documents. */
  def sharedLshBands(embeddings: DataFrame, nPlanes: Int,
                     bitsPerBand: Int, dim: Int = 64): DataFrame =
    SharedCaches.shared(lshBanded(embeddings, nPlanes, dim, bitsPerBand), "embed")

  /** Random-hyperplane LSH near-dup: sign bits from the fixed
    * md5-derived planes, banded bitsPerBand wide; candidates =
    * equality join on (band, chunk); verified by exact cosine. At
    * scale this is a narrow map + a bucket-keyed shuffle, never
    * all-pairs — PROVIDED the band width tracks the corpus: pass
    * [[lshParamsFor]](count) (as the registry does) so bucket
    * occupancy stays constant as n grows. The 16/4 defaults are the
    * small-fixture dial only. Pass `bandedIn` (e.g.
    * [[sharedLshBands]]) to reuse a session-shared band table — it
    * must have been banded with the SAME (nPlanes, bitsPerBand). */
  def nearDupPairsLsh(embeddings: DataFrame, threshold: Double,
                      nPlanes: Int = 16, dim: Int = 64,
                      bitsPerBand: Int = 4,
                      bandedIn: Option[DataFrame] = None): DataFrame = {
    val banded = bandedIn.getOrElse(lshBanded(embeddings, nPlanes, dim, bitsPerBand))
    val a = banded.select(col("band"), col("chunk"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = banded.select(col("band"), col("chunk"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    // merge hint: band tables are O(n·m) — never broadcastable at
    // scale, and a toy-size broadcast would pin the per-candidate
    // cosine work to the scan's partition count. The shuffle on
    // (band, chunk) distributes bucket work across reducers.
    a.hint("merge").join(b.hint("merge"), Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      // raw-cosine pre-filter ahead of round + distinct: round-half-up
      // at 4 decimals lifts a value by < 5e-5, so raw ≥ t − 1e-4 is a
      // strict superset of the final rounded predicate — dropping the
      // sub-threshold majority here keeps the per-candidate BigDecimal
      // of round() AND the distinct's dedup shuffle at output size
      // instead of candidate size (a pair's score is a function of the
      // pair, so distinct-after-filter dedups the same multi-band
      // collisions). Exact threshold semantics live in the final
      // rounded filter, unchanged.
      .withColumn("raw", cosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("raw") >= threshold - 1e-4)
      .select(col("id_a"), col("id_b"), round(col("raw"), 4).as("score"))
      .distinct()
      .filter(col("score") >= threshold)
  }

  /** Incremental embedding near-dup: pairs that TOUCH a fresh batch —
    * fresh×corpus and fresh×fresh, never corpus×corpus (previous runs
    * settled those) — the embedding twin of
    * [[graft.ops.Dedup.incrementalMinhashPairs]] and the shape a daily
    * 100 TB increment actually runs. The band join probes
    * fresh-bands ⋈ all-bands, an equality join whose probe side is
    * O(increment); the corpus pays one banding scan (its band table is
    * [[lshBanded]]'s output, storable beside the corpus like the
    * MinHash band table). Same output contract as [[nearDupPairsLsh]]:
    * (id_a, id_b, score), id_a < id_b, cosine >= threshold; vec_ids
    * must be unique across corpus ∪ fresh. Equivalent to
    * nearDupPairsLsh(corpus ∪ fresh) filtered to fresh-touching pairs,
    * without the corpus self-join. A stored corpusBands table must
    * have been banded with the SAME (nPlanes, bitsPerBand) — a
    * mismatched chunk width makes the equality join silently miss. */
  def incrementalNearDupLsh(corpus: DataFrame, fresh: DataFrame, threshold: Double,
                            nPlanes: Int = 16, dim: Int = 64,
                            corpusBands: Option[DataFrame] = None,
                            bitsPerBand: Int = 4,
                            freshBandsIn: Option[DataFrame] = None): DataFrame = {
    val freshBands = freshBandsIn.getOrElse(lshBanded(fresh, nPlanes, dim, bitsPerBand))
    val allBands = corpusBands.getOrElse(lshBanded(corpus, nPlanes, dim, bitsPerBand))
      .unionByName(freshBands)
    allBands.select(col("band"), col("chunk"), col("vec_id").as("id_x"),
        col("v").as("vx"), col("nrm").as("nx"))
      .hint("merge")
      .join(freshBands.select(col("band"), col("chunk"), col("vec_id").as("id_y"),
        col("v").as("vy"), col("nrm").as("ny")).hint("merge"), Seq("band", "chunk"))
      .filter(col("id_x") =!= col("id_y"))
      // same two-stage threshold as [[nearDupPairsLsh]]: cheap raw
      // pre-filter (strict superset), exact rounded filter on the
      // output-sized survivors
      .withColumn("raw", cosine(col("vx"), col("nx"), col("vy"), col("ny")))
      .filter(col("raw") >= threshold - 1e-4)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        round(col("raw"), 4).as("score"))
      .distinct()
      .filter(col("score") >= threshold)
  }

  /** [[incrementalNearDupLsh]], session-shared as a checkpoint CUT
    * ([[SharedCaches.sharedCut]], "embed"): the `embed_inc` and
    * `embed_inc_apply` entries consume the IDENTICAL verified pair set
    * in one session, and the band-join + cosine verification is its
    * whole cost. The cut (vs the former lazy persist) also flattens
    * every consumer's analyzed tree to a LogicalRDD scan of the tiny
    * pair frame — [[Dedup.sharedIncrementalPairs]]'s rationale one
    * family over, including the driver plan-rendering cost it kills. */
  def sharedIncrementalNearDup(corpus: DataFrame, fresh: DataFrame, threshold: Double,
                               nPlanes: Int = 16, dim: Int = 64,
                               corpusBands: Option[DataFrame] = None,
                               bitsPerBand: Int = 4,
                               freshBandsIn: Option[DataFrame] = None): DataFrame =
    SharedCaches.sharedCut(
      incrementalNearDupLsh(corpus, fresh, threshold, nPlanes, dim,
        corpusBands, bitsPerBand, freshBandsIn),
      "embed")

  /** [[nearDupPairsLsh]] over a session-shared banded base, as a
    * checkpoint CUT: the full-corpus pair set is consumed by
    * `embed_lsh` (the pair listing itself) and by both
    * curation→retire producers (`curate_retire`/`curate_ret2` feed its
    * losers to the ledger AND select their probe queries from it), so
    * one materialization serves every leg and every consumer plans
    * against a flat scan of the verified pairs. */
  def sharedNearDupPairsLsh(embeddings: DataFrame, threshold: Double,
                            nPlanes: Int, bitsPerBand: Int): DataFrame =
    SharedCaches.sharedCut(
      nearDupPairsLsh(embeddings, threshold, nPlanes = nPlanes,
        bitsPerBand = bitsPerBand,
        bandedIn = Some(sharedLshBands(embeddings, nPlanes, bitsPerBand))),
      "embed")
}
