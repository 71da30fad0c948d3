package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.{AnnIndex, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.ops.AnnIndex.{Ids, Pq, Prefix, Sq8, TwoLevel}
import graft.tables.Fixtures

/** LLM-training-data pipeline operators as driver-verified queries:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * cosine), similarity search (brute-force + IVF + LSH), text
  * analysis, multimodal decode plumbing.
  *
  * Oracle-checked wherever DuckDB can express the same deterministic
  * pipeline (md5-based MinHash and banding are mirrored end-to-end, so
  * even the LSH candidate generation is differentially tested; the
  * hyperplane-LSH and IVF probe/rank paths embed md5-derived plane /
  * centroid literals in both engines, so the SCALE paths are
  * hash-checked, not just the brute-force baselines). SimHash (murmur
  * isn't in DuckDB) keeps a rows-only check plus ScalaCheck pinning.
  */
object PipelineQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Fixtures.documents(s, dir))
        .orderBy(col("keep_doc_id"))),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.sharedMinhashPairs(Fixtures.documents(s, dir))
        .orderBy(col("doc_a"), col("doc_b"))),

    // the production shape at scale: dedup the increment (doc_id % 5
    // == 0 plays the daily batch) against the kept corpus — pairs
    // touching a fresh doc, never corpus x corpus
    "dedup_inc" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      // corpus bands/shingles come from the session-shared caches —
      // the registry form of "band table persisted from prior runs"
      // (signatures are per-doc, so filtering the shared band table
      // IS the corpus band table)
      Dedup.sharedIncrementalPairs(
        corpus = docs.filter(col("doc_id") % 5 =!= 0),
        fresh = docs.filter(col("doc_id") % 5 === 0),
        corpusBands = Some(Dedup.sharedBands(docs).filter(col("doc_id") % 5 =!= 0)),
        allShingles = Some(Dedup.sharedShingleRows(docs)))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ...and its APPLY: the increment's survivors (corpus always wins;
    // greedy min-id within the batch — see applyIncrementalDedup)
    "dedup_inc_apply" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val pairs = Dedup.sharedIncrementalPairs(
        corpus = docs.filter(col("doc_id") % 5 =!= 0),
        fresh = fresh,
        corpusBands = Some(Dedup.sharedBands(docs).filter(col("doc_id") % 5 =!= 0)),
        allShingles = Some(Dedup.sharedShingleRows(docs)))
      Dedup.applyIncrementalDedup(fresh, pairs)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Fixtures.documents(s, dir))
        .orderBy(col("source"), col("doc_a"), col("doc_b"))),

    // the de-skewed scale path: band-collision candidates within the
    // source block, exact-Jaccard verified — see ngramJaccardPairsBanded
    "dedup_banded" -> ((s, dir) =>
      Dedup.ngramJaccardPairsBanded(Fixtures.documents(s, dir))
        .orderBy(col("source"), col("doc_a"), col("doc_b"))),

    // ONE simhash: the native codegen'd expression computes the
    // md5-derived 60-bit signature the oracle mirrors arithmetically,
    // so this entry is hash-checked end to end (the former murmur path
    // was rows-only; the pure-DataFrame twin Dedup.simhashPairsMd5
    // stays as the spec-level differential mirror, unregistered)
    "dedup_simhash" -> ((s, dir) => {
      GraftFunctions.register(s)
      Dedup.simhashPairs(Fixtures.documents(s, dir), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // the brute-force O(n²) twin (Similarity.nearDupPairs) is NOT
    // registered: a cartesian has no place in a timed registry at any
    // scale. It remains the recall yardstick in OpsSpec, which pins
    // LSH ⊆ brute and the fixture recall.
    // band params scale with the corpus (constant bucket occupancy —
    // lshParamsFor's invariant); the count is a parquet-metadata job
    // all three embed near-dup entries draw from ONE session-shared
    // banded base (sharedLshBands) — banding is the n·m-dot scan half
    // of each entry, and row-local, so the corpus/fresh splits below
    // are filters of the same materialization
    "embed_lsh" -> ((s, dir) => {
      val e = Fixtures.embeddings(s, dir)
      val (nPlanes, bpb) = Similarity.lshParamsFor(e.count())
      // the session-shared pair CUT — the same artifact the two
      // curation→retire producers consume, materialized once
      Similarity.sharedNearDupPairsLsh(e, threshold = 0.4,
          nPlanes = nPlanes, bitsPerBand = bpb)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the embedding twin of dedup_inc: vec_id % 5 == 0 plays
    // the daily batch, probed against the corpus via the LSH buckets —
    // corpus x corpus pairs never recomputed
    "embed_inc" -> ((s, dir) =>
      sharedEmbedIncPairs(s, dir).orderBy(col("id_a"), col("id_b"))),

    // the APPLY: which fresh vectors survive — corpus-wins greedy, the
    // same survivor rule as the text increment (Dedup.applyIncrementalDedup
    // is pair-generic; only the id column name differs). The pair set
    // is the session-shared frame embed_inc materialized — the
    // verification join never runs twice
    "embed_inc_apply" -> ((s, dir) => {
      val fresh = Fixtures.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
      val pairs = sharedEmbedIncPairs(s, dir)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      Dedup.applyIncrementalDedup(
          fresh.select(col("vec_id").as("doc_id"), col("label")), pairs)
        .select(col("doc_id").as("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    "topk" -> ((s, dir) =>
      Similarity.topK(Fixtures.embeddings(s, dir), maxQueryId = 5, k = 10)
        .orderBy(col("q_id"), col("rn"))),

    "topk_ivf" -> ((s, dir) =>
      Similarity.topKIvf(Fixtures.embeddings(s, dir), maxQueryId = 20, k = 3)
        .orderBy(col("q_id"), col("rn"))),

    // the billion-vector literal-capacity fix (Similarity.topKIvf2):
    // only the ~n^¼ COARSE centroids ride the plan as a literal; the
    // fine quantizer is a per-coarse-cell md5 sample living in a
    // broadcast relation, so no k-sized literal exists at any corpus
    // size — and every stage (both sampling levels, the integer-exact
    // per-cell sizing, both argmin tie-breaks) is mirrored in the
    // oracle, making the whole two-level structure hash-checked
    "topk_ivf2" -> ((s, dir) =>
      Similarity.topKIvf2(Fixtures.embeddings(s, dir), maxQueryId = 6, k = 5,
        nProbeCoarse = 2, nProbeFine = 3)
        .orderBy(col("q_id"), col("rn"))),

    // the PERSISTED two-level index — the billion-vector serving
    // shape: coarse+fine quantizers and the ccell-bucketed assignment
    // written once (AnnIndex.ensureBuilt on TwoLevel), a probe collects ONLY the
    // n^¼ coarse matrix and bucket-prunes both stored scans with the
    // probed-cell literals; nothing k-sized ever reaches the driver or
    // the plan. Oracle = the inline two-level statement at this
    // entry's parameters: the stored structure must be a pure physical
    // optimization of it
    "topk_idx2" -> ((s, dir) =>
      AnnIndex.topK(s, dir, Prefix(5), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))),

    // the byte-bounded billion-vector read path: IVF² bucket pruning
    // bounds WHICH fine cells a probe touches, the stored SQ8 codes
    // bound the BYTES per touched row (~1 bit-packed byte/dim — the
    // candidate scan's ReadSchema excludes the full vectors,
    // AnnIndexSpec-pinned), exact rerank keeps emitted scores
    // full-precision. Oracle = the inline two-level statement composed
    // with the SQ8 CTEs, the way topk_ivf_sq composes the flat ones —
    // every stored artifact (both quantizer levels, params, codes,
    // all three rankings) must be a pure physical optimization of it
    "topk2_sq" -> ((s, dir) =>
      AnnIndex.topK(s, dir, Prefix(7), Sq8(rerank = 10), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))),

    // RETIRE on the billion-vector tier: same tagged-generation +
    // idempotent-tombstone discipline as topk_del, one level
    // down (residue 3 — the set that intersects the two-level top-4
    // at every fixture tier, where residue 7 misses at sf0.01) — the oracle is the inline two-level statement with the
    // retired ids excluded from the candidate side only (both
    // quantizer levels stay the full-corpus build; deletion never
    // re-fits)
    "topk2_del" -> ((s, dir) => {
      AnnIndex.removeBatch(s, dir,
        Fixtures.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 10 === 3),
        tag = "del", layout = TwoLevel)
      AnnIndex.topK(s, dir, Prefix(6), k = 4,
        nProbe = 2, nProbeFine = 3, tag = "del", layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the SQ8 probe AFTER a real delete, gen-2 (round-17 verdict #2):
    // the codes-only candidate scan composed with the coarse-pruned
    // tombstone anti-join, hash-checked — same tagged generation and
    // residue-3 set as topk2_del (removeBatch is idempotent,
    // so the shared tombstones converge whichever entry runs first).
    // Oracle = the inline IVF²×SQ statement with the retired ids
    // excluded from the candidate side only
    "topk2_sq_del" -> ((s, dir) => {
      AnnIndex.removeBatch(s, dir,
        Fixtures.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 10 === 3),
        tag = "del", layout = TwoLevel)
      AnnIndex.topK(s, dir, Prefix(6), Sq8(rerank = 10), k = 4,
        nProbe = 2, nProbeFine = 3, tag = "del", layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the COMPOSED billion-vector serving call (round-17 verdict #1):
    // explicit query ids (broadcast semi-join side) × gen-2 SQ8 codes
    // scan × coarse-pruned tombstone anti-join — the request shape a
    // live retrieval service sends to the two-level tier. Oracle = the
    // inline IVF²×SQ statement with the query CTE filtered to the same
    // literal id list
    "topk2_sq_ids" -> ((s, dir) => {
      import s.implicits._
      AnnIndex.topK(s, dir, Ids(Seq(0L, 2L, 5L, 9L).toDF("vec_id")),
        Sq8(rerank = 10), k = 4, nProbe = 2, nProbeFine = 3, layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))
    }),

    // IVF² × PQ — the sub-byte billion-vector read path (round-18
    // verdict #3): pqcodes + the gen-2 codebook live INSIDE the
    // two-level index (written at build, encoded with the stored
    // codebook on append, refreshed by requantize), the candidate
    // pass scans only the probed fine cells' m 4-bit-range codes and
    // ranks by the native ADC fold, exact rerank on top. Oracle = the
    // inline two-level CTEs composed with the PQ codebook/codes/
    // table/ADC CTEs
    "topk2_pq" -> ((s, dir) =>
      AnnIndex.topK(s, dir, Prefix(7), Pq(rerank = 24), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))),

    // the gen-2 PQ probe AFTER a real delete: the packed-pqcodes scan
    // composed with the coarse-pruned tombstone anti-join — same
    // tagged generation and residue-3 set as topk2_del/topk2_sq_del
    // (removeBatch idempotent, shared tombstones converge). Oracle =
    // the inline IVF²×PQ statement with retired ids excluded from the
    // candidate side only
    "topk2_pq_del" -> ((s, dir) => {
      AnnIndex.removeBatch(s, dir,
        Fixtures.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 10 === 3),
        tag = "del", layout = TwoLevel)
      AnnIndex.topK(s, dir, Prefix(6), Pq(rerank = 24), k = 4,
        nProbe = 2, nProbeFine = 3, tag = "del", layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the composed sub-byte billion-vector serving call: explicit
    // query ids × gen-2 packed pqcodes ADC scan × coarse-pruned
    // tombstone anti-join. Oracle = the inline IVF²×PQ statement with
    // the query CTE filtered to the same literal id list
    "topk2_pq_ids" -> ((s, dir) => {
      import s.implicits._
      AnnIndex.topK(s, dir, Ids(Seq(0L, 2L, 5L, 9L).toDF("vec_id")),
        Pq(rerank = 24), k = 4, nProbe = 2, nProbeFine = 3, layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))
    }),

    // SQ8 quantize-then-rerank (Similarity.topKSq): the candidate pass
    // ranks by an approximate cosine computed ONLY from the 8-bit
    // codes (one native dot over the code array per row — the scan
    // side never touches full-precision vectors), then `rerank`
    // candidates per query are re-scored exactly. Quantization, the
    // decomposed approximate dot, and both rankings are mirrored
    // verbatim in the oracle — the whole quantize→scan→rerank shape is
    // hash-checked, not just the final ranking
    "topk_sq" -> ((s, dir) =>
      Similarity.topKSq(Fixtures.embeddings(s, dir), maxQueryId = 5,
        k = 10, rerank = 20)
        .orderBy(col("q_id"), col("rn"))),

    // product quantization with asymmetric distance scoring (round 18
    // — the sub-byte tier beyond SQ8, faiss IVF-PQ's code shape):
    // m=8 subspaces × 16 md5-sampled centroids → 4 bits/dim codes; a
    // query precomputes its m×ksub inner-product table and candidates
    // rank by m table lookups, exact rerank on top. Every arithmetic
    // chain (assignment distances, query tables, the ADC fold) is
    // generated as the SAME left-associated sequence the oracle
    // states, so the whole quantize→table→scan→rerank shape
    // hash-checks
    "topk_pq" -> ((s, dir) =>
      Similarity.topKPq(Fixtures.embeddings(s, dir), maxQueryId = 5,
        k = 10, m = 8, ksub = 16, rerank = 50)
        .orderBy(col("q_id"), col("rn"))),

    // the COMPOSED faiss IVF-PQ serving shape (round 18): cell
    // pruning bounds WHICH rows a probe touches, the 4-bit PQ codes
    // bound the bytes AND the per-pair work (m table lookups instead
    // of dim multiplies), exact rerank on top — cell selection, code
    // assignment, the query tables, and the ADC fold all mirrored in
    // one oracle statement
    "topk_ivf_pq" -> ((s, dir) =>
      Similarity.topKIvfPq(Fixtures.embeddings(s, dir), maxQueryId = 6,
        k = 5, nProbe = 2, m = 8, ksub = 16, rerank = 30)
        .orderBy(col("q_id"), col("rn"))),

    // IVF × RESIDUAL-PQ (round 20 — faiss's IVF-PQ encoding
    // refinement): codes quantize v − centroid(cell) against a
    // residualized md5-sampled codebook, and the probe adds the
    // per-cell <q, centroid> term back before the ADC fold — the
    // recall lever after the learned codebook, hash-checked end to
    // end at the same dials as topk_ivf_pq so the two stay comparable
    "topk_rpq" -> ((s, dir) =>
      Similarity.topKIvfRpq(Fixtures.embeddings(s, dir), maxQueryId = 6,
        k = 5, nProbe = 2, m = 8, ksub = 16, rerank = 30)
        .orderBy(col("q_id"), col("rn"))),

    // the COMPOSED serving shape (faiss IVF-SQ): cell pruning bounds
    // which rows a probe touches (same √n md5-sampled quantizer as the
    // persisted index), the 8-bit codes bound the bytes per touched
    // row, exact rerank keeps emitted scores full-precision — all
    // three stages mirrored in one oracle statement
    "topk_ivf_sq" -> ((s, dir) =>
      Similarity.topKIvfSq(Fixtures.embeddings(s, dir), maxQueryId = 6,
        k = 5, nProbe = 2, rerank = 15)
        .orderBy(col("q_id"), col("rn"))),

    "text_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Fixtures.documents(s, dir))
        .orderBy(col("doc_id"))),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(Fixtures.documents(s, dir))
        .orderBy(col("doc_id"))),

    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Fixtures.documents(s, dir), topN = 20)),

    "text_df" -> ((s, dir) =>
      TextAnalysis.docFrequency(Fixtures.documents(s, dir), topN = 20)),

    // HLL itself is engine-specific, so the differential form checks
    // the exact column plus a relative-error bound on the sketch (the
    // tighter ±5% assertion lives in OpsSpec on the fixed fixture).
    "text_hll" -> ((s, dir) =>
      TextAnalysis.distinctStats(Fixtures.documents(s, dir))
        .select(col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")) * 10 <=
            col("exact_distinct")).as("hll_within_10pct"))),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Fixtures.documents(s, dir))
        .orderBy(col("doc_id"))),

    // corpus-relative commonness (the integer-exact CCNet-LM-filter
    // stand-in): top-100 token frequency table, broadcast per-token join
    "text_commonness" -> ((s, dir) =>
      TextAnalysis.commonness(Fixtures.documents(s, dir), topK = 100)
        .orderBy(col("doc_id"))),

    "text_modes" -> ((s, dir) =>
      TextAnalysis.tokenCountModes(Fixtures.documents(s, dir))
        .orderBy(col("doc_id"))),

    // BM25-shaped keyword search: top 20 docs for a fixed 3-term
    // query, integer-exact (log-free idf, scaled saturation) — the
    // token stream is filtered to the query terms before any shuffle
    "bm25" -> ((s, dir) =>
      TextAnalysis.searchBm25(Fixtures.documents(s, dir),
          Seq("hash", "join", "merge"))
        .orderBy(col("score_x1000").desc, col("doc_id"))),

    // the PRODUCTION serving shape: df + corpus stats written once as
    // warehouse tables (TextRefs.ensureBm25), scoring reads the corpus
    // once (term-filtered) and probes |terms| stored-df rows — zero
    // corpus-wide aggregation in the plan (PlanAuditSpec-pinned).
    // Same model, same ranking: the oracle is bm25's.
    "bm25_stored" -> ((s, dir) =>
      graft.ops.TextRefs.searchBm25Stored(s, dir, Seq("hash", "join", "merge"))
        .orderBy(col("score_x1000").desc, col("doc_id"))),

    // bigram-LM quality score with stupid backoff — the sequence-aware
    // upgrade of text_commonness (top-500 conditional-bigram table +
    // top-100 unigram backoff, both K-bounded broadcasts; the model
    // build and the scoring join are BOTH mirrored in the oracle)
    "text_lm_score" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      val pairs = TextAnalysis.sharedBigramRows(docs)
      // the K-row model and unigram tables are the stored-ref
      // stand-ins (text_lm_stored persists exactly these), so they
      // take session CUTS: the model build runs once per session and
      // repeats plan two flat K-row leaves against the persisted
      // bigram base instead of re-canonicalizing three lineage legs
      val model = graft.ops.SharedCaches.sharedCut(
        TextAnalysis.lmRef(docs, topK = 500, pairsIn = Some(pairs)), "text")
      val uni = graft.ops.SharedCaches.sharedCut(
        TextAnalysis.commonnessRef(docs, 100), "text")
      TextAnalysis.lmScore(docs, topK = 500, topUni = 100,
          ref = Some(model), uniRef = Some(uni), pairsIn = Some(pairs))
        .orderBy(col("doc_id"))
    }),

    // the stored-model serving shape: bigram + unigram tables written
    // once (TextRefs.ensureLm), scoring is the per-batch bigram stream
    // probing two K-row broadcasts — the plan's ONLY aggregation is
    // the per-doc mean (PlanAuditSpec-pinned). Oracle = text_lm_score's.
    "text_lm_stored" -> ((s, dir) =>
      graft.ops.TextRefs.lmScoreStored(s, dir).orderBy(col("doc_id"))),

    // IVF probe+rank with FIXED md5-derived centroid literals shared
    // with the oracle SQL — the whole assignment/probe/rank stage is
    // differential. The Lloyd *fit* (not single-statement SQL) stays
    // pinned by the OpsSpec planted-cluster + recall-vs-brute tests.
    "topk_kmeans" -> ((s, dir) =>
      Similarity.topKIvfKmeans(Fixtures.embeddings(s, dir), maxQueryId = 5,
        k = 10, nCells = 8, nProbe = 2,
        centroids = Some(Similarity.fixedCentroids(8, 64)))
        .orderBy(col("q_id"), col("rn"))),

    // the SERVING shape: the cell assignment persisted once as a
    // bucketed table (write-once), each query probing only its cells'
    // buckets — the scan is bucket-pruned (AnnIndexSpec pins
    // SelectedBucketsCount < total), unlike the kmeans entry that
    // recomputes the assignment per query
    "topk_indexed" -> ((s, dir) =>
      AnnIndex.topK(s, dir, Prefix(8), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rn"))),

    // the MAINTENANCE path end to end: a full requantize (stage the
    // new generation beside the live pair, reassign, catalog-rename
    // swap) and then a probe over the swapped-in index. Over an
    // unchanged corpus the rebuild is deterministic-identical to the
    // build (same n → same k → same md5-ranked centroid sample), so
    // the inline-IVF oracle hash-checks the whole stage→swap→probe
    // machinery from the driver — a wrong rename order, a stale
    // quantizer, or a half-committed generation all surface as a hash
    // mismatch, not just a spec failure
    "topk_requant" -> ((s, dir) => {
      AnnIndex.requantize(s, dir)
      AnnIndex.topK(s, dir, Prefix(6), k = 4, nProbe = 2)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the STORED IVF×SQ serving shape: codes + SQ params live INSIDE
    // the persisted index (written once at build, encoded with stored
    // params on append, refreshed by requantize), so a probe's
    // candidate pass is a bucket-pruned scan of the bit-packed code
    // column and the exact rerank re-reads full vectors for
    // queries×rerank rows only — zero corpus-wide jobs at serving
    // time. Oracle = the inline IVF×SQ statement at this entry's
    // parameters: the whole stored stack (assignment, quantizer,
    // params, codes, both rankings) must be a pure physical
    // optimization of it
    "topk_indexed_sq" -> ((s, dir) =>
      AnnIndex.topK(s, dir, Prefix(7), Sq8(rerank = 12), k = 4, nProbe = 2)
        .orderBy(col("q_id"), col("rn"))),

    // the STORED IVF×PQ serving shape (round 18): pqcodes + the PQ
    // codebook live INSIDE the persisted index (written at build,
    // encoded with the stored codebook on append, refreshed by
    // requantize), so a probe's candidate pass is a bucket-pruned scan
    // of m small ints per row and the native ADC fold — the sub-byte
    // tier of the write-once/probe-many contract. Oracle = the inline
    // IVF×PQ statement at this entry's parameters
    "topk_idx_pq" -> ((s, dir) =>
      AnnIndex.topK(s, dir, Prefix(7), Pq(rerank = 24), k = 4, nProbe = 2)
        .orderBy(col("q_id"), col("rn"))),

    // the RETIRE path end to end: tombstone a deterministic tenth of
    // the corpus (vec_id % 10 = 7 — a set that provably intersects the
    // undeleted top-k at every fixture tier, AnnIndexSpec pins it) and
    // probe. The index is a
    // TAGGED generation so the shared entries' index is never mutated;
    // removeBatch is idempotent (distinct tombstone merge), so the
    // entry re-runs stably. Oracle = the inline IVF statement with the
    // retired ids excluded from the CANDIDATE side only: the quantizer
    // stays the full-corpus build (deletion never re-fits — that is
    // requantize's job) and queries still probe (external callers are
    // not corpus members). A tombstone that leaks back into results, a
    // wrong anti-join side, or a probe that loses bucket pruning all
    // surface as a hash mismatch
    "topk_del" -> ((s, dir) => {
      AnnIndex.removeBatch(s, dir,
        Fixtures.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 10 === 7),
        tag = "del")
      AnnIndex.topK(s, dir, Prefix(6), k = 4, nProbe = 2, tag = "del")
        .orderBy(col("q_id"), col("rn"))
    }),

    // the SQ8 probe AFTER a real delete (round-17 verdict #2): the
    // codes-only candidate scan composed with the tombstone anti-join,
    // hash-checked — same tagged generation and residue-7 set as
    // topk_del (removeBatch is idempotent, so the shared
    // tombstones converge whichever entry runs first). Oracle = the
    // inline IVF×SQ statement with the retired ids excluded from the
    // candidate side only
    "topk_sq_del" -> ((s, dir) => {
      AnnIndex.removeBatch(s, dir,
        Fixtures.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 10 === 7),
        tag = "del")
      AnnIndex.topK(s, dir, Prefix(6), Sq8(rerank = 12), k = 4, nProbe = 2,
        tag = "del")
        .orderBy(col("q_id"), col("rn"))
    }),

    // the stored-PQ probe AFTER a real delete (round-18 verdict #1):
    // the pqcodes-only ADC candidate scan composed with the tombstone
    // anti-join, hash-checked — same tagged generation and residue-7
    // set as topk_del/topk_sq_del (removeBatch is idempotent, so the
    // shared tombstones converge whichever entry runs first). Oracle =
    // the inline IVF×PQ statement with the retired ids excluded from
    // the candidate side only (quantizer and codebook = the
    // full-corpus build — deletion never re-fits)
    "topk_pq_del" -> ((s, dir) => {
      AnnIndex.removeBatch(s, dir,
        Fixtures.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 10 === 7),
        tag = "del")
      AnnIndex.topK(s, dir, Prefix(6), Pq(rerank = 24), k = 4, nProbe = 2,
        tag = "del")
        .orderBy(col("q_id"), col("rn"))
    }),

    // the COMPOSED sub-byte serving call (round-18 verdict #1):
    // explicit query ids (the Ids broadcast semi-join side) × stored
    // pqcodes ADC scan (the Pq codec's 4-bit byte bound) × tombstone
    // anti-join. Oracle = the inline IVF×PQ statement with the query
    // CTE filtered to the same literal id list
    "topk_pq_ids" -> ((s, dir) => {
      import s.implicits._
      AnnIndex.topK(s, dir, Ids(Seq(1L, 3L, 6L, 11L).toDF("vec_id")),
        Pq(rerank = 24), k = 4, nProbe = 2)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the COMPOSED production serving call (round-17 verdict #1):
    // explicit query ids (the Ids broadcast semi-join side) × SQ8
    // codes-only candidate scan (the Sq8 codec's byte bound) × tombstone
    // anti-join. Oracle = the inline IVF×SQ statement with the query
    // CTE filtered to the same literal id list
    "topk_sq_ids" -> ((s, dir) => {
      import s.implicits._
      AnnIndex.topK(s, dir, Ids(Seq(1L, 3L, 6L, 11L).toDF("vec_id")),
        Sq8(rerank = 12), k = 4, nProbe = 2)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the CURATION → INDEX loop, closed end to end (the delete
    // producer the lifecycle was waiting for): embedding near-dup
    // pairs → losers (each pair's greater id — the min-id survivor
    // rule) → replayable ledger → removeBatch → probe. Queries are
    // the 4 smallest SURVIVOR ids of the pair set, so every query's
    // retired near-neighbor genuinely exercises the anti-join. Oracle
    // = the LSH pair CTEs composed into the inline IVF statement with
    // losers excluded from the candidate side only (quantizer = the
    // full-corpus build; deletion never re-fits). The tagged
    // generation keeps the shared entries' index immutable; retire +
    // removeBatch are idempotent, so the entry re-runs stably.
    "curate_retire" -> ((s, dir) => {
      val e = Fixtures.embeddings(s, dir)
      val (nPlanes, bpb) = Similarity.lshParamsFor(e.count())
      // the pair set feeds BOTH the ledger and the query selection —
      // the session-shared CUT, so the band-join verification runs
      // once and both consumers plan against a flat pair scan
      val pairs = Similarity.sharedNearDupPairsLsh(e, threshold = 0.4,
        nPlanes = nPlanes, bitsPerBand = bpb)
      AnnIndex.retireBatch(s, dir,
        pairs.select(col("id_b").as("vec_id")).distinct(), tag = "retire")
      val queries = pairs.select(col("id_a").as("vec_id")).distinct()
        .orderBy(col("vec_id")).limit(4)
      AnnIndex.topK(s, dir, Ids(queries), k = 4, nProbe = 2, tag = "retire")
        .orderBy(col("q_id"), col("rn"))
    }),

    // the same producer loop one generation down (round-17 verdict
    // #4): LSH losers → retireBatch's ledger-first retire → explicit
    // survivor-id probe on the TWO-LEVEL index. Same session-shared
    // pair set as curate_retire (the band-join verification runs
    // once per tier for both entries); oracle composes the LSH pair
    // CTEs into the inline two-level statement, losers excluded from
    // the candidate side only
    "curate_ret2" -> ((s, dir) => {
      val e = Fixtures.embeddings(s, dir)
      val (nPlanes, bpb) = Similarity.lshParamsFor(e.count())
      val pairs = Similarity.sharedNearDupPairsLsh(e, threshold = 0.4,
        nPlanes = nPlanes, bitsPerBand = bpb)
      AnnIndex.retireBatch(s, dir,
        pairs.select(col("id_b").as("vec_id")).distinct(), tag = "retire",
        layout = TwoLevel)
      val queries = pairs.select(col("id_a").as("vec_id")).distinct()
        .orderBy(col("vec_id")).limit(4)
      AnnIndex.topK(s, dir, Ids(queries), k = 4, nProbe = 2,
        nProbeFine = 3, tag = "retire", layout = TwoLevel)
        .orderBy(col("q_id"), col("rn"))
    }),

    // the STREAMING → INDEX loop, closed end to end (round-17 verdict
    // #5): a REAL bounded-replay streaming near-dup pass (the same
    // exactly-once completed-stream harness as stream_sink, over a
    // fixed 500-doc prefix so the entry's cost is tier-constant — the
    // full-tier streaming path is already hash-checked by stream_sink;
    // THIS entry's claim is the composition) feeds its losers into
    // retireBatch's ledger-first retire, and the probe confirms they
    // left the serving index. Oracle = the batch twin's hit CTEs
    // composed into the inline IVF statement, losers excluded from
    // the candidate side only. Own tagged generation ("sret") so the
    // other retire entries' oracles stay untouched
    "stream_retire" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"),
          ((col("doc_id") + 1440L) * 60000000000L).as("ts"))
      // chunks=2, stream_sink's dial and rationale: hit set is
      // chunk-count-invariant (oracle-pinned), each micro-batch is a
      // fixed commit-round cost, and two chunks keep a real
      // between-chunks watermark advance in the replay
      val hits = graft.streaming.StreamAnalytics.nearDupStreamCompleted(
        docs, threshold = 0.6, horizonNanos = 120L * 60000000000L, chunks = 2)
      AnnIndex.retireBatch(s, dir,
        hits.select(col("doc_b").as("vec_id")).distinct(), tag = "sret")
      val queries = hits.select(col("doc_a").as("vec_id")).distinct()
        .orderBy(col("vec_id")).limit(4)
      AnnIndex.topK(s, dir, Ids(queries), k = 4, nProbe = 2, tag = "sret")
        .orderBy(col("q_id"), col("rn"))
    }),

    // hybrid keyword × semantic retrieval (round-17 verdict #3):
    // stored-BM25 top-N and persisted-ANN explicit-id top-N fused by
    // integer reciprocal-rank fusion — score = Σ 1000000 div
    // (60 + rank), so both engines fold the same integers. A doc found
    // by only one leg still competes (HybridSpec pins a one-leg
    // winner); oracle = both legs' CTE stacks full-outer-joined on
    // doc_id
    "hybrid_rrf" -> ((s, dir) =>
      graft.ops.Hybrid.searchRrf(s, dir, Seq("hash", "join", "merge"),
        queryVecId = 2L, topN = 20)),

    // the DECLARATIVE decode: md5 + bounded-head regexp parse as a
    // pure projection (PlanAuditSpec pins no object-serialization
    // boundary in its plan); the typed mapPartitions twin stays as
    // the non-registry codec seam, parity-pinned in OpsSpec
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeFeaturesExpr(Multimodal.withPayload(Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"))),

    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeMeta(
        Multimodal.decodeFeaturesExpr(Multimodal.withPayload(Fixtures.documents(s, dir))))
        .orderBy(col("doc_id"))),

    "mm_frames" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.decodeFeaturesExpr(Multimodal.withPayload(Fixtures.documents(s, dir))))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // codec-free REAL feature extraction (size / entropy / brightness
    // proxies over raw bytes) — every value genuinely computed and
    // oracle-checked
    "mm_byte_stats" -> ((s, dir) =>
      Multimodal.byteStats(Multimodal.withPayload(Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"))),

    // audio-container metadata parse: rows selected by the SPHERE
    // magic in the BYTES (not the media_type column), header fields
    // and body offset read the way a real reader seeks — the oracle
    // states the planted values in closed form, so the differential
    // proves the parse AND the magic routing
    "mm_audio_meta" -> ((s, dir) =>
      Multimodal.audioMeta(Multimodal.withPayload(Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"))),

    // REAL pixel decode for the uncompressed format: P6 bodies are raw
    // interleaved RGB — per-channel means + brightness from the body
    // BYTES (magic-gated, header-offset, one codegen'd PixelStats
    // pass), not from planted metadata
    "mm_pixels" -> ((s, dir) =>
      Multimodal.decodePixels(Multimodal.withPayload(Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"))),

    // the COMPRESSED-codec path: genuine PNGs (zlib through
    // javax.imageio) encoded AND decoded inside the typed
    // partition-batched seam; pixels are planted closed-form from
    // doc_id, so the oracle predicts the decoded stats without a
    // codec — a hash match proves the round-trip is lossless and the
    // batch plumbing correct
    "mm_png_pixels" -> ((s, dir) =>
      Multimodal.decodeImage(s,
          Multimodal.pngPayload(s, Fixtures.documents(s, dir)))
        .toDF().orderBy(col("doc_id"))),

    // the LOSSY codec through the same seam: genuine JPEGs (DCT +
    // chroma subsampling via javax.imageio) encoded AND decoded in the
    // partition-batched typed shape. Lossy ⇒ the oracle checks the
    // losslessly-recoverable fields exactly (dims, pixel count) and a
    // per-channel within-tolerance CLAIM the Spark side derives from
    // the real decode — a decode regression flips a boolean and the
    // hash trips (see Multimodal.jpegPixelClaims)
    "mm_jpeg_pixels" -> ((s, dir) =>
      Multimodal.jpegPixelClaims(s, Fixtures.documents(s, dir))
        .orderBy(col("doc_id"))),

    // REAL sample decode for audio: genuine SPHERE containers whose
    // BODIES carry planted interleaved 8-bit PCM — per-channel means
    // read from the body bytes by one codegen'd PcmStats pass (magic-
    // gated, header-offset, the decodePixels pattern one modality
    // over). The oracle predicts the planted sample sums in closed
    // form, so a hash match proves the header seek, the interleave
    // arithmetic, and the channel split — not just the container parse
    // mm_audio_meta already pinned
    "mm_audio_pcm" -> ((s, dir) =>
      Multimodal.audioPcm(
        Multimodal.audioPcmPayload(s, Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"))),

    // ...and the width real speech corpora use: SIGNED 16-bit bodies
    // whose headers declare sample_n_bytes 2 + a byte order ("10"
    // big-endian for every third doc, "01" little-endian otherwise —
    // both orders decoded in one scan). The oracle predicts the
    // two's-complement sample sums in closed form, so a hash match
    // proves sign extension AND both byte assemblies, not just the
    // container walk; means stay differential because Spark's div and
    // DuckDB's // both truncate toward zero
    "mm_pcm16" -> ((s, dir) =>
      Multimodal.audioPcm(
        Multimodal.audioPcm16Payload(s, Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"))),

    // REAL frame decode for video — the modality triple completed:
    // genuine YUV4MPEG2 streams whose bodies carry FRAME-marked
    // uncompressed 4:2:0 planes planted from doc_id, per-frame plane
    // means read by one codegen'd Y4mFrameStats walk (magic-gated,
    // dims from the parameter line, body at byte precision). The
    // oracle predicts every plane sum in closed form over unnested
    // (frame, offset) ranges — a hash match proves the marker walk,
    // the plane offsets, and the 4:2:0 geometry, never just metadata
    "mm_video" -> ((s, dir) =>
      Multimodal.videoPixels(
        Multimodal.videoPayload(s, Fixtures.documents(s, dir)))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // the APPLY step: near-dup pairs → cluster labels → surviving
    // corpus (one representative per cluster + absorbed count)
    "dedup_apply" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      Dedup.applyNearDedup(docs, Dedup.sharedMinhashPairs(docs))
        .orderBy(col("doc_id"))
    }),

    // ...and the survivor rule a production pipeline actually wants:
    // each cluster keeps its BEST-quality member (metric desc, id
    // tiebreak), not the arbitrary min-id
    "dedup_apply_best" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      Dedup.applyNearDedupBy(docs, Dedup.sharedMinhashPairs(docs),
          TextAnalysis.quality(docs)
            .select(col("doc_id"), col("quality_score_bp").as("metric")))
        .orderBy(col("doc_id"))
    }),

    // the curation story end to end, as ONE declarative plan: keep
    // each near-dup cluster's representative, gate on quality, tag
    // language — what a corpus-prep user actually runs. Catalyst fuses
    // the three operator families; the shared shingle/band/pair caches
    // mean the dedup leg is free when the registry queries ran first.
    "pipeline_curate" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      val surv = Dedup.applyNearDedup(docs, Dedup.sharedMinhashPairs(docs))
      // quality/lang legs as session checkpoint cuts: both are
      // full-corpus per-token passes that this entry otherwise re-runs
      // per invocation (and re-plans per action — the shared-cut
      // rationale of sharedMinhashPairs); rows and types unchanged
      val quality = graft.ops.SharedCaches.sharedCut(
        TextAnalysis.quality(docs)
          .select(col("doc_id"), col("n_tokens"), col("quality_score_bp")),
        "pipeline")
      val lang = graft.ops.SharedCaches.sharedCut(
        TextAnalysis.langId(docs)
          .select(col("doc_id"), col("predicted_lang")),
        "pipeline")
      surv.join(quality, "doc_id").join(lang, "doc_id")
        .filter(col("n_tokens") >= 30 && col("quality_score_bp") >= 4000)
        .select(col("doc_id"), col("cluster_size"), col("n_tokens"),
          col("quality_score_bp"), col("predicted_lang"))
        .orderBy(col("doc_id"))
    }),

    // the increment's curation end to end, the daily shape at 100 TB:
    // gate the fresh batch on quality + language FIRST (per-row
    // expressions — ungated docs never enter the band join, same order
    // as streamingCurate), then near-dedup the gated increment against
    // the corpus and keep the survivors. O(increment) throughout.
    "curate_inc" -> ((s, dir) => {
      val docs = Fixtures.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val quality = TextAnalysis.quality(fresh)
        .select(col("doc_id"), col("n_tokens"), col("quality_score_bp"))
      val lang = TextAnalysis.langId(fresh)
        .select(col("doc_id"), col("predicted_lang"))
      // shared checkpoint CUT: the gated increment feeds banding,
      // verification, and the survivor anti-join — without the shared
      // artifact each leg re-runs the quality/language joins, and
      // without the CUT each consumer's analyzed tree drags the full
      // quality+language lineage along to be re-planned and re-rendered
      // per action (the generateTreeString driver hotspot)
      val gated = graft.ops.SharedCaches.sharedCut(
        fresh.join(quality, "doc_id").join(lang, "doc_id")
          .filter(col("n_tokens") >= 30 && col("quality_score_bp") >= 4000),
        "pipeline")
      // corpus bands + shingles from the session-shared caches, like
      // dedup_inc (shingles of ungated docs are inert: the
      // verification semi-join keeps only candidate participants).
      // FRESH bands too: signatures are per-doc, so the gated
      // increment's band table is a semi-join filter of the shared
      // one — the gated docs are never re-tokenized or re-signed
      // the verified pair set is a shared checkpoint cut:
      // applyIncrementalDedup references it from BOTH pair
      // orientations, so an unshared frame runs the verification joins
      // twice per invocation — and an uncut one re-plans the whole
      // band-join lineage per action (see sharedIncrementalPairs)
      val pairs = graft.ops.SharedCaches.sharedCut(
        Dedup.incrementalMinhashPairs(
          corpus, gated.select(docs.columns.map(col): _*),
          corpusBands = Some(Dedup.sharedBands(docs).filter(col("doc_id") % 5 =!= 0)),
          allShingles = Some(Dedup.sharedShingleRows(docs)),
          freshBands = Some(Dedup.sharedBands(docs)
            .join(gated.select(col("doc_id")), Seq("doc_id"), "left_semi"))),
        "pipeline")
      Dedup.applyIncrementalDedup(gated, pairs)
        .select(col("doc_id"), col("n_tokens"), col("quality_score_bp"),
          col("predicted_lang"))
        .orderBy(col("doc_id"))
    })
  )

  /** The increment's verified pair set, session-shared: embed_inc and
    * embed_inc_apply consume the IDENTICAL frame, and both band sides
    * are filters of the one shared banded base — params from the FULL
    * corpus∪fresh count (both sides must band identically or the
    * bucket join can't match across them; the count is a
    * parquet-metadata job). */
  private def sharedEmbedIncPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.embeddings(s, dir)
    val (nPlanes, bpb) = Similarity.lshParamsFor(e.count())
    val bands = Similarity.sharedLshBands(e, nPlanes, bpb)
    Similarity.sharedIncrementalNearDup(
      e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0),
      threshold = 0.4, nPlanes = nPlanes, bitsPerBand = bpb,
      corpusBands = Some(bands.filter(col("vec_id") % 5 =!= 0)),
      freshBandsIn = Some(bands.filter(col("vec_id") % 5 === 0)))
  }

  /** Shared banding CTEs for the embed_neardup oracles, mirroring
    * [[graft.ops.Similarity.lshBanded]] with CORPUS-SCALED params:
    * (b, m) come from count(*) via the same integer search as
    * [[graft.ops.Similarity.lshParamsFor]] (no floating log2 whose
    * rounding could diverge), and the planes are COMPUTED from the
    * md5Unit construction the Spark literals come from —
    * ('0x'||substr(md5(tag),1,12))::BIGINT / 2^48 − 0.5 is the same
    * IEEE arithmetic in both engines — so the oracle stays
    * differential at every sf without embedding m·b·64 literals.
    * Chunk layout matches lshBanded exactly: bit p = sign of
    * v·plane_p, band j = bits [j·b, (j+1)·b) of the concatenated
    * string. The range(0, 2048) plane superset (DuckDB's range()
    * cannot take lateral bounds) covers b·m through b = 32. */
  private val lshBandedCte =
    """WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
      |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
      |  FROM embeddings),
      |prm AS (SELECT b, greatest(4, 2 * b - 4) AS m FROM (
      |  SELECT coalesce(min(bb), 32) AS b FROM range(4, 33) t(bb)
      |  WHERE (1::BIGINT << bb) >= ((SELECT count(*) FROM embeddings) + 31) // 32)),
      |pl AS (SELECT pp.p AS p,
      |  (SELECT list(('0x' || substr(md5('plane:' || pp.p || ':' || d.d), 1, 12))::BIGINT
      |               / 281474976710656.0 - 0.5 ORDER BY d.d)
      |   FROM range(0, 64) d(d)) AS plane
      |  FROM range(0, 2048) pp(p), prm WHERE pp.p < prm.b * prm.m),
      |bits AS (SELECT n.vec_id,
      |  CASE WHEN list_dot_product(n.v, pl.plane) >= 0 THEN '1' ELSE '0' END AS bit, pl.p
      |  FROM n, pl),
      |bstr AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bs
      |  FROM bits GROUP BY vec_id),
      |banded AS (SELECT n.vec_id, n.v, n.nrm, bd.band AS band,
      |  substr(bstr.bs, (bd.band * prm.b + 1)::INT, prm.b::INT) AS chunk
      |  FROM n JOIN bstr USING (vec_id), prm, range(0, 64) bd(band)
      |  WHERE bd.band < prm.m),
      |""".stripMargin

  private val shingleCte =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS shingles
      |  FROM toks WHERE len(t) >= 3)
      |""".stripMargin

  /** MinHash → bands → candidates → exact-Jaccard verification, shared
    * by the dedup_minhash and dedup_apply oracles. Mirrors
    * [[graft.ops.Dedup.minhashSignature]]'s double hashing: one md5
    * per shingle, h1/h2 = 13-hex-char (52-bit) slices, hash_j =
    * h1 + j·h2. */
  private val minhashVerCte =
    """, mh AS (SELECT doc_id, j,
      |  list_min([('0x' || substr(md5(s), 1, 13))::BIGINT
      |            + j * ('0x' || substr(md5(s), 14, 13))::BIGINT for s in shingles]) AS m
      |  FROM sh, range(12) r(j)),
      |bands AS (SELECT doc_id, j // 2 AS band,
      |  md5(string_agg(m::VARCHAR, '|' ORDER BY j)) AS band_sig
      |  FROM mh GROUP BY doc_id, j // 2),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |ver AS (SELECT doc_a, doc_b,
      |  len(list_intersect(x.shingles, y.shingles))::BIGINT AS inter,
      |  len(list_distinct(list_concat(x.shingles, y.shingles)))::BIGINT AS uni
      |  FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)
      |""".stripMargin

  /** MinHash near-dedup APPLY chain through the surviving corpus
    * (`surv` = one representative per cluster + absorbed count) —
    * shared by the dedup_apply and pipeline_curate oracles. */
  private lazy val survCte: String = {
    val prop = (1 to 3).map { i =>
      s""", l$i AS (SELECT l.doc_id,
         |  least(l.cluster, coalesce(min(n.cluster), l.cluster)) AS cluster
         |  FROM l${i - 1} l
         |  LEFT JOIN edges e ON e.doc_id = l.doc_id
         |  LEFT JOIN l${i - 1} n ON n.doc_id = e.nbr
         |  GROUP BY l.doc_id, l.cluster)""".stripMargin
    }.mkString("\n")
    shingleCte + minhashVerCte +
      """, pairs AS (SELECT doc_a, doc_b FROM ver WHERE inter * 1000 >= uni * 600),
        |edges AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |l0 AS (SELECT doc_id, doc_id AS cluster FROM documents)""".stripMargin +
      prop +
      """
        |, sizes AS (SELECT cluster, count(*) AS cluster_size FROM l3 GROUP BY cluster),
        |surv AS (SELECT doc_id, cluster_size FROM l3 JOIN sizes USING (cluster)
        |  WHERE doc_id = cluster)
        |""".stripMargin
  }

  /** Quality + language-ID CTE block (cq / cl keyed by doc_id),
    * shared by the pipeline_curate and curate_inc
    * oracles. Starts with a comma — appended after other CTEs. */
  private val qualityLangCte =
      """, ct AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |cm AS (SELECT doc_id, len(ts)::INT n_tokens,
        |  len(list_distinct(ts))::INT n_distinct,
        |  len(list_filter(ts, x -> x IN ('the','a','of','and','is')))::INT n_stop FROM ct),
        |cq AS (SELECT doc_id, n_tokens,
        |  ((4 * ((n_distinct * 10000) // n_tokens) + 3 * ((n_stop * 10000) // n_tokens)
        |      + 3 * least(10000, n_tokens * 100)) // 10)::BIGINT AS quality_score_bp
        |  FROM cm),
        |cd AS (SELECT doc_id, list_distinct(string_split(text, ' ')) td FROM documents),
        |cs AS (SELECT doc_id,
        |  len(list_intersect(td, ['der','die','das','und','ist']))::INT s_de,
        |  len(list_intersect(td, ['the','a','of','and','is']))::INT s_en,
        |  len(list_intersect(td, ['el','la','de','que','y']))::INT s_es,
        |  len(list_intersect(td, ['le','les','de','et','un']))::INT s_fr,
        |  len(list_intersect(td, ['de5','shi4','bu4','le5','zai4']))::INT s_zh
        |  FROM cd),
        |cl AS (SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |  FROM cs)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_doc_id,
        |count(*) AS n_copies FROM documents GROUP BY md5(text)
        |ORDER BY keep_doc_id""".stripMargin,

    "dedup_minhash" -> (shingleCte + minhashVerCte +
      """SELECT doc_a, doc_b, (inter * 10000) // uni AS jaccard_bp FROM ver
        |WHERE inter * 1000 >= uni * 600 ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_apply" -> (survCte +
      """SELECT doc_id, cluster_size FROM surv ORDER BY doc_id""".stripMargin),

    // same 3-round labels; the survivor is the best-quality member
    // per cluster (metric desc, doc_id asc) instead of doc_id==cluster
    "dedup_apply_best" -> (survCte + qualityLangCte +
      """, ranked AS (SELECT l3.doc_id, l3.cluster, sizes.cluster_size,
        |  cq.quality_score_bp AS metric,
        |  row_number() OVER (PARTITION BY l3.cluster
        |    ORDER BY cq.quality_score_bp DESC, l3.doc_id ASC) AS rn
        |  FROM l3 JOIN cq USING (doc_id) JOIN sizes ON sizes.cluster = l3.cluster)
        |SELECT doc_id, cluster, cluster_size, metric FROM ranked
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // The incremental form never builds the corpus self-join, but its
    // OUTPUT contract is exactly the full pair set restricted to pairs
    // with a fresh side — which the oracle can say directly.
    "dedup_inc" -> (shingleCte + minhashVerCte +
      """SELECT doc_a, doc_b, (inter * 10000) // uni AS jaccard_bp FROM ver
        |WHERE inter * 1000 >= uni * 600
        |  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
        |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_inc_apply" -> (shingleCte + minhashVerCte +
      """, ipairs AS (SELECT doc_a, doc_b FROM ver
        |  WHERE inter * 1000 >= uni * 600 AND (doc_a % 5 = 0 OR doc_b % 5 = 0)),
        |sides AS (SELECT doc_a AS other, doc_b AS doc_id FROM ipairs
        |  UNION ALL SELECT doc_b, doc_a FROM ipairs),
        |dropped AS (SELECT DISTINCT doc_id FROM sides
        |  WHERE doc_id % 5 = 0 AND (other % 5 <> 0 OR other < doc_id))
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin),

    // The training-data curation story in ONE statement: near-dedup
    // survivors x quality gate x language ID — mirrors the Spark
    // composition in `queries` exactly (thresholds shared).
    "pipeline_curate" -> (survCte + qualityLangCte +
      """
        |SELECT doc_id, cluster_size, n_tokens, quality_score_bp, predicted_lang
        |FROM surv JOIN cq USING (doc_id) JOIN cl USING (doc_id)
        |WHERE n_tokens >= 30 AND quality_score_bp >= 4000
        |ORDER BY doc_id""".stripMargin),

    // The INCREMENT's curation story: gate the fresh batch on quality
    // and language first (matching the Spark composition's
    // gate-before-dedup order — ungated docs never enter the band
    // join), then drop near-dups of the corpus or of smaller gated
    // fresh ids. Pairs = full verified set restricted to gated fresh
    // participants, the incremental operator's declared contract.
    "curate_inc" -> (shingleCte + minhashVerCte + qualityLangCte +
      """
        |, g AS (SELECT doc_id FROM cq WHERE doc_id % 5 = 0
        |    AND n_tokens >= 30 AND quality_score_bp >= 4000),
        |ip AS (SELECT doc_a, doc_b FROM ver
        |  WHERE inter * 1000 >= uni * 600
        |    AND (doc_a % 5 <> 0 OR doc_a IN (SELECT doc_id FROM g))
        |    AND (doc_b % 5 <> 0 OR doc_b IN (SELECT doc_id FROM g))
        |    AND (doc_a % 5 = 0 OR doc_b % 5 = 0)),
        |sides AS (SELECT doc_a AS other, doc_b AS doc_id FROM ip
        |  UNION ALL SELECT doc_b, doc_a FROM ip),
        |dropped AS (SELECT DISTINCT doc_id FROM sides
        |  WHERE doc_id % 5 = 0 AND (other % 5 <> 0 OR other < doc_id))
        |SELECT doc_id, n_tokens, quality_score_bp, predicted_lang
        |FROM g JOIN cq USING (doc_id) JOIN cl USING (doc_id)
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin),

    "dedup_ngram" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id, source,
        |  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS shingles
        |  FROM toks WHERE len(t) >= 3),
        |p AS (SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.shingles, b.shingles))::BIGINT AS inter,
        |  len(list_distinct(list_concat(a.shingles, b.shingles)))::BIGINT AS uni
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT source, doc_a, doc_b, (inter * 10000) // uni AS jaccard_bp FROM p
        |WHERE inter * 1000 >= uni * 200 ORDER BY source, doc_a, doc_b""".stripMargin,

    // simhash: token hash = 15 md5 hex chars (60 bits), per-bit ±1
    // vote (ties → 1), packed signature, 4×15-bit band join, exact
    // Hamming — all integer arithmetic, bit-for-bit against the
    // native SimHash64 expression the Spark side serves.
    "dedup_simhash" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
        |bitsum AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
        |  FROM h, range(60) r(b) GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, sum(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
        |  FROM bitsum GROUP BY doc_id),
        |banded AS (SELECT doc_id, simhash, b AS band,
        |  (simhash >> (b * 15)) & 32767 AS chunk FROM sig, range(4) r(b)),
        |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Banded scale path: identical md5 MinHash/band arithmetic as
    // dedup_minhash, candidates additionally restricted to same-source,
    // verified at the ngram threshold (0.2) — fully differential.
    "dedup_banded" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') t FROM documents),
        |sh AS (SELECT doc_id, source,
        |  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS shingles
        |  FROM toks WHERE len(t) >= 3),
        |mh AS (SELECT doc_id, j,
        |  list_min([('0x' || substr(md5(s), 1, 13))::BIGINT
        |            + j * ('0x' || substr(md5(s), 14, 13))::BIGINT for s in shingles]) AS m
        |  FROM sh, range(12) r(j)),
        |bands AS (SELECT doc_id, j // 2 AS band,
        |  md5(string_agg(m::VARCHAR, '|' ORDER BY j)) AS band_sig
        |  FROM mh GROUP BY doc_id, j // 2),
        |cand AS (SELECT DISTINCT sa.source, a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN sh sa ON sa.doc_id = a.doc_id
        |  JOIN sh sb ON sb.doc_id = b.doc_id AND sb.source = sa.source),
        |ver AS (SELECT c.source, c.doc_a, c.doc_b,
        |  len(list_intersect(x.shingles, y.shingles))::BIGINT AS inter,
        |  len(list_distinct(list_concat(x.shingles, y.shingles)))::BIGINT AS uni
        |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b)
        |SELECT source, doc_a, doc_b, (inter * 10000) // uni AS jaccard_bp FROM ver
        |WHERE inter * 1000 >= uni * 200 ORDER BY source, doc_a, doc_b""".stripMargin,

    // Hyperplane-LSH scale path: the 16 md5-derived plane vectors are
    // embedded as identical DOUBLE literals here and in the Spark plan
    // (Double.toString round-trips exactly), so candidate generation +
    // cosine verification are both differential.
    "embed_lsh" -> (lshBandedCte +
      """p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, score FROM p WHERE score >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    // = the full-corpus LSH run restricted to pairs with a fresh side
    // (the incremental operator's declared contract)
    "embed_inc" -> (lshBandedCte +
      """p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id
        |  AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0))
        |SELECT id_a, id_b, score FROM p WHERE score >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    // survivor rule stated directly: a fresh vector is dropped when it
    // pairs with any smaller id (corpus or fresh — id_a < id_b makes
    // that one EXISTS) or with a LARGER corpus id (corpus always wins)
    "embed_inc_apply" -> (lshBandedCte +
      """p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id
        |  AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)),
        |q AS (SELECT id_a, id_b FROM p WHERE score >= 0.4)
        |SELECT f.vec_id, f.label FROM embeddings f
        |WHERE f.vec_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM q WHERE q.id_b = f.vec_id)
        |  AND NOT EXISTS (SELECT 1 FROM q WHERE q.id_a = f.vec_id AND q.id_b % 5 <> 0)
        |ORDER BY f.vec_id""".stripMargin),

    // IVF probe+rank over the fixed md5-derived centroids: assignment
    // is argmin of -2·v·c + |c|² (first-min tie-break = list_position,
    // mirroring Spark's array_position); each query probes its 2
    // nearest cells (ROW_NUMBER over (score, cell) mirrors Spark's
    // array_sort on struct(s, c)).
    "topk_kmeans" -> {
      val cs = Similarity.fixedCentroids(8, 64)
      val scoreExprs = cs.map { c =>
        s"-2.0 * list_dot_product(v, ${c.mkString("[", ", ", "]")}) + ${c.map(x => x * x).sum}"
      }.mkString(",\n  ")
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
         |  FROM embeddings),
         |sc AS (SELECT vec_id, v, nrm, [
         |  $scoreExprs] AS cs FROM n),
         |asg AS (SELECT vec_id, v, nrm,
         |  (list_position(cs, list_min(cs)) - 1) AS cell FROM sc),
         |qc AS (SELECT vec_id, v, nrm, unnest(cs) AS s, unnest(range(8)) AS c
         |  FROM sc WHERE vec_id < 5),
         |qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, c AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, c) rn FROM qc)
         |  WHERE rn <= 2),
         |p AS (SELECT q.q_id, x.vec_id,
         |  round(list_dot_product(x.v, q.qv) / (x.nrm * q.qn), 4) AS score
         |  FROM qp q JOIN asg x ON x.cell = q.cell AND x.vec_id <> q.q_id),
         |r AS (SELECT q_id, vec_id, score,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
         |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= 10
         |ORDER BY q_id, rn""".stripMargin
    },

    // the serving index, corpus-scaled: k = smallest x with x² ≥ n
    // (AnnIndex.annCellsFor's integer-exact search, mirrored here with
    // no floating sqrt), centroids = the md5-ranked data sample
    // (Similarity.sampledCentroids — both engines rank the same hex
    // strings and read the same parquet floats). Assignment and probe
    // both rank (score, cell) — ROW_NUMBER mirrors the first-min
    // tie-break of nearest_cell and probeQueries' struct sort.
    "topk_indexed" -> annIndexOracleSql(maxQueryId = 8, topK = 5),

    // requantize over an unchanged corpus rebuilds the identical index
    // (same n → same k → same md5-ranked sample), so the SAME inline
    // IVF statement is the oracle — the differential claim is exactly
    // "the stage→swap cycle is a pure physical no-op on the results"
    "topk_requant" -> annIndexOracleSql(maxQueryId = 6, topK = 4),

    // deletion = the same inline IVF statement with the tombstoned ids
    // excluded from the candidate side; the quantizer CTEs stay over
    // the FULL corpus because removeBatch never re-fits (the stored
    // quantizer is the build's — the coherence rule appends follow)
    "topk_del" ->
      annIndexOracleSql(maxQueryId = 6, topK = 4,
        candFilter = " AND x.vec_id % 10 <> 7"),

    // the two-level quantizer, every stage mirrored: kc from the same
    // nested integer-√ loops as Similarity (annCellsFor of annCellsFor),
    // coarse sample + assignment exactly the single-level pattern,
    // per-coarse-cell fine sample sized by the sqrt-with-correction
    // CASE (bit-identical to intSqrtCeil — floor(sqrt(exact int)) is
    // correctly rounded in both engines and the CASE absorbs the ±1),
    // fine argmin ROW_NUMBER (s, fcell) = Spark's min_by struct key,
    // fine probe ranked (s, ccell, fcell) across the probed coarse
    // cells = the windowed probe rank.
    "topk_ivf2" ->
      annIndex2OracleSql(maxQueryId = 6, topK = 5, nProbeCoarse = 2, nProbeFine = 3),

    // the stored two-level probe shares the inline statement at its
    // own parameters — assignment, both quantizer levels, and both
    // probe rankings read back from the persisted tables must be
    // indistinguishable from deriving them fresh
    "topk_idx2" ->
      annIndex2OracleSql(maxQueryId = 5, topK = 4, nProbeCoarse = 2, nProbeFine = 3),

    // deletion on the two-level tier: the same inline statement with
    // tombstoned ids excluded from candidates (quantizers = the
    // full-corpus build — the flat delete oracle's rule)
    "topk2_del" ->
      annIndex2OracleSql(maxQueryId = 6, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, candFilter = " AND x.vec_id % 10 <> 3"),

    // IVF² × SQ8 in one statement: annIndex2OracleSql's two-level CTEs
    // composed with topk_sq's quantization/approx/rerank CTEs — the
    // byte-bounded billion-vector serving shape hash-checked end to end
    "topk2_sq" ->
      annIndex2SqOracleSql(maxQueryId = 7, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, rerank = 10),

    // deletion composed with the gen-2 byte-bounded probe: the same
    // IVF²×SQ statement with tombstoned ids excluded from candidates
    // (quantizers and SQ params = the full-corpus build — deletion
    // never re-fits)
    "topk2_sq_del" ->
      annIndex2SqOracleSql(maxQueryId = 6, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, rerank = 10, candFilter = " AND x.vec_id % 10 <> 3"),

    // the explicit-id serving composition, gen-2: the same IVF²×SQ
    // statement with the query CTE filtered to the literal id list the
    // Spark side semi-joins against
    "topk2_sq_ids" ->
      annIndex2SqOracleSql(maxQueryId = 0, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, rerank = 10,
        qSel = "csc.vec_id IN (0, 2, 5, 9)"),

    // IVF² × PQ in one statement: the two-level CTEs composed with the
    // PQ codebook/assignment/table/ADC CTEs — the stored gen-2 PQ
    // stack must be a pure physical optimization of it
    "topk2_pq" ->
      annIndex2PqOracleSql(maxQueryId = 7, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, m = 8, ksub = 16, rerank = 24),

    // gen-2 PQ after delete: the same IVF²×PQ statement with
    // tombstoned ids excluded from candidates (quantizers and codebook
    // = the full-corpus build — deletion never re-fits)
    "topk2_pq_del" ->
      annIndex2PqOracleSql(maxQueryId = 6, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, m = 8, ksub = 16, rerank = 24,
        candFilter = " AND x.vec_id % 10 <> 3"),

    // the gen-2 explicit-id PQ composition: the same statement with
    // the query CTE filtered to the literal id list
    "topk2_pq_ids" ->
      annIndex2PqOracleSql(maxQueryId = 0, topK = 4, nProbeCoarse = 2,
        nProbeFine = 3, m = 8, ksub = 16, rerank = 24,
        qSel = "csc.vec_id IN (0, 2, 5, 9)"),

    // the curation → ledger → retire → probe loop: the LSH pair CTEs
    // (lshBandedCte — corpus-scaled band params, md5-derived planes)
    // feed a losers set excluded from the IVF candidates, and the
    // probe's query set is the pair survivors' 4 smallest ids — every
    // stage of the producer AND the consumer mirrored in one statement
    "curate_retire" -> curateRetireOracleSql(topK = 4),

    // the gen-2 producer loop: the same LSH pair CTEs composed into
    // the inline two-level statement, losers excluded from candidates
    "curate_ret2" -> curateRetire2OracleSql(topK = 4),

    // the streaming→index loop: the batch twin's hit CTEs feeding the
    // loser exclusion of the inline IVF statement
    "stream_retire" -> streamRetireOracleSql(topK = 4),

    // hybrid retrieval: both legs' CTE stacks + the integer RRF fold
    // in one statement
    "hybrid_rrf" -> hybridRrfOracleSql(topN = 20, queryVecId = 2),

    // SQ8, every stage mirrored: per-dim (min, max) from indexing the
    // same parquet floats, the clamp/floor quantization IEEE sequence
    // stated identically, the decomposed approximate dot (basis term +
    // step-scaled query against the code list) term by term, raw-double
    // candidate ranking with the vec_id tiebreak, exact-cosine rerank.
    // Raw ranking is safe because every double on both sides is the
    // same IEEE op sequence over the same parquet bytes — the same
    // bit-parity contract the brute topk relies on.
    "topk_sq" ->
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
        |  FROM embeddings),
        |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM n, range(1, 65) t(i) GROUP BY i),
        |prm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims),
        |c AS (SELECT vec_id, nrm,
        |  list_transform(range(1, 65), i -> CASE WHEN mxs[i] = mns[i] THEN 0.0
        |    ELSE least(greatest(floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])), 0.0), 255.0)
        |  END) AS codes
        |  FROM n, prm),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn,
        |  list_dot_product(v, list_transform(range(1, 65),
        |    i -> mns[i] + 0.5 * ((mxs[i] - mns[i]) / 255.0))) AS qbasis,
        |  list_transform(range(1, 65), i -> v[i] * ((mxs[i] - mns[i]) / 255.0)) AS t
        |  FROM n, prm WHERE vec_id < 5),
        |a AS (SELECT q.q_id, c.vec_id, q.qv, q.qn,
        |  (q.qbasis + list_dot_product(q.t, c.codes)) / (c.nrm * q.qn) AS approx
        |  FROM c JOIN q ON c.vec_id <> q.q_id),
        |cand AS (SELECT q_id, vec_id, qv, qn FROM
        |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= 20),
        |p AS (SELECT cand.q_id, n.vec_id,
        |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
        |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
        |r AS (SELECT q_id, vec_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
        |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,

    // IVF × SQ8 in one statement: the annIndexOracleSql cell CTEs
    // (same integer-√ sizing, md5-sampled centroids, (s, cell)
    // first-min assignment and probe) composed with topk_sq's
    // quantization/approx/rerank CTEs — the full faiss-IVF-SQ serving
    // shape hash-checked end to end
    "topk_ivf_sq" ->
      annIndexSqOracleSql(maxQueryId = 6, topK = 5, nProbe = 2, rerank = 15),

    // PQ/ADC: codebook sampling, per-subspace first-min assignment,
    // the per-query table, the m-lookup fold, and the exact rerank in
    // one statement — chains emitted in the operator's exact order
    "topk_pq" ->
      pqOracleSql(maxQueryId = 5, topK = 10, m = 8, ksub = 16, rerank = 50),

    // IVF × PQ in one statement: the cell CTEs composed with the PQ
    // codebook/assignment/table/ADC CTEs
    "topk_ivf_pq" ->
      ivfPqOracleSql(maxQueryId = 6, topK = 5, nProbe = 2, m = 8,
        ksub = 16, rerank = 30),

    // IVF × residual-PQ in one statement: the same cell CTEs, a
    // residual frame (v − ctr of the assigned cell), the residualized
    // codebook (the ksub sampled rows minus their own cell centroids),
    // and the per-probed-cell <q, ctr> term added back before the ADC
    // fold — every chain in the operator's exact IEEE order
    "topk_rpq" ->
      ivfRpqOracleSql(maxQueryId = 6, topK = 5, nProbe = 2, m = 8,
        ksub = 16, rerank = 30),

    // the STORED probe shares the inline statement at its own
    // parameters: assignment/quantizer/codebook/pqcodes read back from
    // the persisted tables must be indistinguishable from deriving
    // them fresh
    "topk_idx_pq" ->
      ivfPqOracleSql(maxQueryId = 7, topK = 4, nProbe = 2, m = 8,
        ksub = 16, rerank = 24),

    // the STORED probe shares the inline statement at its own
    // parameters: assignment/quantizer/params/codes read back from the
    // persisted tables must be indistinguishable from deriving them
    // fresh — the differential claim is exactly "the stored layout is
    // a pure physical optimization"
    "topk_indexed_sq" ->
      annIndexSqOracleSql(maxQueryId = 7, topK = 4, nProbe = 2, rerank = 12),

    // deletion composed with the byte-bounded probe: the same IVF×SQ
    // statement with tombstoned ids excluded from the candidate side
    // (quantizer and SQ params = the full-corpus build)
    "topk_sq_del" ->
      annIndexSqOracleSql(maxQueryId = 6, topK = 4, nProbe = 2, rerank = 12,
        candFilter = " AND x.vec_id % 10 <> 7"),

    // deletion composed with the sub-byte probe: the same IVF×PQ
    // statement with tombstoned ids excluded from the candidate side
    // (quantizer and codebook = the full-corpus build)
    "topk_pq_del" ->
      ivfPqOracleSql(maxQueryId = 6, topK = 4, nProbe = 2, m = 8,
        ksub = 16, rerank = 24, candFilter = " AND x.vec_id % 10 <> 7"),

    // the explicit-id serving composition at the PQ tier: the same
    // IVF×PQ statement with the query CTE filtered to the literal id
    // list the Spark side semi-joins against
    "topk_pq_ids" ->
      ivfPqOracleSql(maxQueryId = 0, topK = 4, nProbe = 2, m = 8,
        ksub = 16, rerank = 24, qSel = "sc.vec_id IN (1, 3, 6, 11)"),

    // the explicit-id serving composition: the same IVF×SQ statement
    // with the query CTE filtered to the literal id list the Spark
    // side semi-joins against
    "topk_sq_ids" ->
      annIndexSqOracleSql(maxQueryId = 0, topK = 4, nProbe = 2, rerank = 12,
        qSel = "sc.vec_id IN (1, 3, 6, 11)"),

    // honestly differential on BOTH columns: each engine runs its own
    // HLL sketch (Spark's approx_count_distinct vs DuckDB's) and
    // derives the within-10% verdict from its own estimate against the
    // exact count — the sketches differ, the ±10% CLAIM must not.
    // (A hardcoded `true` here would have made the column vacuous:
    // only the exact count would be checked.)
    "text_hll" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT count(DISTINCT token) AS exact_distinct,
        |  (abs(approx_count_distinct(token)::BIGINT - count(DISTINCT token)) * 10
        |     <= count(DISTINCT token)) AS hll_within_10pct
        |FROM tk""".stripMargin,

    "topk" ->
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS vec_id,
        |  round(list_dot_product(x.v, q.v) / (x.nrm * q.nrm), 4) AS score
        |  FROM n q JOIN n x ON x.vec_id <> q.vec_id WHERE q.vec_id < 5),
        |r AS (SELECT q_id, vec_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
        |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= 10
        |ORDER BY q_id, rn""".stripMargin,

    "topk_ivf" ->
      """WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] v,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS vec_id, x.label AS label,
        |  round(list_dot_product(x.v, q.v) / (x.nrm * q.nrm), 4) AS score
        |  FROM n q JOIN n x ON x.label = q.label AND x.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20),
        |r AS (SELECT q_id, vec_id, label, score,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
        |SELECT q_id, rn, vec_id, label, score FROM r WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin,

    "text_commonness" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS c FROM tk),
        |ref AS (SELECT token,
        |  CAST((count(*) * 1000000) // (SELECT c FROM tot) AS BIGINT) AS ppm
        |  FROM tk GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT 100),
        |j AS (SELECT tk.doc_id, coalesce(ref.ppm, 0) AS ppm
        |  FROM tk LEFT JOIN ref USING (token))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS commonness_ppm
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the corpus stats the Spark side collects to literals are stated
    // as subqueries on the same data — identical values by
    // construction; every div mirrored in the operator's order
    "bm25" -> bm25OracleSql,
    // the stored-table path serves the SAME model over the same corpus
    // — identical ranking is exactly the claim the differential check
    // should enforce, so the oracle is shared verbatim
    "bm25_stored" -> bm25OracleSql,
    "text_lm_stored" -> lmScoreOracleSql,

    // every stage mirrored: bigram stream (parallel unnest), prev /
    // pair counts, top-500 conditional table, top-100 unigram backoff,
    // stupid-backoff coalesce, per-doc integer mean, corpus left join
    // for pairless docs
    "text_lm_score" -> lmScoreOracleSql,

    "text_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) td FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_intersect(td, ['der','die','das','und','ist']))::INT s_de,
        |  len(list_intersect(td, ['the','a','of','and','is']))::INT s_en,
        |  len(list_intersect(td, ['el','la','de','que','y']))::INT s_es,
        |  len(list_intersect(td, ['le','les','de','et','un']))::INT s_fr,
        |  len(list_intersect(td, ['de5','shi4','bu4','le5','zai4']))::INT s_zh
        |  FROM t)
        |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') ts FROM documents),
        |m AS (SELECT doc_id, n_chars, len(ts)::INT n_tokens,
        |  len(list_distinct(ts))::INT n_distinct,
        |  len(list_filter(ts, x -> x IN ('the','a','of','and','is')))::INT n_stop FROM t)
        |SELECT doc_id, n_chars, n_tokens, n_distinct,
        |  ((n_distinct * 10000) // n_tokens)::BIGINT AS ttr_bp,
        |  (((n_chars - (n_tokens - 1)) * 100) // n_tokens)::BIGINT AS avg_token_len_x100,
        |  ((n_stop * 10000) // n_tokens)::BIGINT AS stopword_bp,
        |  ((4 * ((n_distinct * 10000) // n_tokens) + 3 * ((n_stop * 10000) // n_tokens)
        |      + 3 * least(10000, n_tokens * 100)) // 10)::BIGINT AS quality_score_bp
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n FROM tk GROUP BY token
        |ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "text_df" ->
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS df FROM tk GROUP BY token
        |ORDER BY df DESC, token LIMIT 20""".stripMargin,

    "text_fingerprint" -> (shingleCte +
      """SELECT doc_id, list_min([md5(s) for s in shingles]) AS fingerprint,
        |len(shingles)::INT AS n_shingles FROM sh ORDER BY doc_id""".stripMargin),

    "text_modes" ->
      """SELECT doc_id, len(string_split(text, ' '))::INT AS n_ws_tokens,
        |(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::INT AS n_punct,
        |(len(string_split(text, ' ')) + length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::INT AS n_bpe_ish
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the oracle REBUILDS the header-bearing payload byte-for-byte and
    // states the expected parse in closed form from the planted dims —
    // the differential check is therefore parse(synthesize(w,h))==(w,h)
    "mm_decode" ->
      (mediaPayloadCte +
        """SELECT doc_id, media_type,
          |  octet_length(encode(payload))::BIGINT AS n_bytes,
          |  md5(payload) AS checksum, width, height, frames
          |FROM p ORDER BY doc_id""".stripMargin),

    "mm_byte_stats" ->
      (mediaPayloadCte +
        """, b AS (SELECT doc_id, media_type,
          |  octet_length(encode(payload))::BIGINT AS payload_len,
          |  [substr(hex(encode(payload)), 2*i-1, 2) for i in range(1, octet_length(encode(payload))+1)] AS bp
          |  FROM p)
          |SELECT doc_id, media_type, payload_len,
          |  len(list_distinct(bp))::INT AS n_distinct_bytes,
          |  CASE WHEN payload_len = 0 THEN NULL
          |    ELSE ((list_sum([('0x' || x)::BIGINT for x in bp]) * 100) // payload_len)::BIGINT
          |  END AS mean_byte_x100
          |FROM b ORDER BY doc_id""".stripMargin),

    // the oracle strips the SAME header the decoder must recover from
    // the bytes, then mirrors the triplet arithmetic per position:
    // channel c of pixel j = body byte 3j+c, complete pixels only
    // (floor(len/3)), null means on a zero-pixel body — so the
    // differential check verifies the actual pixel-value sums, not
    // just the container metadata
    "mm_pixels" ->
      (mediaPayloadCte +
        """, img AS (SELECT doc_id, width, height,
          |  encode(substr(payload,
          |    length('P6' || chr(10) || width || ' ' || height || chr(10) || '255' || chr(10)) + 1)) AS body
          |  FROM p WHERE media_type = 'image'),
          |bs AS (SELECT doc_id, width, height,
          |  (octet_length(body) // 3)::BIGINT AS n_pixels,
          |  [('0x' || substr(hex(body), 2*i-1, 2))::BIGINT
          |   for i in range(1, octet_length(body)+1)] AS bytes
          |  FROM img),
          |ch AS (SELECT doc_id, width, height, n_pixels,
          |  list_sum([bytes[3*j+1] for j in range(0, n_pixels::INT)]) AS sum_r,
          |  list_sum([bytes[3*j+2] for j in range(0, n_pixels::INT)]) AS sum_g,
          |  list_sum([bytes[3*j+3] for j in range(0, n_pixels::INT)]) AS sum_b
          |  FROM bs)
          |SELECT doc_id, width, height, n_pixels,
          |  CASE WHEN n_pixels = 0 THEN NULL ELSE ((sum_r * 100) // n_pixels)::BIGINT END AS mean_r_x100,
          |  CASE WHEN n_pixels = 0 THEN NULL ELSE ((sum_g * 100) // n_pixels)::BIGINT END AS mean_g_x100,
          |  CASE WHEN n_pixels = 0 THEN NULL ELSE ((sum_b * 100) // n_pixels)::BIGINT END AS mean_b_x100,
          |  CASE WHEN n_pixels = 0 THEN NULL
          |    ELSE (((sum_r + sum_g + sum_b) * 100) // (3 * n_pixels))::BIGINT END AS brightness_x100
          |FROM ch ORDER BY doc_id""".stripMargin),

    // the planted pixel formulas (Multimodal.pngChannels) restated in
    // closed form over fixed 17×15 ranges filtered to each doc's
    // (w, h) — the oracle never touches a PNG byte, so agreement
    // means Spark's encode→deflate→inflate→decode round-trip
    // reproduced every planted channel value exactly
    "mm_png_pixels" ->
      """WITH dims AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 7 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |  FROM dims, range(0, 17) t(x), range(0, 15) s(y) WHERE x < w AND y < h),
        |ch AS (SELECT doc_id, w, h,
        |  CAST(SUM((x + y + doc_id) % 256) AS BIGINT) AS sr,
        |  CAST(SUM((2 * x + y + 3 * doc_id) % 256) AS BIGINT) AS sg,
        |  CAST(SUM((x + 2 * y + 7 * doc_id) % 256) AS BIGINT) AS sb,
        |  COUNT(*)::BIGINT AS np
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height, np AS n_pixels,
        |  (sr * 100 // np)::BIGINT AS mean_r_x100,
        |  (sg * 100 // np)::BIGINT AS mean_g_x100,
        |  (sb * 100 // np)::BIGINT AS mean_b_x100,
        |  ((sr + sg + sb) * 100 // (np * 3))::BIGINT AS brightness_x100
        |FROM ch ORDER BY doc_id""".stripMargin,

    // dims/pixel-count in closed form (lossless through any codec) +
    // the tolerance booleans as the stated claim: the Spark side
    // derives them from the genuine DCT round-trip, so a decode
    // regression (channel swap, upsample bug, wrong image) flips a
    // boolean and hash-mismatches — DuckDB never touches a JPEG byte.
    // ENVIRONMENT DEPENDENCY (triage note): the stated-true booleans
    // make this entry's hash depend on the host JRE's ImageIO JPEG
    // codec staying within 5 x100-units of the closed-form means — a
    // JDK upgrade or codec-plugin change can flip a boolean with NO
    // regression in this repo. A future hash mismatch here should be
    // triaged as environment drift first (OpsSpec's measured <=300
    // margin gives ~200 units of headroom, so drift is unlikely but
    // not impossible); a genuine decode bug shifts means by tens of
    // units and fails OpsSpec's margin pin too.
    "mm_jpeg_pixels" ->
      """SELECT doc_id,
        |  (8 + doc_id % 9)::BIGINT AS width,
        |  (8 + (doc_id * 3) % 7)::BIGINT AS height,
        |  ((8 + doc_id % 9) * (8 + (doc_id * 3) % 7))::BIGINT AS n_pixels,
        |  true AS r_close, true AS g_close, true AS b_close,
        |  true AS brightness_close
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed-form plant vs parsed values; the WHERE restates the
    // magic routing (fixture audio rows are exactly the SPHERE rows)
    "mm_audio_meta" ->
      (mediaPayloadCte +
        """SELECT doc_id, sphere_hdr AS header_bytes, sr::BIGINT AS sample_rate,
          |  ch::BIGINT AS channel_count, sc::BIGINT AS sample_count,
          |  sc::BIGINT AS data_bytes
          |FROM p WHERE media_type = 'audio' ORDER BY doc_id""".stripMargin),

    "mm_resize" ->
      (mediaFeatsCte +
        """, scaled AS (SELECT *,
          |  (CASE WHEN greatest(width, height) <= 256 THEN 1000
          |        ELSE 256000 // greatest(width, height) END)::BIGINT AS scale_pm
          |  FROM feats)
          |SELECT doc_id, media_type, width, height, scale_pm,
          |  (width * scale_pm // 1000)::BIGINT AS out_width,
          |  (height * scale_pm // 1000)::BIGINT AS out_height
          |FROM scaled ORDER BY doc_id""".stripMargin),

    "mm_frames" ->
      (mediaFeatsCte +
        """SELECT doc_id, media_type, frames, unnest(range(0, frames, 10))::BIGINT AS frame_idx
          |FROM feats ORDER BY doc_id, frame_idx""".stripMargin),

    // the planted-PCM formulas (Multimodal.pcmFrames/ChannelCount/
    // Rate/Byte) restated in closed form: every body byte is
    // (5·doc_id + 3·j) mod 256 with j = frame·ch + channel, so the
    // per-channel sums come from unnested (frame, channel) ranges —
    // the oracle never parses a container byte, exactly the
    // mm_png_pixels contract one modality over. Frames ≥ 40 by
    // construction, so the integer means never divide by zero here;
    // the operator's null-on-empty rule is spec-pinned instead.
    "mm_audio_pcm" ->
      """WITH m AS (SELECT doc_id,
        |  (40 + doc_id % 120)::BIGINT AS frames,
        |  (1 + doc_id % 2)::BIGINT AS ch,
        |  (8000 + (doc_id % 3) * 4000)::BIGINT AS rate FROM documents),
        |fr AS (SELECT doc_id, frames, ch, rate, unnest(range(0, frames)) AS f FROM m),
        |by AS (SELECT doc_id, frames, ch, rate, f, unnest(range(0, ch)) AS c FROM fr),
        |agg AS (SELECT doc_id, max(frames) AS frames, max(ch) AS ch, max(rate) AS rate,
        |  sum(CASE WHEN c = 0 THEN (5 * doc_id + 3 * (f * ch + c)) % 256 ELSE 0 END)::BIGINT AS s0,
        |  sum(CASE WHEN c = 1 THEN (5 * doc_id + 3 * (f * ch + c)) % 256 ELSE 0 END)::BIGINT AS s1
        |  FROM by GROUP BY doc_id)
        |SELECT doc_id, rate AS sample_rate, ch AS channel_count,
        |  1::BIGINT AS sample_n_bytes, frames AS n_frames,
        |  (s0 * 100 // frames)::BIGINT AS mean_c0_x100,
        |  (CASE WHEN ch = 2 THEN s1 * 100 // frames END)::BIGINT AS mean_c1_x100,
        |  ((s0 + s1) * 100 // (frames * ch))::BIGINT AS mean_all_x100
        |FROM agg ORDER BY doc_id""".stripMargin,

    // the 16-bit planted formulas (Multimodal.pcm16*) in closed form:
    // every sample is two's-complement ((7·doc_id + 11·j) mod 65536) −
    // 32768 at j = frame·ch + channel, so the per-channel sums — and
    // their possibly-NEGATIVE truncating means — come from unnested
    // (frame, channel) ranges; the oracle never assembles a byte pair,
    // which is exactly what makes a byte-order or sign-extension bug
    // in the decoder a hash mismatch
    "mm_pcm16" ->
      """WITH m AS (SELECT doc_id,
        |  (30 + doc_id % 90)::BIGINT AS frames,
        |  (1 + doc_id % 2)::BIGINT AS ch,
        |  (8000 + (doc_id % 3) * 4000)::BIGINT AS rate FROM documents),
        |fr AS (SELECT doc_id, frames, ch, rate, unnest(range(0, frames)) AS f FROM m),
        |by AS (SELECT doc_id, frames, ch, rate, f, unnest(range(0, ch)) AS c FROM fr),
        |agg AS (SELECT doc_id, max(frames) AS frames, max(ch) AS ch, max(rate) AS rate,
        |  sum(CASE WHEN c = 0 THEN (7 * doc_id + 11 * (f * ch + c)) % 65536 - 32768 ELSE 0 END)::BIGINT AS s0,
        |  sum(CASE WHEN c = 1 THEN (7 * doc_id + 11 * (f * ch + c)) % 65536 - 32768 ELSE 0 END)::BIGINT AS s1
        |  FROM by GROUP BY doc_id)
        |SELECT doc_id, rate AS sample_rate, ch AS channel_count,
        |  2::BIGINT AS sample_n_bytes, frames AS n_frames,
        |  (s0 * 100 // frames)::BIGINT AS mean_c0_x100,
        |  (CASE WHEN ch = 2 THEN s1 * 100 // frames END)::BIGINT AS mean_c1_x100,
        |  ((s0 + s1) * 100 // (frames * ch))::BIGINT AS mean_all_x100
        |FROM agg ORDER BY doc_id""".stripMargin,

    // the planted Y4M formulas (Multimodal.y4m*) in closed form: every
    // plane byte is a doc_id/frame/offset expression, so the per-frame
    // sums come from unnested (frame, offset) ranges — the oracle
    // never walks a FRAME marker, which is exactly what makes a
    // framing/offset/geometry bug in the decoder a hash mismatch
    "mm_video" ->
      """WITH m AS (SELECT doc_id,
        |  (8 + 2 * (doc_id % 5))::BIGINT AS w,
        |  (6 + 2 * (doc_id % 3))::BIGINT AS h,
        |  (2 + doc_id % 4)::BIGINT AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM m),
        |ys AS (SELECT doc_id, f, sum((3 * doc_id + 7 * f + i) % 256)::BIGINT AS sy
        |  FROM (SELECT doc_id, f, unnest(range(0, w * h)) AS i FROM fr)
        |  GROUP BY doc_id, f),
        |cs AS (SELECT doc_id, f,
        |  sum((2 * doc_id + 5 * f + 3 * j) % 256)::BIGINT AS su,
        |  sum((doc_id + 11 * f + j) % 256)::BIGINT AS sv
        |  FROM (SELECT doc_id, f, unnest(range(0, (w // 2) * (h // 2))) AS j FROM fr)
        |  GROUP BY doc_id, f)
        |SELECT m.doc_id, m.w AS width, m.h AS height, m.nf AS n_frames,
        |  ys.f::INT AS frame_idx,
        |  (ys.sy * 100 // (m.w * m.h))::BIGINT AS mean_y_x100,
        |  (cs.su * 100 // ((m.w // 2) * (m.h // 2)))::BIGINT AS mean_u_x100,
        |  (cs.sv * 100 // ((m.w // 2) * (m.h // 2)))::BIGINT AS mean_v_x100
        |FROM m JOIN ys USING (doc_id)
        |JOIN cs ON cs.doc_id = ys.doc_id AND cs.f = ys.f
        |ORDER BY doc_id, frame_idx""".stripMargin
  )

  /** The persisted-ANN-index oracle: inline IVF over the md5-ranked
    * data-sampled quantizer, parameterized on the probe scope —
    * shared by topk_indexed (the build) and topk_requant (the
    * rebuild, identical over an unchanged corpus). */
  private def annIndexOracleSql(maxQueryId: Int, topK: Int,
                                candFilter: String = ""): String =
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |""".stripMargin +
      annFlatCtesAndSelect(s"vec_id < $maxQueryId", topK, candFilter)

  /** The flat-IVF CTE stack + final select WITHOUT the leading
    * `WITH n` — composable after any prefix that already defines `n`
    * (the LSH pair CTEs for `curate_retire`, the stream-hit CTEs for
    * `stream_retire`, the plain embeddings CTE for the standalone
    * oracles). Same composition contract as [[ann2CtesAndSelect]]. */
  private def annFlatCtesAndSelect(qSel: String, topK: Int,
                                   candFilter: String = ""): String =
    s"""kprm AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS cell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kprm WHERE s.rnk <= kprm.k),
       |sc AS (SELECT n.vec_id, n.v, n.nrm, cen.cell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |asg AS (SELECT vec_id, v, nrm, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn FROM sc)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn
       |   FROM sc WHERE $qSel) WHERE rn <= 2),
       |p AS (SELECT q.q_id, x.vec_id,
       |  round(list_dot_product(x.v, q.qv) / (x.nrm * q.qn), 4) AS score
       |  FROM qp q JOIN asg x ON x.cell = q.cell AND x.vec_id <> q.q_id$candFilter),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin

  /** The two-level-IVF oracle, parameterized on the probe scope —
    * shared by `topk_ivf2` (inline) and `topk_idx2` (the
    * persisted two-level index). Every stage mirrored: kc from the
    * nested integer-√ loops, md5 sampling at both levels, the
    * sqrt-with-correction per-cell sizing CASE (= intSqrtCeil), fine
    * argmin ROW_NUMBER (s, fcell) = Spark's min_by struct key, fine
    * probe ranked (s, ccell, fcell) across the probed coarse cells. */
  private def annIndex2OracleSql(maxQueryId: Int, topK: Int,
                                 nProbeCoarse: Int, nProbeFine: Int,
                                 candFilter: String = ""): String =
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |""".stripMargin +
      ann2CtesAndSelect(s"vec_id < $maxQueryId", topK, nProbeCoarse,
        nProbeFine, candFilter)

  /** The two-level CTE stack + final select WITHOUT the leading
    * `WITH n` — composable after any prefix that already defines `n`
    * (the LSH pair CTEs for `curate_ret2`, the plain embeddings CTE
    * for the standalone oracles). `qSel` filters the coarse query
    * scan; `candFilter` is appended after the candidate join (scalar
    * predicates ride the ON clause, `WHERE NOT EXISTS` forms start on
    * their own line). */
  private def ann2CtesAndSelect(qSel: String, topK: Int,
                                nProbeCoarse: Int, nProbeFine: Int,
                                candFilter: String = ""): String =
    s"""ktot AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::BIGINT AS k),
       |kc AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT k FROM ktot)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS ccell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kc WHERE s.rnk <= kc.k),
       |csc AS (SELECT n.vec_id, n.v, n.nrm, cen.ccell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |casg AS (SELECT vec_id, v, nrm, ccell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, ccell) rn FROM csc)
       |  WHERE rn = 1),
       |occ AS (SELECT ccell, count(*) AS c FROM casg GROUP BY ccell),
       |kf AS (SELECT ccell, CASE WHEN (sq - 1) * (sq - 1) >= c THEN sq - 1
       |                          WHEN sq * sq >= c THEN sq ELSE sq + 1 END AS kf
       |  FROM (SELECT ccell, c, CAST(floor(sqrt(c)) AS BIGINT) AS sq FROM occ)),
       |fcen AS (SELECT r.ccell, (r.rnk - 1)::INT AS fcell, r.v AS fctr
       |  FROM (SELECT ccell, v, ROW_NUMBER() OVER (PARTITION BY ccell
       |          ORDER BY md5('seed:' || vec_id), vec_id) AS rnk FROM casg) r
       |  JOIN kf ON r.ccell = kf.ccell WHERE r.rnk <= kf.kf),
       |fsc AS (SELECT a.vec_id, a.v, a.nrm, a.ccell, f.fcell,
       |  -2.0 * list_dot_product(a.v, f.fctr) + list_dot_product(f.fctr, f.fctr) AS s
       |  FROM casg a JOIN fcen f ON a.ccell = f.ccell),
       |fasg AS (SELECT vec_id, v, nrm, ccell, fcell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, fcell) rn FROM fsc)
       |  WHERE rn = 1),
       |qc AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, ccell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, ccell) rn
       |   FROM csc WHERE $qSel) WHERE rn <= $nProbeCoarse),
       |qf AS (SELECT q_id, qv, qn, ccell, fcell FROM
       |  (SELECT q.q_id, q.qv, q.qn, q.ccell, f.fcell,
       |     ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |       -2.0 * list_dot_product(q.qv, f.fctr) + list_dot_product(f.fctr, f.fctr),
       |       q.ccell, f.fcell) AS rn
       |   FROM qc q JOIN fcen f ON q.ccell = f.ccell) WHERE rn <= $nProbeFine),
       |p AS (SELECT q.q_id, x.vec_id,
       |  round(list_dot_product(x.v, q.qv) / (x.nrm * q.qn), 4) AS score
       |  FROM qf q JOIN fasg x ON x.ccell = q.ccell AND x.fcell = q.fcell
       |    AND x.vec_id <> q.q_id$candFilter),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin

  /** The IVF² × SQ8 oracle (`topk2_sq`): the two-level
    * CTEs of [[annIndex2OracleSql]] (both quantizer levels, both
    * assignments, both probe rankings) composed with `topk_sq`'s
    * quantization / decomposed-approximate-dot / rerank CTEs. The
    * persisted index's whole stored stack — coarse+fine centroids,
    * SQ params, codes inside the ccell buckets — must reproduce this
    * statement exactly. */
  private def annIndex2SqOracleSql(maxQueryId: Int, topK: Int,
                                   nProbeCoarse: Int, nProbeFine: Int,
                                   rerank: Int,
                                   qSel: String = "",
                                   candFilter: String = ""): String = {
    val qWhere = if (qSel.nonEmpty) qSel else s"csc.vec_id < $maxQueryId"
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |ktot AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::BIGINT AS k),
       |kc AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT k FROM ktot)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS ccell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kc WHERE s.rnk <= kc.k),
       |csc AS (SELECT n.vec_id, n.v, n.nrm, cen.ccell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |casg AS (SELECT vec_id, v, nrm, ccell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, ccell) rn FROM csc)
       |  WHERE rn = 1),
       |occ AS (SELECT ccell, count(*) AS c FROM casg GROUP BY ccell),
       |kf AS (SELECT ccell, CASE WHEN (sq - 1) * (sq - 1) >= c THEN sq - 1
       |                          WHEN sq * sq >= c THEN sq ELSE sq + 1 END AS kf
       |  FROM (SELECT ccell, c, CAST(floor(sqrt(c)) AS BIGINT) AS sq FROM occ)),
       |fcen AS (SELECT r.ccell, (r.rnk - 1)::INT AS fcell, r.v AS fctr
       |  FROM (SELECT ccell, v, ROW_NUMBER() OVER (PARTITION BY ccell
       |          ORDER BY md5('seed:' || vec_id), vec_id) AS rnk FROM casg) r
       |  JOIN kf ON r.ccell = kf.ccell WHERE r.rnk <= kf.kf),
       |fsc AS (SELECT a.vec_id, a.nrm, a.ccell, f.fcell,
       |  -2.0 * list_dot_product(a.v, f.fctr) + list_dot_product(f.fctr, f.fctr) AS s
       |  FROM casg a JOIN fcen f ON a.ccell = f.ccell),
       |fasg AS (SELECT vec_id, nrm, ccell, fcell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, fcell) rn FROM fsc)
       |  WHERE rn = 1),
       |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM n, range(1, 65) t(i) GROUP BY i),
       |sprm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims),
       |c AS (SELECT vec_id, nrm,
       |  list_transform(range(1, 65), i -> CASE WHEN mxs[i] = mns[i] THEN 0.0
       |    ELSE least(greatest(floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])), 0.0), 255.0)
       |  END) AS codes
       |  FROM n, sprm),
       |qc AS (SELECT vec_id AS q_id, qv, qn, ccell, qbasis, t FROM
       |  (SELECT csc.vec_id, csc.v AS qv, csc.nrm AS qn, csc.ccell,
       |     list_dot_product(csc.v, list_transform(range(1, 65),
       |       i -> mns[i] + 0.5 * ((mxs[i] - mns[i]) / 255.0))) AS qbasis,
       |     list_transform(range(1, 65), i -> csc.v[i] * ((mxs[i] - mns[i]) / 255.0)) AS t,
       |     ROW_NUMBER() OVER (PARTITION BY csc.vec_id ORDER BY csc.s, csc.ccell) rn
       |   FROM csc, sprm WHERE $qWhere) WHERE rn <= $nProbeCoarse),
       |qf AS (SELECT q_id, qv, qn, qbasis, t, ccell, fcell FROM
       |  (SELECT q.q_id, q.qv, q.qn, q.qbasis, q.t, q.ccell, f.fcell,
       |     ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |       -2.0 * list_dot_product(q.qv, f.fctr) + list_dot_product(f.fctr, f.fctr),
       |       q.ccell, f.fcell) AS rn
       |   FROM qc q JOIN fcen f ON q.ccell = f.ccell) WHERE rn <= $nProbeFine),
       |a AS (SELECT q.q_id, x.vec_id, q.qv, q.qn,
       |  (q.qbasis + list_dot_product(q.t, c.codes)) / (c.nrm * q.qn) AS approx
       |  FROM qf q JOIN fasg x ON x.ccell = q.ccell AND x.fcell = q.fcell
       |    AND x.vec_id <> q.q_id$candFilter
       |  JOIN c ON c.vec_id = x.vec_id),
       |cand AS (SELECT q_id, vec_id, qv, qn FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= $rerank),
       |p AS (SELECT cand.q_id, n.vec_id,
       |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
       |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The IVF² × PQ oracle (`topk2_pq`): [[annIndex2SqOracleSql]]'s
    * two-level CTEs (both quantizer levels, both assignments, both
    * probe rankings) composed with [[pqOracleSql]]'s codebook /
    * per-subspace assignment / query-table / ADC CTEs — the persisted
    * gen-2 PQ stack (coarse+fine centroids, codebook, pqcodes inside
    * the ccell buckets) must reproduce this statement exactly. */
  private def annIndex2PqOracleSql(maxQueryId: Int, topK: Int,
                                   nProbeCoarse: Int, nProbeFine: Int,
                                   m: Int, ksub: Int, rerank: Int,
                                   dim: Int = 64,
                                   qSel: String = "",
                                   candFilter: String = ""): String = {
    val qWhere = if (qSel.nonEmpty) qSel else s"csc.vec_id < $maxQueryId"
    val dsub = dim / m
    def dotChain(x: String) = (1 to dsub).map(t =>
      s"$x[j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val c2Chain = (1 to dsub).map(t =>
      s"cm[i+1][j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val adcChain = (1 to m).map(j =>
      s"qtbl[$j][codes[$j]+1]").mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |ktot AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::BIGINT AS k),
       |kc AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT k FROM ktot)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS ccell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kc WHERE s.rnk <= kc.k),
       |csc AS (SELECT n.vec_id, n.v, n.nrm, cen.ccell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |casg AS (SELECT vec_id, v, nrm, ccell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, ccell) rn FROM csc)
       |  WHERE rn = 1),
       |occ AS (SELECT ccell, count(*) AS c FROM casg GROUP BY ccell),
       |kf AS (SELECT ccell, CASE WHEN (sq - 1) * (sq - 1) >= c THEN sq - 1
       |                          WHEN sq * sq >= c THEN sq ELSE sq + 1 END AS kf
       |  FROM (SELECT ccell, c, CAST(floor(sqrt(c)) AS BIGINT) AS sq FROM occ)),
       |fcen AS (SELECT r.ccell, (r.rnk - 1)::INT AS fcell, r.v AS fctr
       |  FROM (SELECT ccell, v, ROW_NUMBER() OVER (PARTITION BY ccell
       |          ORDER BY md5('seed:' || vec_id), vec_id) AS rnk FROM casg) r
       |  JOIN kf ON r.ccell = kf.ccell WHERE r.rnk <= kf.kf),
       |fsc AS (SELECT a.vec_id, a.nrm, a.ccell, f.fcell,
       |  -2.0 * list_dot_product(a.v, f.fctr) + list_dot_product(f.fctr, f.fctr) AS s
       |  FROM casg a JOIN fcen f ON a.ccell = f.ccell),
       |fasg AS (SELECT vec_id, nrm, ccell, fcell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, fcell) rn FROM fsc)
       |  WHERE rn = 1),
       |cl AS (SELECT list(v ORDER BY rnk) AS cm FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s WHERE rnk <= $ksub),
       |pqc AS (SELECT n.vec_id, n.nrm,
       |  list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |    -2.0 * (${dotChain("v")}) + ($c2Chain))) AS pqd
       |  FROM n, cl),
       |cod AS (SELECT vec_id, nrm,
       |  list_transform(pqd, a -> list_position(a, list_min(a)) - 1) AS codes
       |  FROM pqc),
       |qc AS (SELECT vec_id AS q_id, qv, qn, ccell, qtbl FROM
       |  (SELECT csc.vec_id, csc.v AS qv, csc.nrm AS qn, csc.ccell,
       |     list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |       (${dotChain("csc.v")}))) AS qtbl,
       |     ROW_NUMBER() OVER (PARTITION BY csc.vec_id ORDER BY csc.s, csc.ccell) rn
       |   FROM csc, cl WHERE $qWhere) WHERE rn <= $nProbeCoarse),
       |qf AS (SELECT q_id, qv, qn, qtbl, ccell, fcell FROM
       |  (SELECT q.q_id, q.qv, q.qn, q.qtbl, q.ccell, f.fcell,
       |     ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |       -2.0 * list_dot_product(q.qv, f.fctr) + list_dot_product(f.fctr, f.fctr),
       |       q.ccell, f.fcell) AS rn
       |   FROM qc q JOIN fcen f ON q.ccell = f.ccell) WHERE rn <= $nProbeFine),
       |a AS (SELECT q.q_id, x.vec_id, q.qv, q.qn,
       |  ($adcChain) / (c.nrm * q.qn) AS approx
       |  FROM qf q JOIN fasg x ON x.ccell = q.ccell AND x.fcell = q.fcell
       |    AND x.vec_id <> q.q_id$candFilter
       |  JOIN cod c ON c.vec_id = x.vec_id),
       |cand AS (SELECT q_id, vec_id, qv, qn FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= $rerank),
       |p AS (SELECT cand.q_id, n.vec_id,
       |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
       |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The curation → retire → probe oracle (`curate_retire`):
    * [[lshBandedCte]]'s corpus-scaled LSH pair pipeline produces the
    * loser set (each verified pair's greater id) and the query set
    * (the 4 smallest survivor ids), composed into the inline IVF
    * statement — losers excluded from the CANDIDATE side only (the
    * quantizer stays the full-corpus build, the delete-oracle rule). */
  /** The LSH-pair → losers/qids producer CTEs shared by
    * [[curateRetireOracleSql]] (flat consumer) and
    * [[curateRetire2OracleSql]] (two-level consumer). */
  private val lshLosersQidsCte =
    """pr AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score
      |  FROM banded a JOIN banded b
      |  ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id),
      |losers AS (SELECT DISTINCT id_b AS vec_id FROM pr WHERE score >= 0.4),
      |qids AS (SELECT DISTINCT id_a AS vec_id FROM pr WHERE score >= 0.4
      |  ORDER BY id_a LIMIT 4),
      |""".stripMargin

  /** The gen-2 producer loop oracle (`curate_ret2`): the same LSH
    * pair pipeline feeding the inline TWO-LEVEL statement — losers
    * excluded from the candidate side only, queries = the 4 smallest
    * survivor ids (both quantizer levels stay the full-corpus build;
    * deletion never re-fits). */
  private def curateRetire2OracleSql(topK: Int): String =
    lshBandedCte + lshLosersQidsCte +
      ann2CtesAndSelect("vec_id IN (SELECT vec_id FROM qids)", topK,
        nProbeCoarse = 2, nProbeFine = 3,
        candFilter = "\n  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.vec_id = x.vec_id)")

  private def curateRetireOracleSql(topK: Int): String =
    lshBandedCte + lshLosersQidsCte +
      annFlatCtesAndSelect("vec_id IN (SELECT vec_id FROM qids)", topK,
        candFilter = "\n  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.vec_id = x.vec_id)")

  /** The streaming → index loop oracle (`stream_retire`): the batch
    * twin's hit CTEs ([[graft.queries.AnalyticsQueries]]'s
    * stream-near-dup oracle, hash-identical to the completed stream by
    * the `stream_sink` entry) over the bounded doc prefix produce the
    * loser set, composed into the inline IVF statement — losers
    * excluded from the candidate side only, queries = the 4 smallest
    * surviving hit sources. */
  private def streamRetireOracleSql(topK: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |  FROM documents WHERE doc_id < 500),
       |sh AS (SELECT doc_id,
       |  list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |mh AS (SELECT doc_id, j,
       |  list_min([('0x' || substr(md5(s), 1, 13))::BIGINT
       |            + j * ('0x' || substr(md5(s), 14, 13))::BIGINT for s in shingles]) AS m
       |  FROM sh, range(12) rj(j)),
       |sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM mh GROUP BY doc_id),
       |bands AS (SELECT doc_id, j // 2 AS band,
       |  md5(string_agg(m::VARCHAR, '|' ORDER BY j)) AS band_sig
       |  FROM mh GROUP BY doc_id, j // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
       |  WHERE b.doc_id - a.doc_id <= 120),
       |agree AS (SELECT doc_a, doc_b,
       |  len([i for i in range(1, 13) if x.sig[i] = y.sig[i]])::BIGINT AS n_agree
       |  FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b),
       |hitp AS (SELECT doc_a, doc_b FROM agree WHERE n_agree >= 8),
       |losers AS (SELECT DISTINCT doc_b AS vec_id FROM hitp),
       |qids AS (SELECT DISTINCT doc_a AS vec_id FROM hitp
       |  ORDER BY doc_a LIMIT 4),
       |n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |""".stripMargin +
      annFlatCtesAndSelect("vec_id IN (SELECT vec_id FROM qids)", topK,
        candFilter = "\n  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.vec_id = x.vec_id)")

  /** The IVF × SQ8 oracle, parameterized on the probe scope — shared
    * by `topk_ivf_sq` (the inline one-shot form) and `topk_indexed_sq`
    * (the persisted-index probe, whose stored codes/params/quantizer
    * must reproduce this statement exactly). Composition of
    * [[annIndexOracleSql]]'s cell CTEs with `topk_sq`'s
    * quantization/approx/rerank CTEs. */
  private def annIndexSqOracleSql(maxQueryId: Int, topK: Int,
                                  nProbe: Int, rerank: Int,
                                  qSel: String = "",
                                  candFilter: String = ""): String = {
    val qWhere = if (qSel.nonEmpty) qSel else s"sc.vec_id < $maxQueryId"
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |kprm AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS cell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kprm WHERE s.rnk <= kprm.k),
       |sc AS (SELECT n.vec_id, n.v, n.nrm, cen.cell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |asg AS (SELECT vec_id, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn FROM sc)
       |  WHERE rn = 1),
       |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM n, range(1, 65) t(i) GROUP BY i),
       |sprm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims),
       |c AS (SELECT vec_id, nrm,
       |  list_transform(range(1, 65), i -> CASE WHEN mxs[i] = mns[i] THEN 0.0
       |    ELSE least(greatest(floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])), 0.0), 255.0)
       |  END) AS codes
       |  FROM n, sprm),
       |qp AS (SELECT vec_id AS q_id, qv, qn, cell, qbasis, t FROM
       |  (SELECT sc.vec_id, sc.v AS qv, sc.nrm AS qn, sc.cell,
       |     list_dot_product(sc.v, list_transform(range(1, 65),
       |       i -> mns[i] + 0.5 * ((mxs[i] - mns[i]) / 255.0))) AS qbasis,
       |     list_transform(range(1, 65), i -> sc.v[i] * ((mxs[i] - mns[i]) / 255.0)) AS t,
       |     ROW_NUMBER() OVER (PARTITION BY sc.vec_id ORDER BY sc.s, sc.cell) rn
       |   FROM sc, sprm WHERE $qWhere) WHERE rn <= $nProbe),
       |a AS (SELECT q.q_id, x.vec_id, q.qv, q.qn,
       |  (q.qbasis + list_dot_product(q.t, c.codes)) / (c.nrm * q.qn) AS approx
       |  FROM qp q JOIN asg x ON x.cell = q.cell AND x.vec_id <> q.q_id$candFilter
       |  JOIN c ON c.vec_id = x.vec_id),
       |cand AS (SELECT q_id, vec_id, qv, qn FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= $rerank),
       |p AS (SELECT cand.q_id, n.vec_id,
       |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
       |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The PQ/ADC oracle (`topk_pq`): codebook = the ksub md5-rank-first
    * rows (the sampled-quantizer CTE), per-subspace assignment by
    * first-min of the explicit -2·dot+|c|² chains, the per-query
    * m×ksub table, the m-lookup ADC fold, and the exact rerank — every
    * arithmetic chain emitted in the SAME ascending order as
    * [[graft.ops.Similarity.topKPq]] generates, so both engines run
    * identical IEEE sequences. */
  private def pqOracleSql(maxQueryId: Int, topK: Int, m: Int, ksub: Int,
                          rerank: Int, dim: Int = 64): String = {
    val dsub = dim / m
    def dotChain(x: String) = (1 to dsub).map(t =>
      s"$x[j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val c2Chain = (1 to dsub).map(t =>
      s"cm[i+1][j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val adcChain = (1 to m).map(j =>
      s"qtbl[$j][codes[$j]+1]").mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |cl AS (SELECT list(v ORDER BY rnk) AS cm FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s WHERE rnk <= $ksub),
       |pqc AS (SELECT n.vec_id, n.nrm,
       |  list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |    -2.0 * (${dotChain("v")}) + ($c2Chain))) AS pqd
       |  FROM n, cl),
       |cod AS (SELECT vec_id, nrm,
       |  list_transform(pqd, a -> list_position(a, list_min(a)) - 1) AS codes
       |  FROM pqc),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn,
       |  list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |    (${dotChain("v")}))) AS qtbl
       |  FROM n, cl WHERE vec_id < $maxQueryId),
       |a AS (SELECT q.q_id, c.vec_id, q.qv, q.qn,
       |  ($adcChain) / (c.nrm * q.qn) AS approx
       |  FROM cod c JOIN q ON c.vec_id <> q.q_id),
       |cand AS (SELECT q_id, vec_id, qv, qn FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= $rerank),
       |p AS (SELECT cand.q_id, n.vec_id,
       |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
       |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The IVF×PQ oracle (`topk_ivf_pq`): [[annIndexSqOracleSql]]'s cell
    * CTEs (same integer-√ sizing, md5-sampled centroids, (s, cell)
    * first-min assignment and probe) composed with [[pqOracleSql]]'s
    * codebook/assignment/table/ADC CTEs — the full faiss-IVF-PQ
    * serving shape hash-checked end to end. */
  private def ivfPqOracleSql(maxQueryId: Int, topK: Int, nProbe: Int,
                             m: Int, ksub: Int, rerank: Int,
                             dim: Int = 64, qSel: String = "",
                             candFilter: String = ""): String = {
    val qWhere = if (qSel.nonEmpty) qSel else s"sc.vec_id < $maxQueryId"
    val dsub = dim / m
    def dotChain(x: String) = (1 to dsub).map(t =>
      s"$x[j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val c2Chain = (1 to dsub).map(t =>
      s"cm[i+1][j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val adcChain = (1 to m).map(j =>
      s"qtbl[$j][codes[$j]+1]").mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |kprm AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS cell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kprm WHERE s.rnk <= kprm.k),
       |sc AS (SELECT n.vec_id, n.v, n.nrm, cen.cell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |asg AS (SELECT vec_id, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn FROM sc)
       |  WHERE rn = 1),
       |cl AS (SELECT list(v ORDER BY rnk) AS cm FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s WHERE rnk <= $ksub),
       |pqc AS (SELECT n.vec_id, n.nrm,
       |  list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |    -2.0 * (${dotChain("v")}) + ($c2Chain))) AS pqd
       |  FROM n, cl),
       |cod AS (SELECT vec_id, nrm,
       |  list_transform(pqd, a -> list_position(a, list_min(a)) - 1) AS codes
       |  FROM pqc),
       |qp AS (SELECT vec_id AS q_id, qv, qn, cell, qtbl FROM
       |  (SELECT sc.vec_id, sc.v AS qv, sc.nrm AS qn, sc.cell,
       |     list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |       (${dotChain("sc.v")}))) AS qtbl,
       |     ROW_NUMBER() OVER (PARTITION BY sc.vec_id ORDER BY sc.s, sc.cell) rn
       |   FROM sc, cl WHERE $qWhere) WHERE rn <= $nProbe),
       |a AS (SELECT q.q_id, x.vec_id, q.qv, q.qn,
       |  ($adcChain) / (c.nrm * q.qn) AS approx
       |  FROM qp q JOIN asg x ON x.cell = q.cell AND x.vec_id <> q.q_id$candFilter
       |  JOIN cod c ON c.vec_id = x.vec_id),
       |cand AS (SELECT q_id, vec_id, qv, qn FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= $rerank),
       |p AS (SELECT cand.q_id, n.vec_id,
       |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
       |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The IVF×residual-PQ oracle (`topk_rpq`): [[ivfPqOracleSql]]'s
    * cell CTEs, then (1) a residual frame `rv = v − ctr(assigned
    * cell)`, (2) the residualized codebook — ksub rows ranked under
    * the INDEPENDENT 'rseed:' tag (the quantizer's 'seed:' tag would
    * residualize its own rows to zero — see
    * [[graft.ops.Similarity.sampledRowsBy]]) minus their OWN
    * assigned-cell centroids, the deterministic no-learning book
    * [[graft.ops.Similarity.topKIvfRpq]] builds
    * driver-side, (3) PQ assignment/table chains over residuals, and
    * (4) the probe's `<q, ctr>` term (`list_dot_product(qv, ctr)` of
    * the probed cell) added back before the ADC fold — mirroring the
    * operator's `(qctr + adc) / (nrm·qn)` exactly. */
  private def ivfRpqOracleSql(maxQueryId: Int, topK: Int, nProbe: Int,
                              m: Int, ksub: Int, rerank: Int,
                              dim: Int = 64): String = {
    val dsub = dim / m
    def dotChain(x: String) = (1 to dsub).map(t =>
      s"$x[j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val c2Chain = (1 to dsub).map(t =>
      s"cm[i+1][j*$dsub+$t]*cm[i+1][j*$dsub+$t]").mkString(" + ")
    val adcChain = (1 to m).map(j =>
      s"qtbl[$j][codes[$j]+1]").mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |kprm AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS cell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, kprm WHERE s.rnk <= kprm.k),
       |sc AS (SELECT n.vec_id, n.v, n.nrm, cen.cell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |asg AS (SELECT vec_id, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn FROM sc)
       |  WHERE rn = 1),
       |rsd AS (SELECT n.vec_id, n.nrm, a.cell,
       |  list_transform(range(1, ${dim + 1}), i -> n.v[i] - cen.ctr[i]) AS rv
       |  FROM n JOIN asg a ON a.vec_id = n.vec_id JOIN cen ON cen.cell = a.cell),
       |cl AS (SELECT list(rcv ORDER BY rnk) AS cm FROM
       |  (SELECT sd.rnk,
       |     list_transform(range(1, ${dim + 1}), i -> sd.v[i] - cen.ctr[i]) AS rcv
       |   FROM (SELECT vec_id, v,
       |           ROW_NUMBER() OVER (ORDER BY md5('rseed:' || vec_id), vec_id) AS rnk
       |         FROM n) sd
       |   JOIN asg a ON a.vec_id = sd.vec_id JOIN cen ON cen.cell = a.cell
       |   WHERE sd.rnk <= $ksub)),
       |pqc AS (SELECT r.vec_id, r.nrm, r.cell,
       |  list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |    -2.0 * (${dotChain("rv")}) + ($c2Chain))) AS pqd
       |  FROM rsd r, cl),
       |cod AS (SELECT vec_id, nrm, cell,
       |  list_transform(pqd, a -> list_position(a, list_min(a)) - 1) AS codes
       |  FROM pqc),
       |qp AS (SELECT vec_id AS q_id, qv, qn, cell, qctr, qtbl FROM
       |  (SELECT sc.vec_id, sc.v AS qv, sc.nrm AS qn, sc.cell,
       |     list_dot_product(sc.v, cen.ctr) AS qctr,
       |     list_transform(range(0, $m), j -> list_transform(range(0, $ksub), i ->
       |       (${dotChain("sc.v")}))) AS qtbl,
       |     ROW_NUMBER() OVER (PARTITION BY sc.vec_id ORDER BY sc.s, sc.cell) rn
       |   FROM sc JOIN cen ON cen.cell = sc.cell, cl
       |   WHERE sc.vec_id < $maxQueryId) WHERE rn <= $nProbe),
       |a AS (SELECT q.q_id, c.vec_id, q.qv, q.qn,
       |  (q.qctr + ($adcChain)) / (c.nrm * q.qn) AS approx
       |  FROM qp q JOIN cod c ON c.cell = q.cell AND c.vec_id <> q.q_id),
       |cand AS (SELECT q_id, vec_id, qv, qn FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |     ORDER BY approx DESC, vec_id ASC) crn FROM a) WHERE crn <= $rerank),
       |p AS (SELECT cand.q_id, n.vec_id,
       |  round(list_dot_product(n.v, cand.qv) / (n.nrm * cand.qn), 4) AS score
       |  FROM n JOIN cand ON n.vec_id = cand.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) rn FROM p)
       |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The hybrid-retrieval oracle (`hybrid_rrf`): the BM25 CTE stack
    * ([[bm25OracleSql]]'s, `sc` renamed `ksc` to clear the ANN stack's
    * name) ranked to a ≤N-row keyword leg, the flat-IVF CTE stack
    * ([[annIndexOracleSql]]'s, `prm`/`sc` renamed) probed at the one
    * explicit query id into a ≤N-row semantic leg, and the integer RRF
    * fold over their full outer join — every leg and the fusion in one
    * statement. */
  private def hybridRrfOracleSql(topN: Int, queryVecId: Long): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
       |st AS (SELECT count(*) AS n, CAST(sum(len(ts)) AS BIGINT) AS tot FROM t),
       |m AS (SELECT doc_id, len(ts) AS dl,
       |  unnest(list_filter(ts, x -> x IN ('hash','join','merge'))) AS token FROM t),
       |tf AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
       |  FROM m GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |ksc AS (SELECT doc_id, count(*) AS n_terms_matched,
       |  CAST(sum( (((SELECT n FROM st) * 1000) // df.df) * ((tf.tf * 220000)
       |   // (tf.tf * 100 + (120 * ((100 - 75) +
       |      (75 * tf.dl * 100) // ((SELECT tot FROM st) * 100 // (SELECT n FROM st)))) // 100)) // 1000
       |  ) AS BIGINT) AS score_x1000
       |  FROM tf JOIN df USING (token) GROUP BY doc_id),
       |kleg AS (SELECT doc_id, krank FROM (SELECT doc_id,
       |  ROW_NUMBER() OVER (ORDER BY score_x1000 DESC, doc_id) AS krank FROM ksc)
       |  WHERE krank <= $topN),
       |n AS (SELECT vec_id, embedding::DOUBLE[] v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
       |  FROM embeddings),
       |aprm AS (SELECT coalesce((SELECT min(x) FROM range(1, 65536) t2(x)
       |  WHERE x * x >= (SELECT count(*) FROM embeddings)), 65535)::INT AS k),
       |cen AS (SELECT (rnk - 1)::INT AS cell, v AS ctr FROM
       |  (SELECT v, ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id), vec_id) AS rnk
       |   FROM n) s, aprm WHERE s.rnk <= aprm.k),
       |esc AS (SELECT n.vec_id, n.v, n.nrm, cen.cell,
       |  -2.0 * list_dot_product(n.v, cen.ctr) + list_dot_product(cen.ctr, cen.ctr) AS s
       |  FROM n, cen),
       |asg AS (SELECT vec_id, v, nrm, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn FROM esc)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cell) rn
       |   FROM esc WHERE vec_id = $queryVecId) WHERE rn <= 2),
       |p AS (SELECT q.q_id, x.vec_id,
       |  round(list_dot_product(x.v, q.qv) / (x.nrm * q.qn), 4) AS score
       |  FROM qp q JOIN asg x ON x.cell = q.cell AND x.vec_id <> q.q_id),
       |sleg AS (SELECT vec_id AS doc_id, rn AS srank FROM
       |  (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) rn FROM p)
       |  WHERE rn <= $topN),
       |f AS (SELECT coalesce(kleg.doc_id, sleg.doc_id) AS doc_id,
       |  kleg.krank, sleg.srank,
       |  (coalesce(1000000 // (60 + kleg.krank), 0) +
       |   coalesce(1000000 // (60 + sleg.srank), 0))::BIGINT AS rrf_x1m
       |  FROM kleg FULL OUTER JOIN sleg ON kleg.doc_id = sleg.doc_id)
       |SELECT doc_id, krank, srank, rrf_x1m FROM f
       |ORDER BY rrf_x1m DESC, doc_id LIMIT $topN""".stripMargin

  /** BM25 oracle — shared verbatim by the inline and stored-ref
    * entries: the stored tables hold the SAME model computed once, so
    * "identical ranking" is precisely the differential claim. The
    * corpus stats the Spark side collects to literals are stated as
    * subqueries on the same data; every div mirrored in the
    * operator's (saturation-first, overflow-safe) order. */
  private lazy val bm25OracleSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |st AS (SELECT count(*) AS n, CAST(sum(len(ts)) AS BIGINT) AS tot FROM t),
      |m AS (SELECT doc_id, len(ts) AS dl,
      |  unnest(list_filter(ts, x -> x IN ('hash','join','merge'))) AS token FROM t),
      |tf AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
      |  FROM m GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |sc AS (SELECT doc_id, count(*) AS n_terms_matched,
      |  CAST(sum( (((SELECT n FROM st) * 1000) // df.df) * ((tf.tf * 220000)
      |   // (tf.tf * 100 + (120 * ((100 - 75) +
      |      (75 * tf.dl * 100) // ((SELECT tot FROM st) * 100 // (SELECT n FROM st)))) // 100)) // 1000
      |  ) AS BIGINT) AS score_x1000
      |  FROM tf JOIN df USING (token) GROUP BY doc_id)
      |SELECT doc_id, n_terms_matched, score_x1000 FROM sc
      |ORDER BY score_x1000 DESC, doc_id LIMIT 20""".stripMargin

  /** Bigram-LM oracle — shared verbatim by the inline and stored-model
    * entries (same rationale as [[bm25OracleSql]]). */
  private lazy val lmScoreOracleSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |pr AS (SELECT doc_id,
      |  unnest([ts[i] for i in range(1, len(ts))]) AS prev,
      |  unnest([ts[i+1] for i in range(1, len(ts))]) AS token
      |  FROM t WHERE len(ts) >= 2),
      |pc AS (SELECT prev, count(*) AS np FROM pr GROUP BY prev),
      |bc AS (SELECT prev, token, count(*) AS nb FROM pr GROUP BY prev, token),
      |ref AS (SELECT bc.prev, bc.token,
      |  CAST((nb * 1000000) // np AS BIGINT) AS cond_ppm
      |  FROM bc JOIN pc USING (prev)
      |  ORDER BY nb DESC, bc.prev ASC, bc.token ASC LIMIT 500),
      |tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |tot AS (SELECT count(*) AS c FROM tk),
      |uref AS (SELECT token,
      |  CAST((count(*) * 1000000) // (SELECT c FROM tot) AS BIGINT) AS uni_ppm
      |  FROM tk GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT 100),
      |j AS (SELECT pr.doc_id, coalesce(ref.cond_ppm, uref.uni_ppm // 10, 0) AS s
      |  FROM pr LEFT JOIN ref ON pr.prev = ref.prev AND pr.token = ref.token
      |  LEFT JOIN uref ON pr.token = uref.token),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(s) // count(*) AS BIGINT) AS lm_ppm FROM j GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |  coalesce(sc.lm_ppm, 0) AS lm_ppm
      |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** Mirrors [[graft.ops.Multimodal.withPayload]]: the synthesized
    * header-bearing payload per media type (binary-PPM for images,
    * YUV4MPEG2 for video, NIST SPHERE for audio — all ASCII headers,
    * so the whole payload stays VARCHAR and md5-able in DuckDB), plus
    * the closed-form values the header parse must recover (audio has
    * no visual dims → 0×0×1). */
  private lazy val mediaPayloadCte =
    """WITH m AS (SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  (64 + length(t) % 576) AS w, (64 + (length(t) * 7) % 416) AS h,
      |  (1 + length(t) % 30) AS f,
      |  (8000 + length(t) % 36000) AS sr, (1 + length(t) % 2) AS ch,
      |  octet_length(encode(t)) AS sc, t AS text
      |  FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)),
      |sb AS (SELECT *, 'sample_count -i ' || sc || chr(10) ||
      |  'sample_rate -i ' || sr || chr(10) ||
      |  'channel_count -i ' || ch || chr(10) || 'end_head' || chr(10) AS sphere_body
      |  FROM m),
      |p AS (SELECT doc_id, media_type, sr, ch, sc,
      |  (length(sphere_body) + 17)::BIGINT AS sphere_hdr,
      |  CASE media_type
      |    WHEN 'image' THEN 'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10) || text
      |    WHEN 'video' THEN 'YUV4MPEG2 W' || w || ' H' || h || ' F25:1 XNFRAMES=' || f || chr(10) || text
      |    ELSE 'NIST_1A' || chr(10) || lpad((length(sphere_body) + 17)::VARCHAR, 8, ' ') || chr(10)
      |      || sphere_body || text END AS payload,
      |  (CASE WHEN media_type = 'audio' THEN 0 ELSE w END)::BIGINT AS width,
      |  (CASE WHEN media_type = 'audio' THEN 0 ELSE h END)::BIGINT AS height,
      |  (CASE WHEN media_type = 'video' THEN f ELSE 1 END)::BIGINT AS frames
      |  FROM sb)
      |""".stripMargin

  private lazy val mediaFeatsCte =
    mediaPayloadCte +
      """, feats AS (SELECT doc_id, media_type, width, height, frames FROM p)
        |""".stripMargin
}
