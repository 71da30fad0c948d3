package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Similarity}
import graft.ops.AnnIndex.{Exact, Flat, Ids, Pq, Prefix, Sq8, TwoLevel}
import graft.tables.{Bucketed, Fixtures}

/** Pins the persisted-ANN-index claims in [[graft.ops.AnnIndex]]:
  * the probe result is identical to the inline IVF pipeline, and the
  * index scan is bucket-pruned — only the probed cells' buckets are
  * read, which is the property that makes the serving shape
  * O(nProbe/cells) of the corpus at scale.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("annCellsFor: integer-exact ceil-sqrt, corpus-tracked, capped") {
    assert(AnnIndex.annCellsFor(0L) == 1)
    assert(AnnIndex.annCellsFor(1L) == 1)
    assert(AnnIndex.annCellsFor(2L) == 2)
    assert(AnnIndex.annCellsFor(4L) == 2)
    assert(AnnIndex.annCellsFor(5L) == 3)
    assert(AnnIndex.annCellsFor(2000L) == 45)
    assert(AnnIndex.annCellsFor(65535L * 65535L) == 65535)
    assert(AnnIndex.annCellsFor(Long.MaxValue) == 65535)
  }

  test("probe over the persisted index == inline IVF probe (same corpus-derived quantizer)") {
    // also cross-checks AnnIndex's driver-side probe-cell arithmetic
    // against probeQueries' DataFrame formulation — the two must rank
    // (score, cell) identically
    Bucketed.resetTable(spark, AnnIndex.liveTables(spark, sf).assign)
    val indexed = AnnIndex.topK(spark, sf, Prefix(8), k = 5, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val emb = Fixtures.embeddings(spark, sf)
    val kc = AnnIndex.annCellsFor(emb.count())
    val cs = Similarity.sampledCentroids(Similarity.prepared(emb), kc)
    val inline = Similarity.topKIvfKmeans(emb,
        maxQueryId = 8, k = 5, nCells = kc, nProbe = 2, centroids = Some(cs))
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(indexed.nonEmpty && indexed == inline,
      "persisting the assignment must be a pure physical optimization")
  }

  test("the index scan reads only the probed buckets (SelectedBucketsCount)") {
    AnnIndex.ensureBuilt(spark, sf)
    // two queries probe at most 4 of the corpus-scaled cells — pruning
    // must show
    val kc = AnnIndex.annCellsFor(Fixtures.embeddings(spark, sf).count())
    val plan = AnnIndex.topK(spark, sf, Prefix(2), k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected a bucket-pruned scan:\n$plan")
    val (selected, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(total == kc && selected <= 4,
      s"expected <=4 of $total buckets read, got $selected")
  }

  test("probes stay coherent with the stored quantizer after the corpus grows past the build") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempCorpus("drift")
    val embDir = Paths.get(dir, "embeddings.parquet")
    val before = AnnIndex.topK(spark, dir, Prefix(5), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(before.nonEmpty)
    // the corpus grows past the next cell knee: a live re-derivation
    // would use a DIFFERENT k and centroid sample than the build did —
    // the stored quantizer must keep probes coherent with the stored
    // assignment (the index is a snapshot; new vectors join at rebuild)
    val staging = s"$dir/extra"
    Fixtures.embeddings(spark, dir)
      .withColumn("vec_id", col("vec_id") + 100000L)
      .write.mode("overwrite").parquet(staging)
    Files.list(Paths.get(staging)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .zipWithIndex.foreach { case (p, i) =>
        Files.copy(p, embDir.resolve(f"part-grown-$i%05d.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    val grown = Fixtures.embeddings(spark, dir).count()
    assert(AnnIndex.annCellsFor(grown) !=
      AnnIndex.annCellsFor(grown / 2),
      "sanity: the growth actually crosses a cell knee")
    val after = AnnIndex.topK(spark, dir, Prefix(5), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after == before,
      "a grown corpus must not decohere probes from the stored index")
  }

  private val corpusTags = scala.collection.mutable.Set.empty[String]

  /** A corpus dir seeded from the sf0.001 embeddings, so index-mutation
    * tests never touch the shared fixture's index. Its path, and so the
    * base name of every index built over it, is fixed by `tag`: a rerun
    * of the suite builds the same indexes again, and each first build
    * removes what an earlier run left under its base name in the
    * warehouse, so reruns do not pile up tables there. */
  private def tempCorpus(tag: String): String = {
    import java.nio.file.{Files, Paths}
    assert(corpusTags.add(tag), s"corpus tag $tag serves two tests")
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft-ann-corpora", tag)
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    val embDir = Files.createDirectories(dir.resolve("embeddings.parquet"))
    Files.copy(Paths.get(sf, "embeddings.parquet"), embDir.resolve("part-00000.parquet"))
    dir.toString
  }

  /** Every table and warehouse location under an index's base name —
    * its generations; the fixed-name ledger aside. */
  private def underBase(dir: String, tag: String = "", layout: AnnIndex.Layout = Flat): Set[String] = {
    val prefix = layout.base(dir, tag) + "_g"
    val wh = new java.io.File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    Option(wh.list()).toSeq.flatten.filter(_.startsWith(prefix)).toSet ++
      spark.catalog.listTables(spark.catalog.currentDatabase, prefix + "*").collect().map(_.name)
  }

  /** Commits once more (a one-id removeBatch) and checks that only the
    * live generation's tables, and the tombstone table that commit
    * replaced, remain under the base name: the generation the last
    * commit replaced is gone, and nothing was written aside. */
  private def assertOnlyLiveAfterNextCommit(dir: String, layout: AnnIndex.Layout): Unit = {
    import spark.implicits._
    val before = AnnIndex.liveTables(spark, dir, layout = layout)
    AnnIndex.removeBatch(spark, dir, Seq(1L).toDF("vec_id"), layout = layout)
    val after = AnnIndex.liveTables(spark, dir, layout = layout)
    assert(after.tombstones != before.tombstones, "sanity: the removal committed")
    assert(underBase(dir, layout = layout) == (after.all :+ before.tombstones).toSet,
      s"after the next commit only the live generation's tables may remain: ${underBase(dir, layout = layout)}")
  }

  test("the record's artifacts produced the stored cells and codes, and a sibling reads the new generation's") {
    val dir = tempCorpus("record")
    AnnIndex.ensureBuilt(spark, dir, tag = "rec")
    def fromRecord(s: org.apache.spark.sql.SparkSession) = {
      val (mns, mxs) = AnnIndex.storedSqParams(s, dir, tag = "rec")
      (AnnIndex.storedQuantizer(s, dir, tag = "rec").map(_.toSeq).toSeq, mns.toSeq.zip(mxs.toSeq),
        AnnIndex.storedPqCodebook(s, dir, tag = "rec").map(_.toSeq).toSeq)
    }
    // the live assignment's rows whose cell, SQ8 codes or PQ codes are
    // not what the session's record artifacts give their vector
    def incoherent(s: org.apache.spark.sql.SparkSession): Long = {
      val (mns, mxs) = AnnIndex.storedSqParams(s, dir, tag = "rec")
      val pqCb = AnnIndex.storedPqCodebook(s, dir, tag = "rec")
      val stored = s.table(AnnIndex.liveTables(s, dir, tag = "rec").assign)
        .withColumnRenamed("cell", "stored_cell")
      Similarity.assignCells(stored, AnnIndex.storedQuantizer(s, dir, tag = "rec"))
        .filter(col("cell") =!= col("stored_cell") ||
          col("codes") =!= Similarity.sqCodesCol(col("v"), mns, mxs) ||
          col("pqcodes") =!= graft.functions.VectorExprs.nibblePack(
            Similarity.pqCodesCol(col("v"), pqCb, AnnIndex.PqM)))
        .count()
    }
    assert(incoherent(spark) == 0, "every stored cell and code must come from the record's artifacts")
    // reading the artifacts is a record read: no Spark job
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    try {
      val before = c.settle()
      fromRecord(spark)
      assert(c.settle() == before, "reading the stored artifacts must run no Spark job")
    } finally spark.sparkContext.removeSparkListener(c)
    // a SIBLING session (shared catalog and context) reads the same
    // record; after the writer commits a knee-crossing rebuild, the
    // sibling's next read is the new generation's, re-sized quantizer
    val sib = spark.newSession()
    val q1 = AnnIndex.storedQuantizer(sib, dir, tag = "rec")
    val emb = Fixtures.embeddings(spark, dir)
    (1 to 4).foreach(r => AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + lit(r * 100000L)), tag = "rec"))
    AnnIndex.requantize(spark, dir, tag = "rec")
    val q2 = AnnIndex.storedQuantizer(sib, dir, tag = "rec")
    assert(q2.length > q1.length,
      s"the sibling must read the new generation's quantizer (${q1.length} -> ${q2.length})")
    assert(incoherent(sib) == 0 && fromRecord(sib) == fromRecord(spark),
      "the sibling's artifacts must be the ones the new generation's codes were produced with")
  }

  test("requantize's count fold: |t| − |ts| == the anti-join live count, and the rebuild is sized by it") {
    val dir = tempCorpus("cntfold")
    AnnIndex.ensureBuilt(spark, dir, tag = "cf")
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + 100000L), tag = "cf")
    // a real deletion batch + a replayed (idempotent) one
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 3), tag = "cf")
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 3), tag = "cf")
    val t = spark.table(AnnIndex.liveTables(spark, dir, "cf").assign)
    val ts = spark.table(AnnIndex.liveTables(spark, dir, "cf").tombstones)
    val anti = t.join(ts.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
    assert(t.count() - ts.count() == anti,
      "the subtraction identity requantize's count fold relies on must hold mid-lifecycle")
    val adv = AnnIndex.requantize(spark, dir, tag = "cf")
    assert(adv.nVectors == anti,
      s"requantize must size the rebuild from the live count (got ${adv.nVectors}, want $anti)")
    assert(spark.table(AnnIndex.liveTables(spark, dir, "cf").assign).count() == anti,
      "the compacted generation must hold exactly the live rows")
    assert(adv.tombstoned == 0L && !adv.dead,
      "the fresh generation's advice must report zero tombstones")
  }

  test("appendBatch: stored-quantizer assignment, probes coherent, buckets still pruned") {
    val dir = tempCorpus("append")
    AnnIndex.ensureBuilt(spark, dir)
    val cs = AnnIndex.storedQuantizer(spark, dir)
    val before = spark.table(AnnIndex.liveTables(spark, dir).assign).count()
    // the batch clones existing vectors under fresh ids: each clone
    // lands in ITS original's cell (same vector, same stored quantizer
    // => same assignment), so a query must now find its own clone at
    // cosine 1.0 — appended vectors are provably SERVED, not just rows
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + 500000L))
    assert(spark.table(AnnIndex.liveTables(spark, dir).assign).count() == before * 2)
    val probed = AnnIndex.topK(spark, dir, Prefix(5), k = 4, nProbe = 2)
    val plan = probed.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan).isDefined,
      s"append must keep the scan bucket-pruned:\n$plan")
    val rows = probed.orderBy(col("q_id"), col("rn")).collect()
    (0L until 5L).foreach { q =>
      val top = rows.filter(_.getAs[Long]("q_id") == q).minBy(_.getAs[Int]("rn"))
      assert(top.getAs[Long]("vec_id") == q + 500000L &&
        top.getAs[Double]("score") == 1.0,
        s"query $q must find its appended clone at cosine 1.0, got $top")
    }
    // and the appended index is exactly what assigning (corpus ∪
    // batch) against the stored quantizer would build — the append is
    // a pure physical optimization, like the build itself
    val unionAssigned = Similarity.assignCells(
        Similarity.prepared(emb.union(emb.withColumn("vec_id", col("vec_id") + 500000L))), cs)
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id")).collect().toSeq
    val stored = spark.table(AnnIndex.liveTables(spark, dir).assign)
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(stored == unionAssigned,
      "appended assignment must match the inline stored-quantizer assignment")
  }

  test("requantizeAdvice: fresh build clean; knee fires on 5x growth; skew fires on a hot cell") {
    val dir = tempCorpus("advice")
    AnnIndex.ensureBuilt(spark, dir)
    val fresh0 = AnnIndex.requantizeAdvice(spark, dir)
    assert(!fresh0.needed, s"a just-built index must not advise a rebuild: $fresh0")
    // 4 appended replicas => n = 5 * n0; annCellsFor(2500) = 50 > 2*23
    val emb = Fixtures.embeddings(spark, dir)
    (1 to 4).foreach(r => AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + lit(r * 100000L))))
    val grown = AnnIndex.requantizeAdvice(spark, dir)
    assert(grown.knee && grown.needed,
      s"a corpus past 4x the build size must advise re-quantize: $grown")

    // skew in isolation: a drifted batch concentrating in one cell
    val dir2 = tempCorpus("skew")
    AnnIndex.ensureBuilt(spark, dir2)
    val one = Fixtures.embeddings(spark, dir2).orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)
    import spark.implicits._
    val hot = (0 until 600).map(i => (700000L + i, one, "hot"))
      .toDF("vec_id", "embedding", "label")
    AnnIndex.appendBatch(spark, dir2, hot)
    val skewed = AnnIndex.requantizeAdvice(spark, dir2)
    assert(!skewed.knee, s"growth alone must not be the trigger here: $skewed")
    assert(skewed.skewed && skewed.needed,
      s"600 identical vectors in one cell must trip the skew bound: $skewed")
  }

  test("requantize cycle: append past the knee fires advice, rebuild clears it, probes == inline IVF on the combined corpus") {
    val dir = tempCorpus("requant")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    val k0 = AnnIndex.storedQuantizer(spark, dir).length
    // 4 appended replicas push n to 5× the build size — past the
    // annCellsFor knee (advice spec above pins the trigger itself)
    (1 to 4).foreach(r => AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + lit(r * 100000L))))
    assert(AnnIndex.requantizeAdvice(spark, dir).knee, "sanity: growth crosses the knee")
    val after = AnnIndex.requantize(spark, dir)
    assert(!after.knee,
      s"requantize must resize cells to the grown corpus and clear the knee: $after")
    // the combined corpus = build rows ∪ every appended batch; the
    // rebuilt index must be bit-identical to an inline IVF pipeline
    // built fresh from it — k resized, centroids re-sampled
    val combined = (0 to 4).map(r =>
      emb.withColumn("vec_id", col("vec_id") + lit(r * 100000L))).reduce(_ union _)
    val k = AnnIndex.annCellsFor(combined.count())
    assert(k > k0 && AnnIndex.storedQuantizer(spark, dir).length == k,
      s"quantizer must be re-sized to the grown corpus ($k0 -> $k)")
    val indexed = AnnIndex.topK(spark, dir, Prefix(8), k = 5, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val cs = Similarity.sampledCentroids(Similarity.prepared(combined), k)
    val inline = Similarity.topKIvfKmeans(combined, maxQueryId = 8, k = 5,
        nCells = k, nProbe = 2, centroids = Some(cs))
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(indexed.nonEmpty && indexed == inline,
      "the requantized index must stay a pure physical optimization")
    assertOnlyLiveAfterNextCommit(dir, Flat)
  }

  test("stored IVF×SQ probe == inline topKIvfSq (codes + params read back, never re-derived)") {
    Bucketed.resetTable(spark, AnnIndex.liveTables(spark, sf).assign)
    val stored = AnnIndex.topK(spark, sf, Prefix(7), Sq8(12), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.topKIvfSq(Fixtures.embeddings(spark, sf),
        maxQueryId = 7, k = 4, nProbe = 2, rerank = 12)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(stored.nonEmpty && stored == inline,
      "persisting codes + SQ params must be a pure physical optimization")
  }

  test("the SQ candidate scan is bucket-pruned and reads codes, not full vectors") {
    AnnIndex.ensureBuilt(spark, sf)
    val plan = AnnIndex.topK(spark, sf, Prefix(2), Sq8(12), k = 4, nProbe = 2)
      .queryExecution.executedPlan.toString
    val prunes = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    // candidate scan + rerank scan, plus the cell-pruned tombstone
    // scans feeding their anti-joins — every one of them must prune
    assert(prunes.size >= 2,
      s"both the candidate scan and the rerank scan must bucket-prune:\n$plan")
    prunes.foreach(m => assert(m.group(1).toInt <= 4,
      s"expected <=4 of ${m.group(2)} buckets read, got ${m.group(1)}"))
    // parquet column pruning: the candidate pass must NOT read `v` —
    // that is the bytes-per-row claim SQ8 exists for
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,nrm:double,cell:int,codes:array<int>>"),
      s"candidate scan must read only (vec_id, nrm, cell, codes):\n$plan")
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,v:array<double>,nrm:double,cell:int>"),
      s"rerank scan must read full vectors for candidates only:\n$plan")
  }

  test("SQ8 costs zero recall at rerank = 2k: stored SQ probe == full-precision probe, row for row") {
    // the quantize-then-rerank contract, measured (AnnRecallProbe
    // sweeps it at three tiers — recall identical to the
    // full-precision probe at every nProbe): with rerank = 2k the SQ
    // approximation only reorders candidates BELOW the rerank cut, and
    // the exact rerank restores the top — so the result ROWS (ranks
    // and exact scores included) must match, not just overlap. A code
    //-book regression (bad params, clamped codes, decode drift) pushes
    // a true neighbor below the cut and breaks equality here.
    AnnIndex.ensureBuilt(spark, sf)
    val full = AnnIndex.topK(spark, sf, Prefix(8), k = 5, nProbe = 4)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val sq = AnnIndex.topK(spark, sf, Prefix(8), Sq8(10), k = 5, nProbe = 4)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(full.nonEmpty && sq == full,
      "SQ8 + exact rerank must reproduce the full-precision probe exactly")
  }

  test("SQ probe stays a pure physical optimization across the append -> requantize cycle") {
    val dir = tempCorpus("sq-cycle")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    // push past the knee so the rebuild genuinely resizes; the LAST
    // replica is scaled 1.5×, WIDENING every dimension's range, so the
    // stored SQ params must visibly refresh at requantize (its codes
    // clamp under the OLD params until then — a quality decay the
    // exact rerank absorbs, per the appendBatch contract)
    def replica(r: Int) = {
      val shifted = emb.withColumn("vec_id", col("vec_id") + lit(r * 100000L))
      if (r < 4) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), x => (x * lit(1.5)).cast("float")))
    }
    (1 to 4).foreach(r => AnnIndex.appendBatch(spark, dir, replica(r)))
    val (mns0, mxs0) = AnnIndex.storedSqParams(spark, dir)
    AnnIndex.requantize(spark, dir)
    val combined = (0 to 4).map(replica).reduce(_ union _)
    // params refreshed over the grown corpus = the inline derivation
    val (mns1, mxs1) = AnnIndex.storedSqParams(spark, dir)
    val (mnsI, mxsI) = Similarity.sqParamsOf(Similarity.prepared(combined))
    assert(mns1.toSeq == mnsI.toSeq && mxs1.toSeq == mxsI.toSeq,
      "requantize must refresh SQ params from the combined corpus")
    assert(mxs1.toSeq != mxs0.toSeq,
      "the widened range must actually move the stored params")
    // and the stored probe equals the inline IVF×SQ over the combined
    // corpus — quantizer, params, and codes all from the new generation
    val stored = AnnIndex.topK(spark, dir, Prefix(6), Sq8(12), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.topKIvfSq(combined, maxQueryId = 6, k = 4,
        nProbe = 2, rerank = 12)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(stored.nonEmpty && stored == inline,
      "the requantized SQ index must reproduce the inline IVF×SQ pipeline")
  }

  test("stored IVF×PQ probe == inline topKIvfPq; candidate scan reads pqcodes only, bucket-pruned") {
    AnnIndex.ensureBuilt(spark, sf)
    val stored = AnnIndex.topK(spark, sf, Prefix(6), Pq(30), k = 5,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.topKIvfPq(Fixtures.embeddings(spark, sf),
        maxQueryId = 6, k = 5, nProbe = 2, rerank = 30)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(stored.nonEmpty && stored == inline,
      "persisting pqcodes + the codebook must be a pure physical optimization")
    // the sub-byte bound: the candidate scan reads pqcodes — not the
    // vectors, not even the SQ8 codes — and both scans bucket-prune
    val plan = AnnIndex.topK(spark, sf, Prefix(2), Pq(24), k = 4,
        nProbe = 2)
      .queryExecution.executedPlan.toString
    val prunes = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(prunes.size >= 2,
      s"both the candidate scan and the rerank scan must bucket-prune:\n$plan")
    prunes.foreach(m => assert(m.group(1).toInt <= 4,
      s"expected <=4 of ${m.group(2)} buckets read, got ${m.group(1)}"))
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,nrm:double,cell:int,pqcodes:binary>"),
      s"candidate scan must read only (vec_id, nrm, cell, pqcodes) at the packed layout:\n$plan")
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,v:array<double>,nrm:double,cell:int>"),
      s"rerank scan must read full vectors for candidates only:\n$plan")
  }

  test("pqcodes is PHYSICALLY 4 bits/dim: binary column at exactly m/2 bytes per row, " +
      "nibble decode round-trips the inline assignment bit for bit") {
    AnnIndex.ensureBuilt(spark, sf)
    val t = AnnIndex.liveTables(spark, sf).assign
    assert(spark.table(t).schema("pqcodes").dataType ==
      org.apache.spark.sql.types.BinaryType,
      "the stored codes column must be binary, not array<int>")
    val cb = AnnIndex.storedPqCodebook(spark, sf)
    val inline = Similarity.prepared(Fixtures.embeddings(spark, sf))
      .select(col("vec_id"),
        Similarity.pqCodesCol(col("v"), cb, AnnIndex.PqM).as("codes"))
    val rows = spark.table(t).select(col("vec_id"), col("pqcodes"))
      .join(inline, Seq("vec_id")).limit(200).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val packed = r.getAs[Array[Byte]]("pqcodes")
      assert(packed.length == AnnIndex.PqM / 2,
        s"each packed row must hold exactly m/2 = ${AnnIndex.PqM / 2} bytes, " +
          s"got ${packed.length} — the 4-bit/dim bound must be physical")
      val codes = r.getSeq[Int](2)
      val decoded = codes.indices.map(j => (packed(j >> 1) >> ((j & 1) << 2)) & 0xF)
      assert(decoded == codes,
        s"nibble decode must round-trip the inline assignment: $decoded vs $codes")
    }
  }

  test("PQ probe stays a pure physical optimization across the append -> requantize cycle") {
    val dir = tempCorpus("pq-cycle")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    val cb0 = AnnIndex.storedPqCodebook(spark, dir)
    assert(cb0.length == AnnIndex.PqKsub && cb0.head.length == AnnIndex.Dim)
    // append a clone of vec 0 under a fresh id: encoded with the
    // STORED codebook, it must be findable through the stored PQ probe
    // at cosine 1.0 (identical vector → identical codes → top ADC rank)
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(424242L))
    AnnIndex.appendBatch(spark, dir, clone)
    val hits = AnnIndex.topK(spark, dir, Prefix(1), Pq(10), k = 3,
        nProbe = 2)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    assert(hits.contains((424242L, 1.0)),
      s"an appended clone must be served by the stored PQ probe: ${hits.toSeq}")
    // requantize refreshes the codebook with the generation and the
    // stored probe equals the inline IVF×PQ over the combined corpus
    AnnIndex.requantize(spark, dir)
    val combined = emb.union(clone)
    val stored = AnnIndex.topK(spark, dir, Prefix(6), Pq(24), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.topKIvfPq(combined, maxQueryId = 6, k = 4,
        nProbe = 2, rerank = 24)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(stored.nonEmpty && stored == inline,
      "the requantized PQ index must reproduce the inline IVF×PQ pipeline")
  }

  test("persisted two-level index: stored probe == inline topKIvf2, both stored scans bucket-pruned") {
    val live = AnnIndex.liveTables(spark, sf, layout = TwoLevel)
    Seq(live.assign, live.fine.get).foreach(Bucketed.resetTable(spark, _))
    val probed = AnnIndex.topK(spark, sf, Prefix(5), k = 4,
      nProbe = 2, nProbeFine = 3, layout = TwoLevel)
    val stored = probed.orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.topKIvf2(Fixtures.embeddings(spark, sf),
        maxQueryId = 5, k = 4, nProbeCoarse = 2, nProbeFine = 3)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(stored.nonEmpty && stored == inline,
      "persisting the two-level structure must be a pure physical optimization")
    // the assignment scan prunes on the probed coarse cells (the fine
    // quantizer table is unbucketed — its literal filter row-skips)
    val plan = probed.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected a bucket-pruned assignment scan:\n$plan")
    assert(m.get.group(1).toInt <= 4,
      s"expected <=4 of ${m.get.group(2)} coarse buckets read, got ${m.get.group(1)}")
  }

  test("two-level append -> requantize cycle: stored probe tracks the inline pipeline on the combined corpus") {
    val dir = tempCorpus("ivf2-cycle")
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val emb = Fixtures.embeddings(spark, dir)
    // appended clones must be FOUND (cosine 1.0 at rank 1): both
    // stored quantizers assigned them exactly like their originals
    AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + 500000L), layout = TwoLevel)
    val rows = AnnIndex.topK(spark, dir, Prefix(4), k = 3,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect()
    (0L until 4L).foreach { q =>
      val top = rows.filter(_.getAs[Long]("q_id") == q).minBy(_.getAs[Int]("rn"))
      assert(top.getAs[Long]("vec_id") == q + 500000L &&
        top.getAs[Double]("score") == 1.0,
        s"query $q must find its appended clone at cosine 1.0, got $top")
    }
    // requantize re-fits both levels over the combined corpus — the
    // stored probe must equal the inline pipeline built fresh from it
    AnnIndex.requantize(spark, dir, layout = TwoLevel)
    val combined = emb.union(emb.withColumn("vec_id", col("vec_id") + 500000L))
    val stored = AnnIndex.topK(spark, dir, Prefix(5), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.topKIvf2(combined, maxQueryId = 5, k = 4,
        nProbeCoarse = 2, nProbeFine = 3)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(stored.nonEmpty && stored == inline,
      "the requantized two-level index must stay a pure physical optimization")
    assertOnlyLiveAfterNextCommit(dir, TwoLevel)
  }

  test("two-level SQ probe: zero loss at rerank = 2k; candidate scan reads codes, not full vectors") {
    AnnIndex.ensureBuilt(spark, sf, layout = TwoLevel)
    // the flat tier's quantize-then-rerank contract, one level down:
    // with rerank = 2k the SQ approximation only reorders candidates
    // below the cut, so the result ROWS must equal the full-precision
    // two-level probe — a gen-2 code-book regression breaks equality
    val full = AnnIndex.topK(spark, sf, Prefix(6), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val sq = AnnIndex.topK(spark, sf, Prefix(6), Sq8(8), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(full.nonEmpty && sq == full,
      "gen-2 SQ8 + exact rerank must reproduce the full-precision two-level probe")
    // the BYTE-BOUND claim, plan-pinned: the candidate pass must read
    // the bit-packed codes and NEVER the 8-byte/dim full vectors —
    // this is the entire reason gen-2 codes exist (the billion-vector
    // tier's probes are the byte-frugal ones); the rerank scan alone
    // reads v, and both scans bucket-prune on the probed coarse cells
    val plan = AnnIndex.topK(spark, sf, Prefix(2), Sq8(8), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .queryExecution.executedPlan.toString
    val prunes = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(prunes.size >= 2,
      s"both the candidate scan and the rerank scan must bucket-prune:\n$plan")
    prunes.foreach(m => assert(m.group(1).toInt <= 4,
      s"expected <=4 of ${m.group(2)} coarse buckets read, got ${m.group(1)}"))
    assert(plan.contains(
      "ReadSchema: struct<vec_id:bigint,nrm:double,ccell:int,fcell:int,codes:array<int>>"),
      s"candidate scan must read only (vec_id, nrm, ccell, fcell, codes):\n$plan")
    assert(plan.contains(
      "ReadSchema: struct<vec_id:bigint,v:array<double>,nrm:double,ccell:int>"),
      s"rerank scan must read full vectors for candidates only:\n$plan")
  }

  test("gen-2 SQ params refresh across the append -> requantize2 cycle") {
    val dir = tempCorpus("ivf2-sq-cycle")
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val emb = Fixtures.embeddings(spark, dir)
    // the appended replica is scaled 1.5×, widening every dimension's
    // range: its codes clamp under the STORED params until requantize2
    // refreshes them with the generation (the appendBatch2 coherence
    // contract — a quality decay the exact rerank absorbs, never a
    // correctness one)
    val widened = emb.withColumn("vec_id", col("vec_id") + 500000L)
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(1.5)).cast("float")))
    AnnIndex.appendBatch(spark, dir, widened, layout = TwoLevel)
    val (_, mxs0) = AnnIndex.storedSqParams(spark, dir, layout = TwoLevel)
    AnnIndex.requantize(spark, dir, layout = TwoLevel)
    val (mns1, mxs1) = AnnIndex.storedSqParams(spark, dir, layout = TwoLevel)
    val combined = emb.union(widened)
    val (mnsI, mxsI) = Similarity.sqParamsOf(Similarity.prepared(combined))
    assert(mns1.toSeq == mnsI.toSeq && mxs1.toSeq == mxsI.toSeq,
      "requantize2 must refresh gen-2 SQ params from the combined corpus")
    assert(mxs1.toSeq != mxs0.toSeq,
      "the widened range must actually move the stored gen-2 params")
    // and the SQ probe over the rebuilt generation is still zero-loss
    // against the full-precision probe of the same generation
    val full = AnnIndex.topK(spark, dir, Prefix(5), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val sq = AnnIndex.topK(spark, dir, Prefix(5), Sq8(8), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(full.nonEmpty && sq == full,
      "the requantized gen-2 code book must keep the rerank contract")
  }

  test("the probe side is distributed: query vectors are never collected to a local relation") {
    AnnIndex.ensureBuilt(spark, sf)
    // the probe frame must derive from the query-side parquet scan —
    // a driver-computed probe list would plan as a LocalTableScan of
    // (cell, q_id, qv, qn) rows (the pre-r16 shape); only the distinct
    // probed CELL IDS may reach the driver (as the bucket-pruning
    // literal). The same holds for the SQ and two-level probes, which
    // share probeFrame.
    Seq(
      AnnIndex.topK(spark, sf, Prefix(4), k = 3, nProbe = 2),
      AnnIndex.topK(spark, sf, Prefix(4), Sq8(8), k = 3, nProbe = 2),
      { AnnIndex.ensureBuilt(spark, sf, layout = TwoLevel)
        AnnIndex.topK(spark, sf, Prefix(4), k = 3, layout = TwoLevel) },
      AnnIndex.topK(spark, sf, Prefix(4), Sq8(10), k = 3, layout = TwoLevel)
    ).foreach { probed =>
      val plan = probed.queryExecution.executedPlan.toString
      assert(!plan.contains("LocalTableScan"),
        s"probe plan must not materialize query rows driver-side:\n$plan")
      assert("SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).isDefined,
        s"the distributed probe must keep bucket pruning:\n$plan")
    }
  }

  test("removeBatch: tombstoned vectors are never returned; results genuinely change; unknown ids are no-ops") {
    val dir = tempCorpus("delete")
    AnnIndex.ensureBuilt(spark, dir)
    val before = AnnIndex.topK(spark, dir, Prefix(6), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(before.nonEmpty)
    // retire exactly the ids the registry entry retires — the set must
    // intersect the undeleted top-k or the entry is vacuous (residue 7
    // was chosen because it appears in the top-4 at EVERY fixture tier)
    assert(before.exists(_.getAs[Long]("vec_id") % 10 == 7),
      "sanity: the deletion set must intersect the pre-delete results")
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    val after = AnnIndex.topK(spark, dir, Prefix(6), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after.forall(_.getAs[Long]("vec_id") % 10 != 7),
      s"a tombstoned vector leaked back into the probe: $after")
    assert(after != before, "deletion must visibly change the results")
    // the SQ read path filters the same tombstones
    val afterSq = AnnIndex.topK(spark, dir, Prefix(6), Sq8(12), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(afterSq.nonEmpty && afterSq.forall(_.getAs[Long]("vec_id") % 10 != 7))
    // deletion == the inline probe over the SURVIVING corpus with the
    // BUILD quantizer (deletion never re-fits) and the FULL query set
    // (probes are external callers, not corpus members)
    val cs = AnnIndex.storedQuantizer(spark, dir)
    val inline = Similarity.probeIndex(
        Similarity.assignCells(
          Similarity.prepared(emb.filter(col("vec_id") % 10 =!= 7)), cs),
        Similarity.probeQueries(
          Similarity.prepared(emb).filter(col("vec_id") < 6), cs, 2),
        k = 4)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after == inline,
      "tombstone filtering must equal the surviving-corpus inline probe")
    // re-deleting is idempotent; deleting an unknown id is a no-op
    val tsCount = spark.table(AnnIndex.liveTables(spark, dir).tombstones).count()
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    import spark.implicits._
    AnnIndex.removeBatch(spark, dir, Seq(987654321L).toDF("vec_id"))
    assert(spark.table(AnnIndex.liveTables(spark, dir).tombstones).count() == tsCount,
      "re-deletes and unknown ids must not grow the tombstone set")
    assert(AnnIndex.topK(spark, dir, Prefix(6), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq == after)
  }

  test("append after delete: fresh vectors served, tombstoned ids stay retired") {
    val dir = tempCorpus("del-append")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    // append clones under fresh ids: each query must find its clone at
    // cosine 1.0 (served), while the tombstoned tenth stays invisible
    AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + 500000L))
    val rows = AnnIndex.topK(spark, dir, Prefix(5), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect()
    (0L until 5L).foreach { q =>
      val top = rows.filter(_.getAs[Long]("q_id") == q).minBy(_.getAs[Int]("rn"))
      assert(top.getAs[Long]("vec_id") == q + 500000L &&
        top.getAs[Double]("score") == 1.0,
        s"query $q must find its appended clone at cosine 1.0, got $top")
    }
    assert(rows.forall(r => !(r.getAs[Long]("vec_id") < 500000L &&
      r.getAs[Long]("vec_id") % 10 == 7)),
      "original tombstoned ids must stay retired across appends")
  }

  test("requantize compacts tombstones: dead trigger fires, rebuild physically drops retired rows and clears it") {
    val dir = tempCorpus("compact")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    // retire 30% — past the deadBound=5 (20%) trigger
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 < 3))
    val advice = AnnIndex.requantizeAdvice(spark, dir)
    assert(advice.tombstoned > 0 && advice.dead && advice.needed,
      s"a 30% dead fraction must advise compaction: $advice")
    val after = AnnIndex.requantize(spark, dir)
    assert(after.tombstoned == 0 && !after.dead,
      s"compaction must clear the tombstone set: $after")
    // retired rows are physically gone and the rebuilt index equals an
    // inline pipeline over the surviving corpus (fresh k + sample) —
    // with the FULL query set: probes are external callers, so deleted
    // ids still query even though they can no longer be returned
    val surviving = emb.filter(col("vec_id") % 10 >= 3)
    assert(spark.table(AnnIndex.liveTables(spark, dir).assign).count() == surviving.count(),
      "compaction must drop exactly the tombstoned rows")
    val k = AnnIndex.annCellsFor(surviving.count())
    val cs = Similarity.sampledCentroids(Similarity.prepared(surviving), k)
    val indexed = AnnIndex.topK(spark, dir, Prefix(8), k = 5, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val inline = Similarity.probeIndex(
        Similarity.assignCells(Similarity.prepared(surviving), cs),
        Similarity.probeQueries(
          Similarity.prepared(emb).filter(col("vec_id") < 8), cs, 2),
        k = 5)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(indexed.nonEmpty && indexed == inline,
      "the compacted index must equal the surviving-corpus inline pipeline")
  }

  test("requantizeAdvice2: fresh two-level build clean; coarse knee fires on 30x growth") {
    val dir = tempCorpus("advice2")
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val fresh0 = AnnIndex.requantizeAdvice(spark, dir, layout = TwoLevel)
    assert(!fresh0.needed, s"a just-built two-level index must not advise: $fresh0")
    // n0=500 → kc = annCellsFor(annCellsFor(500)) = annCellsFor(23) = 5;
    // 29 appended replicas → n=15000 → annCellsFor(annCellsFor(15000))
    // = annCellsFor(123) = 12 > 2·5 — the coarse knee
    val emb = Fixtures.embeddings(spark, dir)
    (1 to 29).foreach(r => AnnIndex.appendBatch(spark, dir,
      emb.withColumn("vec_id", col("vec_id") + lit(r * 100000L)), layout = TwoLevel))
    val grown = AnnIndex.requantizeAdvice(spark, dir, layout = TwoLevel)
    assert(grown.knee && grown.needed,
      s"a corpus past the coarse knee must advise requantize2: $grown")
    AnnIndex.requantize(spark, dir, layout = TwoLevel)
    val cleared = AnnIndex.requantizeAdvice(spark, dir, layout = TwoLevel)
    assert(!cleared.knee,
      s"requantize2 must resize the coarse level and clear the knee: $cleared")
  }

  test("two-level delete lifecycle: tombstoned never returned, dead trigger, requantize2 compacts, crash heals") {
    val dir = tempCorpus("del2")
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val emb = Fixtures.embeddings(spark, dir)
    val before = AnnIndex.topK(spark, dir, Prefix(6), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(before.exists(_.getAs[Long]("vec_id") % 10 == 3),
      "sanity: the deletion set must intersect the pre-delete results")
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 3), layout = TwoLevel)
    val after = AnnIndex.topK(spark, dir, Prefix(6), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after.forall(_.getAs[Long]("vec_id") % 10 != 3) && after != before,
      s"gen-2 tombstones must filter and visibly change results")
    // idempotent re-delete
    val tsCount = spark.table(AnnIndex.liveTables(spark, dir, layout = TwoLevel).tombstones).count()
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 3), layout = TwoLevel)
    assert(spark.table(AnnIndex.liveTables(spark, dir, layout = TwoLevel).tombstones).count() == tsCount)
    // 10% dead — below the 20% trigger; delete two more residues to trip it
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 4 ||
        col("vec_id") % 10 === 5), layout = TwoLevel)
    val advice = AnnIndex.requantizeAdvice(spark, dir, layout = TwoLevel)
    assert(advice.tombstoned > 0 && advice.dead,
      s"a 30% dead fraction must advise compaction: $advice")
    AnnIndex.requantize(spark, dir, layout = TwoLevel)
    val cleared = AnnIndex.requantizeAdvice(spark, dir, layout = TwoLevel)
    assert(cleared.tombstoned == 0 && !cleared.dead, s"compaction must clear: $cleared")
    val surviving = emb.filter(col("vec_id") % 10 < 3 || col("vec_id") % 10 > 5)
    assert(spark.table(AnnIndex.liveTables(spark, dir, layout = TwoLevel).assign).count() == surviving.count(),
      "requantize2 must physically drop exactly the tombstoned rows")
    // the compacted index == the inline two-level pipeline over the
    // surviving corpus, probed with the FULL query set
    val indexed = AnnIndex.topK(spark, dir, Prefix(5), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val prepS = Similarity.prepared(surviving)
    val (coarse, fine, asg) = Similarity.ivf2StructureOf(prepS, surviving.count())
    val inline = Similarity.probeIvf2(coarse, fine, asg,
        Similarity.prepared(emb).filter(col("vec_id") < 5),
        k = 4, nProbeCoarse = 2, nProbeFine = 3)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(indexed.nonEmpty && indexed == inline,
      "the compacted two-level index must equal the surviving-corpus inline pipeline")
    // a lost table the record names (here the tombstones) is healed by
    // the full source rebuild — the delete producer's ledger replays
    // the retired ids (crash points of every commit: the crash spec)
    spark.sql(s"DROP TABLE ${AnnIndex.liveTables(spark, dir, layout = TwoLevel).tombstones}")
    val rebuilt = AnnIndex.topK(spark, dir, Prefix(5), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val freshInline = Similarity.topKIvf2(emb, maxQueryId = 5, k = 4)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(rebuilt == freshInline,
      "with no tombstone table the index rebuilds from source")
  }

  test("curation -> ledger -> removeBatch: ledger-first ordering, replay idempotent, crash window heals") {
    import spark.implicits._
    val dir = tempCorpus("ledger")
    AnnIndex.ensureBuilt(spark, dir, tag = "led")
    def probe() = AnnIndex.topK(spark, dir, Prefix(6), k = 4, nProbe = 2, tag = "led")
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val before = probe()
    assert(before.nonEmpty)
    // batch 1 retires ids that provably sit in the undeleted top-k, so
    // the delete VISIBLY changes results (never a vacuous pass)
    val victims = before.map(_.getAs[Long]("vec_id")).distinct.take(3)
    AnnIndex.retireBatch(spark, dir, victims.toDF("vec_id"), tag = "led")
    val after1 = probe()
    assert(after1 != before && after1.forall(r =>
      !victims.contains(r.getAs[Long]("vec_id"))),
      "retired ids must leave the serving results")
    // the ledger durably recorded exactly the batch
    val ledger = Flat.ledger(dir, "led")
    assert(spark.table(ledger).collect().map(_.getLong(0)).sorted.toSeq
      == victims.sorted.toSeq)
    // replay TWICE: at-least-once delivery converges (the idempotent
    // fast path absorbs a fully-applied ledger)
    AnnIndex.replayDeleteLedger(spark, dir, "led")
    AnnIndex.replayDeleteLedger(spark, dir, "led")
    assert(probe() == after1, "ledger replay must be idempotent")
    // CRASH WINDOW: batch 2 lands in the ledger but the producer dies
    // before removeBatch (simulated by appending to the ledger
    // directly) — the index keeps serving the pre-crash state...
    val victims2 = after1.map(_.getAs[Long]("vec_id")).distinct.take(2)
    victims2.map((_, 99L)).toDF("vec_id", "batch")
      .write.mode("append").format("parquet").saveAsTable(ledger)
    assert(probe() == after1,
      "an unapplied ledger batch must not affect serving")
    // ...and the recovery path applies the stranded batch
    AnnIndex.replayDeleteLedger(spark, dir, "led")
    val after2 = probe()
    assert(after2 != after1 && after2.forall(r =>
      !(victims ++ victims2).contains(r.getAs[Long]("vec_id"))),
      "replaying the ledger must apply the batch the crash stranded")
  }

  test("gen-2 build fine-assignment join: broadcast forced below the knee, un-hinted past it") {
    import org.apache.spark.sql.execution.FormattedMode
    val e = Similarity.prepared(Fixtures.embeddings(spark, sf))
    val n = e.count()
    // kill auto-broadcast so the plan shape reflects ONLY the gate —
    // at fixture scale size estimates could auto-broadcast either way
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val below = Similarity.ivf2StructureOf(e, n)._3
        .queryExecution.explainString(FormattedMode)
      assert(below.contains("BroadcastHashJoin"),
        s"below the knee the build must FORCE the fine broadcast " +
          s"(derived relations have no stats):\n$below")
      val past = Similarity.ivf2StructureOf(e, Similarity.Ivf2FineBroadcastKneeN + 1)._3
        .queryExecution.explainString(FormattedMode)
      assert(!past.contains("BroadcastHashJoin"),
        s"past the knee the hint must be absent so Catalyst/AQE chooses:\n$past")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("retireVia evaluates the producer ONCE: a nondeterministic id plan " +
      "cannot ledger one set and tombstone another") {
    val dir = tempCorpus("nondet")
    AnnIndex.ensureBuilt(spark, dir, tag = "nd")
    val emb = Fixtures.embeddings(spark, dir)
    // a GENUINELY nondeterministic producer: every evaluation samples
    // a different ~half of the corpus (rand() would not do — Spark
    // fixes its seed at analysis, so re-execution repeats; an
    // asNondeterministic udf re-rolls per evaluation)
    val flip = udf(() => scala.util.Random.nextBoolean()).asNondeterministic()
    AnnIndex.retireBatch(spark, dir, emb.select(col("vec_id")).where(flip()),
      tag = "nd")
    val ledgered = spark.table(Flat.ledger(dir, "nd"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val tombstoned = spark.table(AnnIndex.liveTables(spark, dir, "nd").tombstones)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // every ledgered id is a corpus member, so resolution drops none:
    // the tombstone set must be EXACTLY the durably recorded batch —
    // under the old evaluate-twice shape the two sets diverge with
    // near-certainty
    assert(ledgered.nonEmpty && tombstoned == ledgered,
      s"ledger (${ledgered.size}) and tombstones (${tombstoned.size}) diverged: " +
        s"the producer plan was evaluated more than once")
    // and replay converges as before
    AnnIndex.replayDeleteLedger(spark, dir, "nd")
    assert(spark.table(AnnIndex.liveTables(spark, dir, "nd").tombstones)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet == ledgered)
  }

  test("deletion loses no live neighbors: full-width probe over a tombstoned index == brute force over survivors") {
    val dir = tempCorpus("recall-del")
    AnnIndex.ensureBuilt(spark, dir, tag = "rd")
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7), tag = "rd")
    val kc = AnnIndex.annCellsFor(emb.count())
    // nProbe = every cell: the probe scans the whole index minus the
    // tombstones, so the result must be EXACTLY brute force over the
    // survivors, rows and scores included (queries include retired id
    // 7 — external callers still probe) — a tombstone that clips a
    // live neighbor or leaks a dead one breaks row equality here
    val probed = AnnIndex.topK(spark, dir, Prefix(8), k = 5,
        nProbe = kc, tag = "rd")
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val brute = Similarity.topKOver(
        emb.filter(col("vec_id") % 10 =!= 7), emb, maxQueryId = 8, k = 5)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(probed.nonEmpty && probed == brute,
      "full-width probe after delete must equal brute force over survivors")
    // the same guarantee one level down: every coarse cell probed and
    // the fine probe wider than any cell's fine count scans the whole
    // gen-2 index minus its tombstones
    AnnIndex.ensureBuilt(spark, dir, tag = "rd", layout = TwoLevel)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7), tag = "rd", layout = TwoLevel)
    val kc2 = AnnIndex.storedQuantizer(spark, dir, tag = "rd", layout = TwoLevel).length
    val probed2 = AnnIndex.topK(spark, dir, Prefix(8), k = 5,
        nProbe = kc2, nProbeFine = 1000000, tag = "rd", layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(probed2.nonEmpty && probed2 == brute,
      "gen-2 full-width probe after delete must equal brute force over survivors")
  }

  test("explicit-id probes == prefix probes on the same ids, both generations") {
    import spark.implicits._
    AnnIndex.ensureBuilt(spark, sf)
    AnnIndex.ensureBuilt(spark, sf, layout = TwoLevel)
    val ids = (0L until 5L).toDF("vec_id")
    val flatPrefix = AnnIndex.topK(spark, sf, Prefix(5), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val flatIds = AnnIndex.topK(spark, sf, Ids(ids), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(flatIds.nonEmpty && flatIds == flatPrefix,
      "topKIds over the prefix ids must equal the prefix probe")
    val g2Prefix = AnnIndex.topK(spark, sf, Prefix(5), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val g2Ids = AnnIndex.topK(spark, sf, Ids(ids), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(g2Ids.nonEmpty && g2Ids == g2Prefix,
      "topK2Ids over the prefix ids must equal the prefix probe")
    // unknown ids probe nothing, known subset probes exactly itself
    assert(AnnIndex.topK(spark, sf, Ids(Seq(987654321L).toDF("vec_id")), k = 4).isEmpty)
    val sub = AnnIndex.topK(spark, sf, Ids(Seq(3L).toDF("vec_id")), k = 4, layout = TwoLevel)
      .orderBy(col("rn")).collect().toSeq
    assert(sub == g2Prefix.filter(_.getAs[Long]("q_id") == 3L))
  }

  test("composed serving call: explicit ids x SQ8 codes, both generations — " +
      "prefix-coherent, zero loss at rerank = 2k, candidate scan reads codes not vectors") {
    import spark.implicits._
    AnnIndex.ensureBuilt(spark, sf)
    AnnIndex.ensureBuilt(spark, sf, layout = TwoLevel)
    val ids = (0L until 5L).toDF("vec_id")
    // the id path must be the prefix path's exact result on the same set
    val flatPrefix = AnnIndex.topK(spark, sf, Prefix(5), Sq8(12), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val flatIds = AnnIndex.topK(spark, sf, Ids(ids), Sq8(12), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(flatIds.nonEmpty && flatIds == flatPrefix,
      "topKIdsSq over the prefix ids must equal the prefix SQ probe")
    val g2Prefix = AnnIndex.topK(spark, sf, Prefix(5), Sq8(10), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val g2Ids = AnnIndex.topK(spark, sf, Ids(ids), Sq8(10), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(g2Ids.nonEmpty && g2Ids == g2Prefix,
      "topK2IdsSq over the prefix ids must equal the prefix SQ probe")
    // rerank = 2k buys back full-precision results on the explicit-id
    // path too (the round-17 verdict's acceptance bar)
    val exact = AnnIndex.topK(spark, sf, Ids(ids), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val sq2k = AnnIndex.topK(spark, sf, Ids(ids), Sq8(8), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(sq2k == exact,
      "explicit-id SQ probe at rerank = 2k must equal the full-precision explicit-id probe")
    // the byte bound survives the composition: the candidate scan's
    // ReadSchema excludes `v` on both generations
    val p1 = AnnIndex.topK(spark, sf, Ids(ids), Sq8(12), k = 4, nProbe = 2)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p1.contains("ReadSchema: struct<vec_id:bigint,nrm:double,cell:int,codes:array<int>>"),
      "flat explicit-id candidate scan must read codes, not vectors")
    val p2 = AnnIndex.topK(spark, sf, Ids(ids), Sq8(10), k = 4, layout = TwoLevel)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p2.contains("ReadSchema: struct<vec_id:bigint,nrm:double,ccell:int,fcell:int,codes:array<int>>"),
      "gen-2 explicit-id candidate scan must read codes, not vectors")
    // unknown ids probe nothing
    assert(AnnIndex.topK(spark, sf, Ids(Seq(987654321L).toDF("vec_id")), Sq8(15), k = 4).isEmpty)
  }

  test("SQ probes after a real delete: tombstones filtered on the codes path, " +
      "deletion set intersects the pre-delete SQ top-k (non-vacuous entries)") {
    val dir = tempCorpus("sqdel")
    AnnIndex.ensureBuilt(spark, dir)
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val emb = Fixtures.embeddings(spark, dir)
    // flat: residue 7 (the registry's set) must intersect the
    // pre-delete SQ top-k, or topk_sq_del would be vacuous
    val beforeFlat = AnnIndex.topK(spark, dir, Prefix(6), Sq8(12), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(beforeFlat.exists(_.getAs[Long]("vec_id") % 10 == 7),
      "sanity: residue 7 must appear in the pre-delete SQ top-4")
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    val afterFlat = AnnIndex.topK(spark, dir, Prefix(6), Sq8(12), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(afterFlat.nonEmpty && afterFlat.forall(_.getAs[Long]("vec_id") % 10 != 7),
      "a tombstoned vector leaked into the SQ codes path")
    assert(afterFlat != beforeFlat, "deletion must visibly change the SQ results")
    // gen-2: residue 3 (the registry's set), same contract
    val before2 = AnnIndex.topK(spark, dir, Prefix(6), Sq8(10), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(before2.exists(_.getAs[Long]("vec_id") % 10 == 3),
      "sanity: residue 3 must appear in the pre-delete gen-2 SQ top-4")
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 3), layout = TwoLevel)
    val after2 = AnnIndex.topK(spark, dir, Prefix(6), Sq8(10), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after2.nonEmpty && after2.forall(_.getAs[Long]("vec_id") % 10 != 3),
      "a tombstoned vector leaked into the gen-2 SQ codes path")
    assert(after2 != before2, "deletion must visibly change the gen-2 SQ results")
    // the explicit-id composition sees the same tombstones
    import spark.implicits._
    val idsAfter = AnnIndex.topK(spark, dir,
        Ids((0L until 6L).toDF("vec_id")), Sq8(12), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(idsAfter == afterFlat,
      "explicit-id SQ probe must see the same tombstones as the prefix probe")
  }

  test("gen-2 PQ: pqcodes-only coarse-pruned candidate scan, full-rerank == exact probe, " +
      "appended clone served, codebook refreshes with requantize2") {
    AnnIndex.ensureBuilt(spark, sf, layout = TwoLevel)
    // exact rerank over ALL candidates in the probed cells must equal
    // the full-precision probe at the same dials — the PQ stage can
    // then only reorder below a cut that admits everything
    val exact = AnnIndex.topK(spark, sf, Prefix(6), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val pqWide = AnnIndex.topK(spark, sf, Prefix(6), Pq(1000000), k = 4,
        nProbe = 2, nProbeFine = 3, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(pqWide.nonEmpty && pqWide == exact,
      "at full rerank the gen-2 PQ probe must equal the exact gen-2 probe")
    // the sub-byte bound: candidate scan reads pqcodes — not vectors,
    // not the SQ8 codes — and stays coarse-bucket-pruned
    val p = AnnIndex.topK(spark, sf, Prefix(2), Pq(24), k = 4, layout = TwoLevel)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,nrm:double,ccell:int,fcell:int,pqcodes:"),
      s"gen-2 PQ candidate scan must read pqcodes, not vectors:\n$p")
    // append → probe → requantize2 cycle on a private corpus: codes
    // encode with the STORED codebook, the rebuild refreshes it
    val dir = tempCorpus("pq2-cycle")
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val emb = Fixtures.embeddings(spark, dir)
    val cb0 = AnnIndex.storedPqCodebook(spark, dir, layout = TwoLevel)
    assert(cb0.length == AnnIndex.PqKsub && cb0.head.length == AnnIndex.Dim)
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(424242L))
    AnnIndex.appendBatch(spark, dir, clone, layout = TwoLevel)
    def cloneHit(): Boolean =
      AnnIndex.topK(spark, dir, Prefix(1), Pq(10), k = 3, layout = TwoLevel)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
        .contains((424242L, 1.0))
    assert(cloneHit(), "an appended clone must be served by the gen-2 PQ probe")
    AnnIndex.requantize(spark, dir, layout = TwoLevel)
    assert(AnnIndex.storedPqCodebook(spark, dir, layout = TwoLevel).length == AnnIndex.PqKsub)
    assert(cloneHit(), "the clone must survive the generation swap re-encode")
  }

  test("gen-2 PQ compositions: explicit ids == prefix on the same set, " +
      "tombstones filtered on the packed-codes path, residue-3 non-vacuous") {
    import spark.implicits._
    AnnIndex.ensureBuilt(spark, sf, layout = TwoLevel)
    val prefix = AnnIndex.topK(spark, sf, Prefix(5), Pq(24), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val byIds = AnnIndex.topK(spark, sf, Ids((0L until 5L).toDF("vec_id")), Pq(24),
        k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(byIds.nonEmpty && byIds == prefix,
      "topK2IdsPq over the prefix ids must equal the prefix gen-2 PQ probe")
    assert(AnnIndex.topK(spark, sf, Ids(Seq(987654321L).toDF("vec_id")), Pq(24), k = 4,
      layout = TwoLevel).isEmpty)
    // delete leg on a private corpus: residue 3 must intersect the
    // pre-delete top-k (the registry entry is non-vacuous) and never
    // leak back through the packed-codes path
    val dir = tempCorpus("pq2del")
    AnnIndex.ensureBuilt(spark, dir, layout = TwoLevel)
    val before = AnnIndex.topK(spark, dir, Prefix(6), Pq(24), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(before.exists(_.getAs[Long]("vec_id") % 10 == 3),
      "sanity: residue 3 must appear in the pre-delete gen-2 PQ top-4")
    AnnIndex.removeBatch(spark, dir,
      Fixtures.embeddings(spark, dir).select(col("vec_id"))
        .filter(col("vec_id") % 10 === 3), layout = TwoLevel)
    val after = AnnIndex.topK(spark, dir, Prefix(6), Pq(24), k = 4, layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after.nonEmpty && after.forall(_.getAs[Long]("vec_id") % 10 != 3),
      "a tombstoned vector leaked into the gen-2 packed-codes path")
    assert(after != before, "deletion must visibly change the gen-2 PQ results")
  }

  test("composed serving call at the PQ tier: explicit ids x stored pqcodes — " +
      "prefix-coherent, candidate scan reads pqcodes not vectors, unknown ids empty") {
    import spark.implicits._
    AnnIndex.ensureBuilt(spark, sf)
    val ids = (0L until 5L).toDF("vec_id")
    val prefix = AnnIndex.topK(spark, sf, Prefix(5), Pq(24), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val byIds = AnnIndex.topK(spark, sf, Ids(ids), Pq(24), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(byIds.nonEmpty && byIds == prefix,
      "topKIdsPq over the prefix ids must equal the prefix PQ probe")
    // the sub-byte bound survives the composition: the candidate scan
    // reads pqcodes — not the vectors, not the SQ8 codes
    val p = AnnIndex.topK(spark, sf, Ids(ids), Pq(24), k = 4, nProbe = 2)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,nrm:double,cell:int,pqcodes:"),
      "explicit-id PQ candidate scan must read pqcodes, not vectors")
    assert(AnnIndex.topK(spark, sf, Ids(Seq(987654321L).toDF("vec_id")), Pq(30), k = 4).isEmpty)
  }

  test("PQ probe after a real delete: tombstones filtered on the pqcodes path, " +
      "deletion set intersects the pre-delete PQ top-k (non-vacuous entry)") {
    val dir = tempCorpus("pqdel")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    val before = AnnIndex.topK(spark, dir, Prefix(6), Pq(24), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(before.exists(_.getAs[Long]("vec_id") % 10 == 7),
      "sanity: residue 7 must appear in the pre-delete PQ top-4")
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    val after = AnnIndex.topK(spark, dir, Prefix(6), Pq(24), k = 4,
        nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(after.nonEmpty && after.forall(_.getAs[Long]("vec_id") % 10 != 7),
      "a tombstoned vector leaked into the pqcodes path")
    assert(after != before, "deletion must visibly change the PQ results")
    // the explicit-id composition sees the same tombstones
    import spark.implicits._
    val idsAfter = AnnIndex.topK(spark, dir,
        Ids((0L until 6L).toDF("vec_id")), Pq(24), k = 4, nProbe = 2)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    assert(idsAfter == after,
      "explicit-id PQ probe must see the same tombstones as the prefix probe")
  }

  test("gen-2 ledger: retireBatch2 records then retires, replay idempotent, stranded batch applied") {
    import spark.implicits._
    val dir = tempCorpus("ledger2")
    AnnIndex.ensureBuilt(spark, dir, tag = "led2", layout = TwoLevel)
    def probe() = AnnIndex.topK(spark, dir, Prefix(6), k = 4, tag = "led2", layout = TwoLevel)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    val before = probe()
    val victims = before.map(_.getAs[Long]("vec_id")).distinct.take(3)
    AnnIndex.retireBatch(spark, dir, victims.toDF("vec_id"), tag = "led2", layout = TwoLevel)
    val after1 = probe()
    assert(after1 != before && after1.forall(r =>
      !victims.contains(r.getAs[Long]("vec_id"))))
    AnnIndex.replayDeleteLedger(spark, dir, "led2", layout = TwoLevel)
    assert(probe() == after1, "gen-2 ledger replay must be idempotent")
    // stranded second batch (crash before removeBatch2) applied on replay
    val ledger = TwoLevel.ledger(dir, "led2")
    val victims2 = after1.map(_.getAs[Long]("vec_id")).distinct.take(2)
    victims2.map((_, 99L)).toDF("vec_id", "batch")
      .write.mode("append").format("parquet").saveAsTable(ledger)
    assert(probe() == after1)
    AnnIndex.replayDeleteLedger(spark, dir, "led2", layout = TwoLevel)
    assert(probe().forall(r =>
      !(victims ++ victims2).contains(r.getAs[Long]("vec_id"))))
  }

  test("removeBatch's idempotent fast path genuinely skips the table swap (no rewrite, not just same rows)") {
    val dir = tempCorpus("del-noop")
    AnnIndex.ensureBuilt(spark, dir)
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    val ts = AnnIndex.liveTables(spark, dir).tombstones
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, ts)
    val before = loc.listFiles().map(f => f.getName -> f.lastModified()).toMap
    // a replayed (fully-covered) batch and an unknown id must both be
    // complete no-ops on disk — the row-count assertion elsewhere
    // would pass even if a commit rewrote identical rows; this pins
    // that the k-bucket rewrite genuinely does not run
    AnnIndex.removeBatch(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 7))
    import spark.implicits._
    AnnIndex.removeBatch(spark, dir, Seq(987654321L).toDF("vec_id"))
    val after = loc.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "covered re-deletes must not rewrite the tombstone table")
    assert(AnnIndex.liveTables(spark, dir).tombstones == ts,
      "covered re-deletes must not commit a generation")
  }

  test("learnedPq build flag: the STORED codebook == the inline Lloyd fit, " +
      "the sampled default is untouched, and serving reads the learned book unchanged") {
    val dir = tempCorpus("learned")
    val emb = Fixtures.embeddings(spark, dir)
    // default build stores the sampled book; learned build (its own
    // tag = its own generation) stores the Lloyd fit — stored==inline
    // is the whole claim: probes read the STORED book, so pinning the
    // artifact pins the serving path with zero serving changes
    AnnIndex.ensureBuilt(spark, dir, tag = "cb-sampled")
    AnnIndex.ensureBuilt(spark, dir, tag = "cb-learned", learnedPq = true)
    val prep = Similarity.prepared(emb)
    val sampled = Similarity.sampledCentroids(prep, AnnIndex.PqKsub)
    val learned = Similarity.learnedPqCodebook(emb)
    val storedS = AnnIndex.storedPqCodebook(spark, dir, tag = "cb-sampled")
    val storedL = AnnIndex.storedPqCodebook(spark, dir, tag = "cb-learned")
    assert(storedS.map(_.toSeq).toSeq == sampled.map(_.toSeq).toSeq,
      "default build must keep storing the sampled (oracle-checked) book")
    assert(storedL.map(_.toSeq).toSeq == learned.map(_.toSeq).toSeq,
      "learnedPq build must store exactly the inline Lloyd fit")
    assert(storedL.map(_.toSeq).toSeq != storedS.map(_.toSeq).toSeq,
      "learning must genuinely move the stored book on this fixture")
    // the learned generation serves: full-width probe + full rerank
    // over learned codes is still exact (ADC only ranks candidates)
    val kc = AnnIndex.storedQuantizer(spark, dir, tag = "cb-learned").length
    val n = emb.count().toInt
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = hits(Similarity.topK(emb, maxQueryId = 3, k = 5))
    val full = hits(AnnIndex.topK(spark, dir, Prefix(3), Pq(n), k = 5,
      nProbe = kc, tag = "cb-learned"))
    assert(full == brute,
      "learned-book full probe + full rerank must equal brute force")
    // the flag carries through the rebuild: a learned generation
    // stays learned after requantize (re-fit over the same corpus)
    AnnIndex.requantize(spark, dir, tag = "cb-learned", learnedPq = true)
    val storedL2 = AnnIndex.storedPqCodebook(spark, dir, tag = "cb-learned")
    assert(storedL2.map(_.toSeq).toSeq == learned.map(_.toSeq).toSeq,
      "requantize(learnedPq) over an unchanged corpus must re-fit the same book")
  }

  test("gen-2 learnedPq build flag: the stored gen-2 codebook == the inline Lloyd fit") {
    val dir = tempCorpus("learned2")
    val emb = Fixtures.embeddings(spark, dir)
    AnnIndex.ensureBuilt(spark, dir, tag = "cb2", learnedPq = true, layout = TwoLevel)
    val learned = Similarity.learnedPqCodebook(emb)
    val stored = AnnIndex.storedPqCodebook(spark, dir, tag = "cb2", layout = TwoLevel)
    assert(stored.map(_.toSeq).toSeq == learned.map(_.toSeq).toSeq,
      "gen-2 learnedPq build must store exactly the inline Lloyd fit")
  }

  test("nibble_pack fails loudly on an odd code count (the packed-ADC m = 2·bytes contract)") {
    import spark.implicits._
    val odd = Seq(Tuple1(Seq(1, 2, 3))).toDF("codes")
      .select(graft.functions.VectorExprs.nibblePack(col("codes")))
    val e = intercept[Exception](odd.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("even number of codes")),
      s"expected the even-m guard, got: $e")
  }

  test("nearestCellIdx (driver twin) == assignCells (codegen) row for row") {
    val emb = Fixtures.embeddings(spark, sf)
    val e = Similarity.prepared(emb)
    val cs = Similarity.sampledCentroids(e, AnnIndex.annCellsFor(emb.count()))
    val asg = Similarity.assignCells(e, cs)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = e.select(col("vec_id"), col("v")).collect()
    rows.foreach { r =>
      val got = Similarity.nearestCellIdx(r.getSeq[Double](1).toArray, cs)
      assert(got == asg(r.getLong(0)),
        s"driver/codegen assignment diverged for vec_id ${r.getLong(0)}: " +
          s"$got vs ${asg(r.getLong(0))}")
    }
  }

  test("build is write-once: a second ensureBuilt reuses the table") {
    val t = AnnIndex.ensureBuilt(spark, sf)
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    val before = loc.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(AnnIndex.ensureBuilt(spark, sf) == t)
    val after = loc.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "second ensureBuilt must not rewrite the table")
  }

  // ---- coherence across sessions and commits --------------------------

  Seq("removeBatch", "requantize", "appendBatch").foreach { op =>
    test(s"a newSession sibling that probed before the writer's $op answers as the writer does after it") {
      val dir = tempCorpus(s"sib-$op")
      val emb = Fixtures.embeddings(spark, dir)
      def retire(residue: Int): Unit = AnnIndex.removeBatch(spark, dir,
        emb.select(col("vec_id")).filter(col("vec_id") % 10 === residue))
      def probe(s: org.apache.spark.sql.SparkSession) =
        AnnIndex.topK(s, dir, Prefix(6), k = 4, nProbe = 2).orderBy(col("q_id"), col("rn")).collect().toSeq
      // the rebuild must compact something, so it changes what it stores
      if (op == "requantize") retire(3)
      val sib = spark.newSession()
      val before = probe(sib)
      op match {
        case "removeBatch" => retire(7)
        case "requantize" => AnnIndex.requantize(spark, dir)
        case "appendBatch" => AnnIndex.appendBatch(spark, dir,
          emb.filter(col("vec_id") === 0L).withColumn("vec_id", lit(900000L)))
      }
      val writer = probe(spark)
      assert(probe(sib) == writer, s"the sibling must answer as the writer after its $op")
      op match {
        case "removeBatch" => assert(writer != before && writer.forall(_.getAs[Long]("vec_id") % 10 != 7),
          "sanity: the removal changed the answer")
        case "appendBatch" => assert(writer.exists(r => r.getAs[Long]("q_id") == 0L &&
          r.getAs[Long]("vec_id") == 900000L && r.getAs[Double]("score") == 1.0),
          "the appended clone of query 0 must be served")
        case _ =>
      }
    }
  }

  Seq("removeBatch", "requantize").foreach { op =>
    test(s"a topK frame planned before a $op commit collects the answer of the generation it was planned on") {
      import spark.implicits._
      val dir = tempCorpus(s"planned-$op")
      def planned() = AnnIndex.topK(spark, dir, Prefix(6), k = 4, nProbe = 2)
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy(col("q_id"), col("rn")).collect().toSeq
      // a first removal, so the planned frame reads tombstone files
      AnnIndex.removeBatch(spark, dir, Fixtures.embeddings(spark, dir).select(col("vec_id"))
        .filter(col("vec_id") % 10 === 7))
      val frame = planned()
      val expected = rows(planned())
      if (op == "removeBatch")
        AnnIndex.removeBatch(spark, dir, expected.map(_.getAs[Long]("vec_id")).distinct.take(3).toDF("vec_id"))
      else AnnIndex.requantize(spark, dir)
      assert(rows(frame) == expected, s"the frame planned before the $op must answer its own generation")
      if (op == "removeBatch") assert(rows(planned()) != expected, "sanity: the removal changed the answer")
    }
  }

  /** Crash points of the index's commits. A file system that fails at
    * its k-th mutating call and every one after serves the warehouse
    * during each walk ([[CrashLocalFs]]); every table write is crashed
    * at its first, middle and last step. After each crash the index
    * must answer from the generation before (the record and every
    * table it names untouched), a retry must reach the generation a
    * clean run reaches, and no table or warehouse location of the
    * failed attempt may remain under the base name. The crash before
    * the record replace is the last step of each operation's last
    * write. */
  test("crash points: a crash at any write of build, requantize, removeBatch or retireBatch leaves " +
      "the generation before; a retry reaches the one after and leaves no table of the failed attempt") {
    import spark.implicits._
    // 60 vectors (8 cells) keep the 21 crash points near 50 s. The
    // walk counts the steps of a first build, which would also sweep
    // what an earlier run left under a fixed base name: its corpus dir
    // is new each run, and the test drops the tables it made instead.
    val dir = java.nio.file.Files.createTempDirectory("ann-crash").toString
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath.stripSuffix("/") + "/"
    def warehouse = Option(new java.io.File(wh).list()).toSeq.flatten.toSet
    val before = warehouse
    Fixtures.embeddings(spark, sf).filter(col("vec_id") < 60).coalesce(1)
      .write.parquet(dir + "/embeddings.parquet")
    def probe(tag: String) = AnnIndex.topK(spark, dir, Prefix(6), k = 3, nProbe = 2, tag = tag)
      .orderBy(col("q_id"), col("rn")).collect().toSeq
    def live(tag: String) = AnnIndex.liveTables(spark, dir, tag).all.toSet
    // what a generation holds, cheaper than a probe: the fitted
    // artifacts (a record read) and the assignment's row count
    def contents(tag: String) = {
      val (mns, mxs) = AnnIndex.storedSqParams(spark, dir, tag = tag)
      (AnnIndex.storedQuantizer(spark, dir, tag = tag).map(_.toSeq).toSeq, mns.toSeq, mxs.toSeq,
        AnnIndex.storedPqCodebook(spark, dir, tag = tag).map(_.toSeq).toSeq,
        spark.table(AnnIndex.liveTables(spark, dir, tag).assign).count())
    }
    // the warehouse entry each step of the last walk changed, in order
    def stepTables: Seq[String] = CrashFs.paths.map { p =>
      val path = p.toUri.getPath
      if (path.startsWith(wh)) path.stripPrefix(wh).takeWhile(_ != '/') else path
    }
    // runs `op` clean; the steps to crash at: first, middle and last of
    // each run of steps under one table
    def crashPoints(op: => Unit): Seq[Int] = {
      CrashFs.arm(Long.MaxValue)
      try op finally CrashFs.disarm()
      val runs = stepTables.zipWithIndex.foldLeft(Vector.empty[(String, Vector[Int])]) {
        case (acc, (t, i)) =>
          if (acc.nonEmpty && acc.last._1 == t) acc.init :+ (t -> (acc.last._2 :+ (i + 1)))
          else acc :+ (t -> Vector(i + 1))
      }
      runs.flatMap { case (_, r) => Seq(r.head, r(r.size / 2), r.last).distinct }
    }
    def crashAt(what: String, k: Int)(op: => Unit): Unit = {
      CrashFs.arm(k)
      val crashed = try { op; false } catch { case NonFatal(_) => true } finally CrashFs.disarm()
      assert(crashed, s"$what: no crash at step $k")
    }
    // after the retry, the base name holds the live generation and the
    // one it replaced, on disk and in the catalog, and nothing else
    def noLeftovers(what: String, tag: String, kept: Set[String]): Unit = {
      val (found, keep) = (underBase(dir, tag), live(tag) ++ kept)
      assert(found == keep, s"$what: ${found -- keep} outlived the retry, ${keep -- found} is missing")
    }

    val start = System.nanoTime()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CrashLocalFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    // a failed task logs its stack trace; a hundred of them say nothing
    spark.sparkContext.setLogLevel("OFF")
    try {
      // build: every crash point builds its own index (its own tag),
      // with no generation before it. The retried indexes are the fresh
      // ones the removeBatch and retireBatch walks start from, which
      // probe each of them; when the walks need more, more are built.
      val buildPoints = crashPoints(AnnIndex.ensureBuilt(spark, dir, tag = "b"))
      val built = probe("b")
      val clean = contents("b")
      buildPoints.foreach { k =>
        val tag = s"b$k"
        crashAt(s"build, step $k", k)(AnnIndex.ensureBuilt(spark, dir, tag = tag))
        AnnIndex.ensureBuilt(spark, dir, tag = tag)
        assert(contents(tag) == clean, s"build, step $k: the retry must build the clean generation")
        noLeftovers(s"build, step $k", tag, Set.empty)
      }
      val freshIndexes = ("b" +: buildPoints.map(k => s"b$k")).iterator ++
        Iterator.from(1).map { i => AnnIndex.ensureBuilt(spark, dir, tag = s"f$i"); s"f$i" }
      val victims = built.map(_.getAs[Long]("vec_id")).distinct.take(3).toDF("vec_id")

      // requantize: one index crashed and retried at every point; each
      // attempt re-fits the same survivors, so each walks the same steps
      def compactable(tag: String): Unit = {
        AnnIndex.ensureBuilt(spark, dir, tag = tag)
        AnnIndex.removeBatch(spark, dir, victims, tag = tag)
        AnnIndex.requantize(spark, dir, tag = tag)
      }
      compactable("rq")
      val rqPoints = crashPoints(AnnIndex.requantize(spark, dir, tag = "rq"))
      val requantized = (probe("rq"), contents("rq"))
      rqPoints.foreach { k =>
        val tables = live("rq")
        crashAt(s"requantize, step $k", k)(AnnIndex.requantize(spark, dir, tag = "rq"))
        assert(live("rq") == tables && probe("rq") == requantized._1,
          s"requantize, step $k: the crash must leave the generation before")
        AnnIndex.requantize(spark, dir, tag = "rq")
        assert(live("rq") != tables && contents("rq") == requantized._2,
          s"requantize, step $k: the retry must reach the generation after")
        noLeftovers(s"requantize, step $k", "rq", tables)
      }

      // removeBatch and retireBatch: a fresh index per crash point; the
      // generation after differs from the one before in its tombstones
      def tombstones(tag: String) = spark.table(AnnIndex.liveTables(spark, dir, tag).tombstones)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      def crashWalk(name: String, op: String => Unit): Seq[(Int, String)] = {
        val clean = freshIndexes.next()
        val points = crashPoints(op(clean))
        assert(probe(clean) != built, s"sanity: the $name changes the answer")
        val after = tombstones(clean)
        points.map { k =>
          val tag = freshIndexes.next()
          val tables = live(tag)
          crashAt(s"$name, step $k", k)(op(tag))
          assert(live(tag) == tables && probe(tag) == built,
            s"$name, step $k: the crash must leave the generation before")
          op(tag)
          assert(tombstones(tag) == after, s"$name, step $k: the retry must reach the generation after")
          noLeftovers(s"$name, step $k", tag, tables)
          k -> tag
        }
      }
      val rmPoints = crashWalk("removeBatch", tag => AnnIndex.removeBatch(spark, dir, victims, tag = tag))
      val retirePoints = crashWalk("retireBatch", tag => AnnIndex.retireBatch(spark, dir, victims, tag = tag))
      // the retry after a crash past the ledger append records the batch
      // again; the ledger still holds exactly the retired ids
      retirePoints.foreach { case (k, tag) =>
        assert(spark.table(Flat.ledger(dir, tag)).select(col("vec_id")).distinct()
          .collect().map(_.getLong(0)).toSet == victims.collect().map(_.getLong(0)).toSet,
          s"retireBatch, step $k: the ledger must hold exactly the retired ids")
      }
      info(s"crash points: build ${buildPoints.size}, requantize ${rqPoints.size}, " +
        s"removeBatch ${rmPoints.size}, retireBatch ${retirePoints.size} " +
        f"in ${(System.nanoTime() - start) / 1e9}%.0f s")
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
      spark.sparkContext.setLogLevel("WARN")
      (warehouse -- before).foreach(Bucketed.resetTable(spark, _))
    }
  }

  /** Pins the driver round-trips of a warm stored probe. For each
    * (layout, codec) pair, the Spark jobs one probe runs — building the
    * frame (the distinct probed-cell collect) plus collecting its
    * result — must stay at or below the counts the per-variant probes
    * ran before they were folded into [[AnnIndex.topK]]. A probe that
    * starts re-reading a cached artifact, or gains a collect or catalog
    * job, fails here. */
  test("a warm stored probe runs no more Spark jobs than the per-variant probes did") {
    // measured on a 4-core local[4] session with the same probe
    // parameters, one warm-up probe first
    val ceilings = Seq(
      (Flat, Exact, 7), (Flat, Sq8(12), 9), (Flat, Pq(24), 9),
      (TwoLevel, Exact, 9), (TwoLevel, Sq8(10), 11), (TwoLevel, Pq(24), 11))
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    try ceilings.foreach { case (layout, codec, ceiling) =>
      AnnIndex.ensureBuilt(spark, sf, tag = "jobs", layout = layout)
      def probe() = AnnIndex.topK(spark, sf, Prefix(5), codec, k = 4, nProbe = 2,
        nProbeFine = 3, tag = "jobs", layout = layout).collect()
      probe() // warm: relation listings
      val before = c.settle()
      assert(probe().nonEmpty)
      val jobs = c.settle() - before
      info(s"$layout × $codec: $jobs jobs (ceiling $ceiling)")
      assert(jobs <= ceiling, s"$layout × $codec: a warm probe ran $jobs jobs, ceiling $ceiling")
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
