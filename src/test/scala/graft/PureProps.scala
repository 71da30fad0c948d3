package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.api.LogsQuery
import graft.functions.SimHash64

/** ScalaCheck properties for the pure (non-Spark) kernels. */
object PureProps extends Properties("graft.pure") {

  property("clampPageSize stays in [1,100] and is identity inside") =
    Prop.forAll(Gen.chooseNum(-1000, 1000)) { n =>
      val c = LogsQuery.clampPageSize(n)
      c >= 1 && c <= 100 && (n < 1 || n > 100 || c == n)
    }

  private val tokenGen = Gen.nonEmptyListOf(Gen.identifier.map(_.take(8)))

  property("simhash is deterministic") = Prop.forAll(tokenGen) { ts =>
    SimHash64.ofTokens(ts) == SimHash64.ofTokens(ts)
  }

  property("simhash is order-invariant (bag semantics)") =
    Prop.forAll(tokenGen) { ts =>
      SimHash64.ofTokens(ts) == SimHash64.ofTokens(ts.reverse)
    }

  property("single-token simhash == the oracle's md5 arithmetic " +
      "(('0x' || substr(md5(tok),1,15))::BIGINT)") =
    // one token: every vote is ±1 with no ties broken by other tokens,
    // so the signature IS the token hash — pinning the native digest
    // loop to an independent hex-string computation of the same spec
    Prop.forAll(Gen.identifier.map(_.take(12))) { t =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
      SimHash64.ofTokens(Seq(t)) == java.lang.Long.parseLong(hex, 16)
    }

  property("single-token edit moves hamming less than disjoint rewrite") =
    Prop.forAll(Gen.listOfN(40, Gen.identifier.map(_.take(6))).suchThat(_.nonEmpty)) { ts =>
      def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      val h = SimHash64.ofTokens(ts)
      val edited = "zzz_edit" :: ts.tail
      val rewritten = ts.map(t => t + "_totally_new")
      hamming(h, SimHash64.ofTokens(edited)) <= hamming(h, SimHash64.ofTokens(rewritten)) + 8
    }

  property("MinHashSig == independent hex-string computation of the KM spec") =
    // the same pin the single-token simhash property gives SimHash64:
    // an independent md5-HEX-STRING implementation (substring + parse,
    // exactly the oracle's conv(substring(md5(s), 1|14, 13), 16, 10))
    // must agree with the native byte-twiddling digest loop on every
    // signature position, for arbitrary token content incl. unicode
    Prop.forAll(Gen.chooseNum(3, 30).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.identifier.map(_.take(8)),
        Gen.nonEmptyListOf(Gen.oneOf('ü', '中', 'é', 'a', '7')).map(_.mkString))))) { ts =>
      val k = 12
      val expected = Array.fill(k)(Long.MaxValue)
      ts.sliding(3).filter(_.size == 3).foreach { w =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(w.mkString(" ").getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val h1 = java.lang.Long.parseLong(hex.substring(0, 13), 16)
        val h2 = java.lang.Long.parseLong(hex.substring(13, 26), 16)
        (0 until k).foreach(j => expected(j) = math.min(expected(j), h1 + j * h2))
      }
      graft.functions.MinHashSig.ofTokens(ts, k).contains(expected.toSeq)
    }

  property("TokenStats.compute == independent fold (count / distinct / stopwords)") =
    Prop.forAll(Gen.listOf(Gen.oneOf(
      Gen.oneOf(graft.ops.TextAnalysis.stopwords),
      Gen.identifier.map(_.take(6))))) { ts =>
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val row = graft.functions.TokenStats.compute(
        ArrayData.toArrayData(ts.map(UTF8String.fromString).toArray))
      row.getInt(0) == ts.size &&
        row.getInt(1) == ts.distinct.size &&
        row.getInt(2) == ts.count(graft.ops.TextAnalysis.stopwords.contains)
    }

  property("MinHashSig yields None below 3 tokens") =
    Prop.forAll(Gen.chooseNum(0, 2).flatMap(n =>
      Gen.listOfN(n, Gen.identifier.map(_.take(6))))) { ts =>
      graft.functions.MinHashSig.ofTokens(ts, 12).isEmpty
    }

  private val bytesGen: Gen[Array[Byte]] =
    Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))

  property("PixelStats.compute == independent fold (unsigned, complete triplets only)") =
    Prop.forAll(bytesGen) { bytes =>
      val row = graft.functions.PixelStats.compute(bytes)
      val n = bytes.length / 3
      val triplets = bytes.take(n * 3).map(_ & 0xff).grouped(3).toSeq
      row.getLong(0) == n.toLong &&
        row.getLong(1) == triplets.map(_(0).toLong).sum &&
        row.getLong(2) == triplets.map(_(1).toLong).sum &&
        row.getLong(3) == triplets.map(_(2).toLong).sum
    }

  property("PixelStats channel sums are bounded by 255 * n_pixels") =
    Prop.forAll(bytesGen) { bytes =>
      val row = graft.functions.PixelStats.compute(bytes)
      (1 to 3).forall(i => row.getLong(i) >= 0 && row.getLong(i) <= 255L * row.getLong(0))
    }

  property("md5hex is lowercase 32-hex") = Prop.forAll(Gen.alphaNumStr) { s =>
    val h = graft.evm.EvmDerive.md5hex(s)
    h.length == 32 && h.forall(c => "0123456789abcdef".contains(c))
  }

  property("lshParamsFor: constant occupancy, band growth, small-n default preserved") =
    Prop.forAll(Gen.chooseNum(0L, 100_000_000L)) { n =>
      val (nPlanes, b) = graft.ops.Similarity.lshParamsFor(n)
      val m = nPlanes / b
      val occupancyBounded = b == 32 || (1L << b) * 32 >= n // buckets keep up with n
      val notOverWide = b == 4 || (1L << (b - 1)) * 32 < n  // b is the SMALLEST such width
      val bandsTrackBits = m == math.max(4, 2 * b - 4)
      val smallNUnchanged = n > 512 || (nPlanes == 16 && b == 4) // historical default
      occupancyBounded && notOverWide && bandsTrackBits && smallNUnchanged
    }

  property("lshParamsFor is monotone in n (more data never narrows the bands)") =
    Prop.forAll(Gen.chooseNum(0L, 10_000_000L), Gen.chooseNum(0L, 10_000_000L)) { (a, c) =>
      val (lo, hi) = if (a <= c) (a, c) else (c, a)
      graft.ops.Similarity.lshParamsFor(lo)._2 <= graft.ops.Similarity.lshParamsFor(hi)._2
    }

  property("md5Unit is deterministic and in [-0.5, 0.5)") =
    Prop.forAll(Gen.alphaNumStr) { s =>
      val x = graft.ops.Similarity.md5Unit(s)
      x == graft.ops.Similarity.md5Unit(s) && x >= -0.5 && x < 0.5
    }

  property("parseRepairMarker: height alone defaults width to 1; pair round-trips; blank is None") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue / 2), Gen.chooseNum(1L, 1L << 40)) { (h, w) =>
      graft.ingest.ChainStore.parseRepairMarker(s"$h") == Some((h, 1L)) &&
      graft.ingest.ChainStore.parseRepairMarker(s"$h $w") == Some((h, w)) &&
      graft.ingest.ChainStore.parseRepairMarker("   ").isEmpty
    }

  property("SimChain U256 money columns are decimal strings (storage contract)") =
    Prop.forAll(Gen.chooseNum(0L, 100000L)) { n =>
      val b = graft.ingest.SimChain.blockOn(n, None)
      b.transactions.forall(t =>
        t.value.nonEmpty && t.value.forall(_.isDigit) &&
        t.gas_used.nonEmpty && t.gas_used.forall(_.isDigit))
    }

  /** A run of heights and the node faults inside it: flaky heights fail
    * their first block fetch once, missing heights are absent, and
    * receiptless heights have no receipts. */
  private val runGen = for {
    from <- Gen.chooseNum(0L, 40L)
    len <- Gen.chooseNum(1, 24)
    heights = from until from + len
    flakyEveryN <- Gen.oneOf(0L, 2L, 3L, 5L)
    missing <- Gen.someOf(heights)
    receiptless <- Gen.someOf(heights)
    forkAt <- Gen.option(Gen.chooseNum(0L, 64L))
    range <- Gen.oneOf(false, true)
    receiptConcurrency <- Gen.chooseNum(1, 12)
  } yield (graft.sources.ChainRunPartition(from, from + len - 1, range,
    graft.sources.SimFetcherConf(forkAt, flakyEveryN, missing.toSet, receiptless.toSet),
    maxRetries = 3, baseBackoffMs = 0L, receiptConcurrency))

  private lazy val decodeEnvelope = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[graft.ingest.SimChain.SimBlock]().resolveAndBind().createDeserializer()

  property("a run reader's envelopes == per-height ChainFetch.envelope, in height order") =
    Prop.forAll(runGen) { p =>
      import graft.sources.{ChainEnvelopeReader, ChainFetch}
      val want = {
        val f = p.conf.open()
        try (p.from to p.to).flatMap(n =>
          ChainFetch.envelope(f, n, p.maxRetries, p.baseBackoffMs, 1))
        finally f.close()
      }
      val reader = new ChainEnvelopeReader(p)
      val got =
        try Iterator.continually(reader.next()).takeWhile(identity).map(_ => decodeEnvelope(reader.get())).toVector
        finally reader.close()
      got == want
    }
}
