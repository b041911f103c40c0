package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.{hammingDist, packSignBits}

/** Binary (1-bit sign) quantization: pack kernel, Hamming kernel, and
  * the shortlist + exact-rerank composition in [[Similarity.binaryTopK]]. */
class BinaryQuantSpec extends SparkSpec {
  import spark.implicits._

  test("packSignBits sets bit i iff v(i) > 0, across word boundaries") {
    // 70 dims -> 2 words; positives at 0, 63 (word-0 MSB), 64, 69
    val v = Array.fill(70)(-1.0f)
    Seq(0, 63, 64, 69).foreach(i => v(i) = 2.5f)
    v(5) = 0.0f   // zero is NOT positive
    v(6) = -0.0f  // negative zero is NOT positive
    val out = Seq(Tuple1(v)).toDF("v")
      .select(packSignBits($"v").as("code")).as[Seq[Long]].head()
    assert(out.length === 2)
    assert(out(0) === ((1L << 0) | (1L << 63)))
    assert(out(1) === ((1L << 0) | (1L << 5)))
  }

  test("hammingDist = popcount of xor, zero on self, symmetric") {
    val df = Seq(
      (Array(0L, -1L), Array(0L, -1L), 0L),
      (Array(5L), Array(3L), 2L),                       // 101 vs 011
      (Array(1L << 63, 0L), Array(0L, 0L), 1L),         // sign-bit word
      (Array(-1L, -1L), Array(0L, 0L), 128L)
    ).toDF("a", "b", "want")
    val got = df.select(hammingDist($"a", $"b").as("h"), $"want",
      hammingDist($"b", $"a").as("hs")).collect()
    got.foreach { r =>
      assert(r.getLong(0) === r.getLong(1))
      assert(r.getLong(2) === r.getLong(1))
    }
  }

  test("hamming over packed codes = count of disagreeing sign bits (random)") {
    val rnd = new scala.util.Random(7L)
    val vecs = Seq.tabulate(30)(i =>
      (i.toLong, Array.fill(100)((rnd.nextDouble() - 0.5).toFloat)))
    val df = vecs.toDF("id", "v")
    val pairs = df.as("a").join(df.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        hammingDist(packSignBits($"a.v"), packSignBits($"b.v")).as("h"))
      .collect()
    val byId = vecs.toMap
    pairs.foreach { r =>
      val (a, b) = (byId(r.getLong(0)), byId(r.getLong(1)))
      val want = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
      assert(r.getLong(2) === want.toLong, s"pair ${r.getLong(0)},${r.getLong(1)}")
    }
  }

  test("binaryTopK with rerank >= corpus degrades to exact brute force") {
    val rnd = new scala.util.Random(11L)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(vecs, qs, "vec_id", "embedding", k = 4)
      .select("query_id", "rank", "match_id", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    val bq = Similarity.binaryTopK(vecs, qs, "vec_id", "embedding",
      k = 4, rerank = 40)
      .select("query_id", "rank", "match_id", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    assert(bq === exact)
  }

  test("shortlist is (hamming asc, match_id asc) and bounds the rerank set") {
    // corpus engineered so hamming ranking differs from cosine ranking:
    // query all-positive; m1 sign-agrees everywhere but tiny magnitudes
    // (low cosine), m2 disagrees on 2 dims but aligned magnitudes.
    val q = Array.fill(8)(1.0f)
    val m1 = Array.fill(8)(0.01f); m1(0) = 5.0f
    val m2 = Array.fill(8)(1.0f); m2(6) = -1.0f; m2(7) = -1.0f
    val m3 = Array.fill(8)(-1.0f) // hamming 8, never shortlisted at rerank=2
    val corpus = Seq((10L, m1), (11L, m2), (12L, m3)).toDF("vec_id", "embedding")
    val queries = Seq((0L, q)).toDF("vec_id", "embedding")
    val got = Similarity.binaryTopK(corpus, queries, "vec_id", "embedding",
      k = 2, rerank = 2)
      .select("rank", "match_id", "hamming").orderBy("rank").collect()
    // shortlist = {m1 (h=0), m2 (h=2)}; rerank puts m2 (cosine ~0.87)
    // above m1 (cosine ~0.36); m3 excluded despite existing
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((11L, 2L), (10L, 0L)))
  }

  test("binaryTopK rejects rerank < k") {
    val df = Seq((0L, Array(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.binaryTopK(df, df, "vec_id", "embedding", k = 5, rerank = 3)
    }
  }

  test("embeddingHammingPairs = brute force under BOTH contract filters") {
    // deterministic 16-dim unit-ish vectors + a near-twin of each
    val rng = new scala.util.Random(11)
    val base = (0L until 30L).map(i =>
      (i, Array.fill(16)((rng.nextDouble() - 0.5).toFloat)))
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x * 1.01f + 0.003f)) }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val got = Dedup.pairs(corpus, "vec_id", "embedding", SignBits(16, 4),
        threshold = 0.95)
      .select("id_a", "id_b", "hamming", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: every pair, both filters applied exactly
    val all = (base ++ twins)
    val expect = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      h = va.zip(vb).count { case (x, y) => (x > 0) != (y > 0) }
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
      if h <= 4 && dot / (na * nb) >= 0.95
    } yield (ia, ib, h)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "the twin construction must produce pairs")
    // every base/twin pair found (hamming tiny by construction)
    assert(base.map { case (i, _) => (i, i + 1000L) }
      .count(p => got.exists(g => (g._1, g._2) == p)) >= 25)
  }

  test("embeddingHammingPairs raises on a row whose width != declared dim") {
    val wide = Seq((0L, Array.fill(65)(1.0f)), (1L, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Dedup.pairs(wide, "vec_id", "embedding", SignBits(64, 4),
        threshold = 0.9).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("declared dim")), msgs(e).mkString(" | "))
  }

  test("embeddingHammingPairs multi-word (dim > 64) = brute force, " +
      "incl. maxHamming spanning several words") {
    // 100 dims -> 2 packed words; twins flip a handful of sign bits
    val rng = new scala.util.Random(23)
    val base = (0L until 25L).map(i =>
      (i, Array.fill(100)((rng.nextDouble() - 0.5).toFloat)))
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x * 1.01f + 0.004f)) }
    val all = base ++ twins
    val corpus = all.toDF("vec_id", "embedding")
    // maxHamming 9, dim 100 -> SignBits allocates 7 bands to word 0
    // (64 real bits) + 4 to word 1 (36 real bits) = 11 disjoint bands
    val got = Dedup.pairs(corpus, "vec_id", "embedding", SignBits(100, 9),
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expect = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      h = va.zip(vb).count { case (x, y) => (x > 0) != (y > 0) }
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
      if h <= 9 && dot / (na * nb) >= 0.9
    } yield (ia, ib, h)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "the twin construction must produce pairs")
    // recall sanity: candidates whose sign flips straddle BOTH words
    // are still found (the per-word banding covers the whole code)
    assert(expect.exists(_._3 >= 2), "want a pair with flips in-range")
  }

  test("embeddingHammingPairs rejects maxHamming >= dim") {
    val df = Seq((0L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Dedup.pairs(df, "vec_id", "embedding", SignBits(8, 8), threshold = 0.9)
    }
  }

  test("packSignBits and graft_hamming raise on NULL array elements") {
    val df = Seq(Tuple1(Seq(Some(1.0f), None, Some(-1.0f))))
      .toDF("v")
    val e = intercept[Exception] {
      df.select(packSignBits($"v")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("NULL array element")), msgs(e).mkString(" | "))
    // the Hamming kernel on schema-nullable words exercises the
    // null-guarded codegen branch (emitted only when containsNull)
    val codes = Seq((Seq(Some(1L), None), Seq(Some(1L), Some(2L))))
      .toDF("a", "b")
    val h = intercept[Exception] {
      codes.select(graft.functions.VectorFunctions.hammingDist($"a", $"b"))
        .collect()
    }
    assert(msgs(h).exists(_.contains("NULL array element")), msgs(h).mkString(" | "))
    // and non-null rows under the SAME nullable schema still compute
    val ok = Seq((Seq(Some(1L), Some(4L)), Seq(Some(1L), Some(2L))))
      .toDF("a", "b")
      .select(graft.functions.VectorFunctions.hammingDist($"a", $"b").as("h"))
      .as[Long].head()
    assert(ok === 2L) // 4 xor 2 = 6 -> two bits
  }

  test("wordBands: >= maxHamming+1 disjoint bands, all within REAL bits, " +
      "at every dim incl. dim mod 64 != 0") {
    // the grid includes the degenerate-band landmines: dim=72/mh=8
    // (last word holds 8 real bits; a fixed per-word split would cut
    // bands wholly past them -> one shared all-zero band key -> the
    // candidate equi-join degenerates to all-pairs) and dim=100/mh=9
    // (word 1 holds 36 real bits under 5 fixed 12-bit blocks)
    val grid = for {
      dim <- Seq(1, 8, 63, 64, 65, 72, 100, 128, 130, 768)
      mh <- Seq(0, 1, 3, 8, 9, 31, 63, 100).filter(_ < dim)
    } yield (dim, mh)
    grid.foreach { case (dim, mh) =>
      val bands = SignBits.wordBands(dim, mh)
      assert(bands.size >= mh + 1,
        s"dim=$dim mh=$mh: ${bands.size} bands < ${mh + 1} — pigeonhole broken")
      bands.groupBy(_.widx).foreach { case (w, bs) =>
        val realBits = math.min(64, dim - 64 * w)
        bs.foreach { b =>
          val bw = java.lang.Long.bitCount(b.mask)
          assert(bw >= 1, s"dim=$dim mh=$mh w=$w: empty band")
          assert(b.shift + bw <= realBits,
            s"dim=$dim mh=$mh w=$w blk=${b.blk}: band [${b.shift}, " +
              s"${b.shift + bw}) spills past the $realBits real bits — " +
              "an always-zero band key would collapse the join to all-pairs")
        }
        // disjoint within the word: covered bit positions never overlap
        val covered = bs.flatMap(b =>
          (0 until java.lang.Long.bitCount(b.mask)).map(_ + b.shift))
        assert(covered.distinct.size === covered.size,
          s"dim=$dim mh=$mh w=$w: overlapping bands")
      }
    }
  }

  test("embeddingHammingPairs at dim=72 (8 real bits in the last word) " +
      "= brute force, with non-degenerate banding") {
    val rng = new scala.util.Random(31)
    val base = (0L until 20L).map(i =>
      (i, Array.fill(72)((rng.nextDouble() - 0.5).toFloat)))
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x * 1.01f + 0.004f)) }
    val all = base ++ twins
    val got = Dedup.pairs(all.toDF("vec_id", "embedding"),
        "vec_id", "embedding", SignBits(72, 8), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expect = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      h = va.zip(vb).count { case (x, y) => (x > 0) != (y > 0) }
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
      if h <= 8 && dot / (na * nb) >= 0.9
    } yield (ia, ib, h)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "the twin construction must produce pairs")
    // candidate volume stays band-bounded: random 72-dim sign codes
    // under 9 bands must NOT bucket everything together (the old
    // fixed-split banding emitted an identical all-zero band key for
    // blocks past the last word's 8 real bits -> all-pairs candidates)
    val banded = SignBits(72, 8).banded(
      all.toDF("vec_id", "embedding")
        .select($"vec_id".as("_id"),
          packSignBits($"embedding").as("code")))
      .groupBy("widx", "blk", "blk_val").count()
      .agg(max("count")).as[Long].head()
    assert(banded < all.size,
      s"a single band key holds all $banded rows — degenerate banding")
  }
}
