package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.write.TableStore

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(Files.createTempDirectory("graft-incd").toString, spark)

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different text with no overlap here at all"),
    (3L, "spark engines shuffle data between executors by key")
  ).toDF("doc_id", "text")

  test("checkBatch finds near-dups of indexed docs without full rescan") {
    val store = freshStore()
    Dedup.withPins {
      IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text")
      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
        (11L, "some fresh unseen content about entirely new things")
      ).toDF("doc_id", "text")
      val pairs = IncrementalDedup.checkBatch(store, "c", batch, "doc_id", "text")
        .collect()
      assert(pairs.length === 1)
      assert(pairs.head.getAs[Long]("new_id") === 10L)
      assert(pairs.head.getAs[Long]("old_id") === 1L)
      assert(pairs.head.getAs[Double]("jaccard") === 1.0)
    }
  }

  test("appendBatch grows the index so later batches see earlier ones") {
    val store = freshStore()
    Dedup.withPins {
      IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text")
      val b1 = Seq((10L, "a brand new document about streaming joins today"))
        .toDF("doc_id", "text")
      assert(IncrementalDedup.checkBatch(store, "c", b1, "doc_id", "text").isEmpty)
      IncrementalDedup.indexCorpus(store, "c", b1, "doc_id", "text")
      val b2 = Seq((20L, "a brand new document about streaming joins today"))
        .toDF("doc_id", "text")
      val pairs = IncrementalDedup.checkBatch(store, "c", b2, "doc_id", "text")
        .select("new_id", "old_id").as[(Long, Long)].collect().toSeq
      assert(pairs === Seq((20L, 10L)))
    }
  }

  test("band table is candidate-bounded: clean batches verify nothing") {
    val store = freshStore()
    Dedup.withPins {
      IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text")
      val clean = Seq(
        (30L, "unrelated musings on compiler optimization passes"),
        (31L, "gardening advice for cold climates and short seasons")
      ).toDF("doc_id", "text")
      val out = IncrementalDedup.checkBatch(store, "c", clean, "doc_id", "text")
      assert(out.isEmpty)
    }
  }

  test("mismatched hash-space parameters fail loudly, never match nothing") {
    val store = freshStore()
    Dedup.withPins {
      IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text")
      val batch = Seq((10L, "anything at all")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        IncrementalDedup.checkBatch(store, "c", batch, "doc_id", "text",
          sig = MinHash(perms = 32))
      }
      assert(e.getMessage.contains("hash space"))
      val e2 = intercept[IllegalArgumentException] {
        IncrementalDedup.indexCorpus(store, "c", batch, "doc_id", "text",
          MinHash(n = 5))
      }
      assert(e2.getMessage.contains("hash space"))
    }
  }

  test("a first indexCorpus that fails mid-write still pins its hash space") {
    val store = freshStore()
    // the docs frame throws while the index writes it
    val failing = corpus.withColumn("text", when(assert_true(
      col("doc_id") < 0, lit("injected write failure")).isNull, col("text")))
    intercept[Exception] {
      IncrementalDedup.indexCorpus(store, "c", failing, "doc_id", "text")
    }
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text",
        MinHash(n = 5))
    }
    assert(e.getMessage.contains("hash space"))
  }

  test("MinHash: checking the odd ids against an index of the even ids = " +
      "Dedup.pairs restricted to odd x even") {
    val base = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "spark engines shuffle data between executors by key",
      "completely different text with no overlap here at all",
      "gardening advice for cold climates and short seasons")
    val docs = Seq(
      0L -> base(0), 1L -> (base(0) + " again"), 2L -> base(1),
      3L -> base(1), 4L -> base(2),
      5L -> "unrelated musings on compiler optimization passes",
      6L -> base(3), 7L -> base(3).replace("cold", "warm"), 8L -> base(0),
      9L -> "unrelated musings on compiler optimization passes"
    ).toDF("doc_id", "text")
    val ((selfCols, self), (checkCols, check)) = IncrementalDedupSpec
      .crossFace(freshStore(), docs, "doc_id", "text", MinHash(), 0.5)
    assert(checkCols === selfCols && checkCols === Seq("jaccard"))
    assert(check === self)
    assert(self.size >= 3, s"the fixture must pair across parity: $self")
  }

  test("SignBits: checking the odd ids against an index of the even ids = " +
      "Dedup.pairs restricted to odd x even") {
    val base = vecCorpus(10, 100, seed = 5L)
    val vecs = base.flatMap { case (i, v) =>
      Seq((2 * i, v), (2 * i + 1,
        if (i < 7) v.map(x => x * 1.01f + 0.004f) else vecCorpus(1, 100, 40L + i).head._2))
    }.toDF("vec_id", "embedding")
    val ((selfCols, self), (checkCols, check)) = IncrementalDedupSpec
      .crossFace(freshStore(), vecs, "vec_id", "embedding", SignBits(100, 9), 0.9)
    assert(checkCols === selfCols && checkCols === Seq("hamming", "cosine"))
    assert(check === self)
    assert(self.size >= 7, s"every twin must pair with its base: $self")
  }

  test("a checkBatch against a small index costs at most 11 Spark jobs") {
    val store = freshStore()
    IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "some fresh unseen content about entirely new things")
    ).toDF("doc_id", "text")
    // the index meta is read on the driver: building the plan runs no job
    val (_, planJobs) = countJobs(Dedup.withPins(
      IncrementalDedup.checkBatch(store, "c", batch, "doc_id", "text")))
    assert(planJobs === 0)
    val (pairs, jobs) = countJobs(Dedup.withPins(
      IncrementalDedup.checkBatch(store, "c", batch, "doc_id", "text")
        .select("new_id", "old_id").as[(Long, Long)].collect().toSeq))
    assert(pairs === Seq((10L, 1L)))
    assert(jobs <= 11, s"a checkBatch ran $jobs Spark jobs")
  }

  test("checkBatch re-spreads a batch only when it is not spread yet") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val store = freshStore()
    IncrementalDedup.indexCorpus(store, "c", corpus, "doc_id", "text")
    val local = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val width = spark.sparkContext.defaultParallelism
    val spread = spark.createDataFrame(local.repartition(width).rdd, local.schema)
    def respreads(batch: DataFrame) = Dedup.withPins(
      IncrementalDedup.checkBatch(store, "c", batch, "doc_id", "text")
        .queryExecution.analyzed.collectWithSubqueries {
          case r: Repartition if r.numPartitions == width => r
        }.nonEmpty)
    assert(respreads(local))
    assert(!respreads(spread))
  }

  // ---- embedding (sign-code Hamming) variant -----------------------------

  private def vecCorpus(n: Int, dim: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)((rng.nextDouble() - 0.5).toFloat)))
  }

  test("checkVectorBatch = brute force new x old under both contract filters") {
    val store = freshStore()
    Dedup.withPins {
      val base = vecCorpus(20, 100, seed = 3L) // 100 dims -> 2 packed words
      val baseDf = base.toDF("vec_id", "embedding")
      IncrementalDedup.indexCorpus(store, "emb", baseDf,
        "vec_id", "embedding", SignBits(100, 9))
      // batch: near-twins of half the corpus + fresh unrelated vectors
      val twins = base.take(10).map { case (i, v) =>
        (i + 100L, v.map(x => x * 1.01f + 0.004f)) }
      val fresh = vecCorpus(5, 100, seed = 99L).map { case (i, v) => (i + 500L, v) }
      val batch = twins ++ fresh
      // the meta is read on the driver: building the plan runs no job
      val (_, planJobs) = countJobs(IncrementalDedup.checkBatch(store, "emb",
        batch.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.9, sig = SignBits(100, 9)))
      assert(planJobs === 0)
      val got = IncrementalDedup.checkBatch(store, "emb",
          batch.toDF("vec_id", "embedding"), "vec_id", "embedding",
          threshold = 0.9, sig = SignBits(100, 9))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val expect = (for {
        (in, vn) <- batch; (io, vo) <- base
        h = vn.zip(vo).count { case (x, y) => (x > 0) != (y > 0) }
        dot = vn.zip(vo).map { case (x, y) => x.toDouble * y.toDouble }.sum
        na = math.sqrt(vn.map(x => x.toDouble * x).sum)
        nb = math.sqrt(vo.map(x => x.toDouble * x).sum)
        if h <= 9 && dot / (na * nb) >= 0.9
      } yield (in, io, h)).toSet
      assert(got === expect)
      assert(got.size >= 10, "every twin must find its base") // twins collide
    }
  }

  test("vector index appends grow the screen; tighter check budgets allowed") {
    val store = freshStore()
    Dedup.withPins {
      val base = vecCorpus(8, 64, seed = 7L)
      IncrementalDedup.indexCorpus(store, "emb", base.toDF("vec_id", "embedding"),
        "vec_id", "embedding", SignBits(64, 6))
      // append one more indexed vector, then a twin of IT must be found
      val extra = vecCorpus(1, 64, seed = 11L).map { case (_, v) => (50L, v) }
      IncrementalDedup.indexCorpus(store, "emb",
        extra.toDF("vec_id", "embedding"), "vec_id", "embedding", SignBits(64, 6))
      val twin = extra.map { case (i, v) =>
        (i + 100L, v.map(x => x * 1.01f + 0.002f)) }
      // budget 3 <= indexed 6: allowed, and recall still perfect within 3
      val got = IncrementalDedup.checkBatch(store, "emb",
          twin.toDF("vec_id", "embedding"), "vec_id", "embedding",
          threshold = 0.95, sig = SignBits(64, 3))
        .select("new_id", "old_id").as[(Long, Long)].collect().toSet
      assert(got.contains((150L, 50L)), s"twin of the appended vector: $got")
      got.foreach { case (n, _) => assert(n === 150L) }
    }
  }

  test("vector band-space mismatches fail loudly, never match nothing") {
    val store = freshStore()
    Dedup.withPins {
      val base = vecCorpus(4, 64, seed = 13L)
      IncrementalDedup.indexCorpus(store, "emb", base.toDF("vec_id", "embedding"),
        "vec_id", "embedding", SignBits(64, 4))
      // re-index at a different budget: refused (one band space per table)
      val e = intercept[IllegalArgumentException] {
        IncrementalDedup.indexCorpus(store, "emb",
          base.toDF("vec_id", "embedding"), "vec_id", "embedding",
          SignBits(64, 8))
      }
      assert(e.getMessage.contains("band space"), e.getMessage)
      // checking WIDER than indexed: refused (bands cannot guarantee it)
      val e2 = intercept[IllegalArgumentException] {
        IncrementalDedup.checkBatch(store, "emb",
          base.toDF("vec_id", "embedding"), "vec_id", "embedding",
          threshold = 0.9, sig = SignBits(64, 10))
      }
      assert(e2.getMessage.contains("indexed"), e2.getMessage)
      // checking an unindexed table: loud, not empty
      val e3 = intercept[IllegalArgumentException] {
        IncrementalDedup.checkBatch(store, "nosuch",
          base.toDF("vec_id", "embedding"), "vec_id", "embedding",
          threshold = 0.9, sig = SignBits(64, 2))
      }
      assert(e3.getMessage.contains("indexCorpus"), e3.getMessage)
    }
  }
}

object IncrementalDedupSpec {

  /** Both faces of `sig` over `frame`, as (measure column names, rows):
    * [[Dedup.pairs]] over all ids restricted to odd × even pairs, each
    * row as (odd, even, measures…), and a check of the odd ids against an
    * index of the even ids, each row as (new_id, old_id, measures…). */
  def crossFace(store: TableStore, frame: DataFrame, id: String, value: String,
      sig: Signature, threshold: Double)
      : ((Seq[String], Set[Seq[Any]]), (Seq[String], Set[Seq[Any]])) =
    Dedup.withPins {
      val self = Dedup.pairs(frame, id, value, sig, threshold)
      val selfRows = self.collect().map(_.toSeq).collect {
        case Seq(a: Long, b: Long, m @ _*) if (a + b) % 2 == 1 =>
          if (a % 2 == 1) Seq(a, b) ++ m else Seq(b, a) ++ m
      }.toSet
      IncrementalDedup.indexCorpus(store, "x", frame.filter(col(id) % 2 === 0),
        id, value, sig)
      val check = IncrementalDedup.checkBatch(store, "x",
        frame.filter(col(id) % 2 === 1), id, value, threshold, sig)
      ((self.columns.drop(2).toSeq, selfRows),
        (check.columns.drop(2).toSeq, check.collect().map(_.toSeq).toSet))
    }
}
