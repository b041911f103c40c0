package graft.ext

import scala.collection.mutable
import scala.util.Random

import graft.SparkSpec

/** Seeded cross-check of the distributed BPE trainer against an
  * independent single-threaded reference: random corpora over a small
  * alphabet maximize merge collisions, tie-breaks and the
  * shared-delimiter replace corner that fixture corpora rarely hit.
  * The reference mirrors the SPEC'D semantics (weighted pair argmax
  * with (score DESC, a ASC, b ASC) tie-break; leftmost non-overlapping
  * literal replace on the padded symbol string), not the engine's code
  * path — `String.replace` here IS the ground-truth leftmost
  * non-overlapping semantic the engine documents. */
class BpeFuzzSpec extends SparkSpec {
  import spark.implicits._

  private type Merge = (Int, String, String, String, Long)

  private def refTrain(corpus: Seq[String], rounds: Int)
      : (Seq[Merge], Map[String, String]) = {
    val counts = mutable.LinkedHashMap[String, Long]()
    corpus.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L)
    var reps: Seq[(String, String, Long)] = counts.toSeq.map { case (w, c) =>
      (w, " " + w.map(ch => s"$ch ").mkString, c)
    }
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairs = mutable.Map[(String, String), Long]()
      reps.foreach { case (_, rep, c) =>
        val syms = rep.trim.split(" ")
        (0 until syms.length - 1).foreach { i =>
          val k = (syms(i), syms(i + 1))
          pairs(k) = pairs.getOrElse(k, 0L) + c
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((a, b), total) = pairs.minBy { case ((a, b), t) => (-t, a, b) }
        merges += ((r, a, b, a + b, total))
        reps = reps.map { case (w, rep, c) =>
          (w, rep.replace(s" $a $b ", s" $a$b "), c)
        }
        r += 1
      }
    }
    (merges.result(), reps.map { case (w, rep, _) => (w, rep) }.toMap)
  }

  private def randomCorpus(rnd: Random): Seq[String] = {
    val alphabet = "abc"
    def word = (1 to (1 + rnd.nextInt(5)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 3).map(_ => (1 to (5 + rnd.nextInt(20))).map(_ => word).mkString(" "))
  }

  test("10 seeded random corpora: trainer matches the reference exactly") {
    (1 to 10).foreach { seed =>
      val corpus = randomCorpus(new Random(seed))
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = BpeTrainer.train(docs, "text", rounds = 6)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val (want, _) = refTrain(corpus, rounds = 6)
      assert(got === want, s"merge table diverged for seed $seed: $corpus")
    }
  }

  test("seeded corpora: segment counts match the reference vocabulary") {
    (11 to 15).foreach { seed =>
      val corpus = randomCorpus(new Random(seed))
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = BpeTrainer.segmentCounts(docs, "doc_id", "text", rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val (_, vocab) = refTrain(corpus, rounds = 4)
      val want = corpus.zipWithIndex.map { case (t, i) =>
        val ws = t.trim.split("\\s+").filter(_.nonEmpty)
        (i.toLong, ws.length.toLong,
          ws.map(w => vocab(w).trim.split(" ").length.toLong).sum)
      }
      assert(got === want, s"segment counts diverged for seed $seed")
    }
  }
}
