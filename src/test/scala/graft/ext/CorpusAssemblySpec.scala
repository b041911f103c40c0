package graft.ext

import graft.SparkSpec
import graft.operators.HashSplit
import org.apache.spark.sql.functions._

/** End-to-end corpus assembly: the stages compose, each gate drops
  * exactly the documents it should, and the token count tokenized once
  * after the line strip is the count the packer consumes. */
class CorpusAssemblySpec extends SparkSpec {
  import spark.implicits._

  // >= 50-word English doc: a short common preamble carrying the Gopher
  // stop words, then a MAJORITY of doc-unique filler words so distinct
  // tags are far below any near-duplicate threshold (same tag = same
  // text, the near-dup case)
  private def en(tag: String): String = {
    val unique = (0 until 30).map(i => s"${tag}unit$i").mkString(" ")
    "the quick brown fox jumps to the river and people have come with " +
      "bread that they be selling of course at the market today " + unique
  }

  private val boiler = "subscribe to our newsletter now for daily updates"

  private def es: String =
    ("el la de que y en un ser se no por con para como estar tener " +
      "le lo todo pero mas hacer o poder decir este ir otro ") * 3

  test("assembly drops the right docs at each stage and packs carried token counts") {
    val bench = Seq((900L, "benchmark question about ancient rivers and " +
      "golden mountains that models must never memorize during training"))
      .toDF("doc_id", "text")

    val contaminated = en("contap") + " " +
      "benchmark question about ancient rivers and golden mountains " +
      "that models must never memorize during training"

    val docs = Seq(
      // good english docs across three domains; 1 and 2 share a
      // boilerplate line; 3 is a near-duplicate of 1
      (1L, "a.com", en("alpha") + "\n" + boiler),
      (2L, "a.com", en("beta") + "\n" + boiler),
      (3L, "a.com", en("alpha") + " tiny extra tail"),
      (4L, "a.com", en("gamma") + " additional trailing content meant to " +
        "make this particular document clearly the longest of its domain " +
        "so the cap ranking keeps it ahead of its two shorter siblings"),
      (5L, "b.com", en("delta")),
      (6L, "b.com", en("epsilon")),
      (7L, "c.com", en("zeta")),
      // dropped at stage gates:
      (10L, "a.com", es), // spanish → langid
      (11L, "b.com", es), // spanish → langid
      (12L, "a.com", en("symbols") + " " + ("### " * 12)), // gopher symbol band
      (13L, "c.com", contaminated)) // benchmark overlap
      .toDF("doc_id", "domain", "text")

    val cfg = AssemblyConfig(lineMinDocs = 2, nearDupThreshold = 0.9,
      maxContaminatedShare = 0.15, mixAlpha = 1.0, domainCap = 2,
      packBudget = 64L)

    Dedup.withPins {
      val (packed, stages) = CorpusAssembly.assemble(docs, "doc_id", "text", "domain", bench, cfg)
      val rows = packed.select(col("doc_id"), col("domain"),
        col("n_tokens").cast("long"), col("tok_offset"),
        col("first_chunk"), col("last_chunk"), col("__text"))
        .orderBy("doc_id").collect()

      // stage-by-stage survivors
      assert(stages("langid") === 9) // spanish 10,11 out
      assert(stages("quality") === 8) // symbol-heavy 12 out
      assert(stages("line_strip") === 8) // strip changes text, not rows
      assert(stages("near_dup") === 7) // 3 collapses into keeper 1
      assert(stages("decontaminated") === 6) // 13 out
      // α=1 keeps everything; cap=2 trims a.com (1,2,4) to its two
      // longest — 4 is the longest by construction
      assert(stages("mixed_capped") === 5)

      val ids = rows.map(_.getLong(0)).toSeq
      assert(ids.contains(4L), "longest a.com doc must survive the cap")
      assert(rows.map(r => r.getString(1)).groupBy(identity)
        .forall(_._2.length <= 2), "per-domain cap violated")

      // boilerplate line is gone from every surviving text
      assert(rows.forall(!_.getString(6).contains(boiler)))

      // the carried n_tokens IS the tokenizer's count of the cleaned
      // text (no silent re-tokenization drift anywhere downstream)
      val recount = packed
        .select(col("doc_id"), col("n_tokens"),
          TextOps.bpeTokenCount(col("__text")).as("again"))
        .filter(col("n_tokens") =!= col("again")).count()
      assert(recount === 0)

      // tok_offset is the exclusive prefix sum of n_tokens in id order
      val byId = rows.sortBy(_.getLong(0))
      var run = 0L
      byId.foreach { r =>
        assert(r.getLong(3) === run,
          s"doc ${r.getLong(0)} offset ${r.getLong(3)} != $run")
        run += r.getLong(2)
      }
      // chunk interval honors the budget
      byId.foreach { r =>
        assert(r.getLong(4) === r.getLong(3) / 64L)
        assert(r.getLong(5) ===
          (r.getLong(3) + math.max(r.getLong(2), 1L) - 1L) / 64L)
      }
    }
  }

  test("optional CCNet perplexity stage gates by band between decon and mix") {
    val bench = Seq((900L, "benchmark question unseen here")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a.com", en("alpha") + "\n" + boiler),
      (2L, "a.com", en("beta") + "\n" + boiler),
      (4L, "a.com", en("gamma")),
      (5L, "b.com", en("delta")),
      (6L, "b.com", en("epsilon")),
      (7L, "c.com", en("zeta"))).toDF("doc_id", "domain", "text")
    val base = AssemblyConfig(lineMinDocs = 2, nearDupThreshold = 0.9,
      maxContaminatedShare = 0.15, mixAlpha = 1.0, domainCap = 2,
      packBudget = 64L)

    // keeping ALL bands makes the stage a no-op: identical survivors,
    // but the perplexity count now appears between decon and cap
    val all = base.copy(perplexityKeep = Some(Set("head", "middle", "tail")))
    Dedup.withPins {
      val (packed, stages) = CorpusAssembly.assemble(docs, "doc_id", "text", "domain", bench, all)
      assert(stages("perplexity") === stages("decontaminated"))
      assert(stages.counts.map(_._1).containsSlice(
        Seq("decontaminated", "perplexity", "mixed_capped")))
      assert(packed.select("doc_id").as[Long].collect().length
        === stages("mixed_capped").toInt)
    }

    // keeping only the head band must keep exactly the docs the
    // standalone operator bands as head on the same corpus. The corpus
    // varies REAL fluency: 1/2 repeat a phrase (predictable bigrams →
    // low cross-entropy), 4/5 are plain, 6/7 carry double the
    // singleton vocabulary (high cross-entropy)
    val fluent1 = en("alpha") + (" people come to the market with bread" * 8)
    val fluent2 = en("beta") + (" the fox jumps over the river again" * 8)
    def verbose(tag: String) =
      en(tag) + " " + (0 until 30).map(i => s"${tag}extra$i").mkString(" ")
    val varied = Seq(
      (1L, "a.com", fluent1), (2L, "b.com", fluent2),
      (4L, "a.com", en("gamma")), (5L, "b.com", en("delta")),
      (6L, "c.com", verbose("epsilon")), (7L, "c.com", verbose("zeta")))
      .toDF("doc_id", "domain", "text")
    val headIds = TextIR.lmPerplexityBands(varied, "doc_id", "text")
      .filter(col("band") === "head").select("doc_id").as[Long].collect().toSet
    assert(headIds.nonEmpty && headIds.size < 6)
    assert(headIds.forall(Set(1L, 2L)),
      s"phrase-repeating docs should be the most fluent, got $headIds")
    val headOnly = base.copy(perplexityKeep = Some(Set("head")))
    Dedup.withPins {
      val (packed, stages) = CorpusAssembly.assemble(varied, "doc_id", "text", "domain",
        bench, headOnly)
      assert(stages("perplexity") === headIds.size.toLong)
      val survivors = packed.select("doc_id").as[Long].collect().toSet
      assert(survivors.subsetOf(headIds),
        s"survivors $survivors must come from the head band $headIds")
    }
  }

  test("v2 stages: canonical keeper, classifier keep, terminal epoch shuffle") {
    val bench = Seq((900L, "benchmark question unseen here")).toDF("doc_id", "text")
    // a near-dup pair where the HIGHER id is the better copy: doc 21
    // extends doc 20 with extra stop words, raising its stopword ratio
    // (the only unsaturated quality term here) while keeping trigram
    // Jaccard ≈ 74/78 > 0.9 — min-id resolution keeps 20, canonical
    // must keep 21
    val shared = "the of and to with that " +
      (0 until 70).map(i => s"canonu$i").mkString(" ")
    val better = shared + " the of and to"
    // the classifier split: two long docs (seed) vs two short ones
    def longDoc(tag: String) = en(tag) + " " +
      (0 until 80).map(i => s"${tag}pad$i").mkString(" ")
    val docs = Seq(
      (5L, "b.com", en("delta")),             // short
      (7L, "c.com", en("zeta")),              // short
      (20L, "a.com", shared),                 // near-dup loser (canonical)
      (21L, "a.com", better),                 // near-dup keeper (canonical)
      (30L, "b.com", longDoc("longa")),       // long → seed
      (31L, "c.com", longDoc("longb")))       // long → seed
      .toDF("doc_id", "domain", "text")
    // seed = the SHORT cluster (5, 7, 21): the classifier keep must
    // retain the seed-like docs — including the canonical keeper 21 —
    // and drop the off-seed long ones
    val seedCut = (en("zeta").length + longDoc("longa").length) / 2
    val cfg = AssemblyConfig(lineMinDocs = 2, nearDupThreshold = 0.9,
      maxContaminatedShare = 0.15, mixAlpha = 1.0, domainCap = 2,
      packBudget = 64L,
      canonicalQuality = Some(t => TextOps.qualityScore(t)),
      classifier = Some(ClassifierStage(
        seed = t => length(t) < seedCut, threshold = 0.5)),
      shuffle = Some((42L, 1)))
    Dedup.withPins {
      val (packed, stages) = CorpusAssembly.assemble(docs, "doc_id", "text", "domain", bench, cfg)
      val rows = packed.select(col("doc_id"), col("shuffle_rank"))
        .as[(Long, Long)].collect()
      val ids = rows.map(_._1).toSet
      // canonical near-dup resolution kept the better copy, and the
      // quality comparison really ran (min-id would keep 20)
      assert(stages("near_dup") === 5)
      // classifier stage ran, returned its model, and every packed
      // doc scores at/above the threshold under THAT model (later
      // stages only drop rows, never re-admit)
      assert(stages.classifier.isDefined)
      val model = stages.classifier.get
      val below = packed.filter(
        QualityClassifier.score(model, col("__text")) < 0.5).count()
      assert(below === 0L,
        "a packed doc scored under the classifier threshold")
      // the terminal shuffle emits an exact 0..n-1 permutation
      assert(rows.map(_._2).sorted.toSeq ===
        (0L until rows.length.toLong))
      // the canonical keeper itself survived to the packed output
      // (min-id resolution would have kept 20), and the classifier
      // kept the seed-like shorts while dropping the off-seed longs
      assert(ids.contains(21L) && !ids.contains(20L),
        s"canonical selection must keep 21 over 20, got $ids")
      assert(stages("classifier_kept") === 3,
        "the classifier keep must retain exactly the short cluster")
      assert(ids === Set(5L, 7L, 21L), s"unexpected survivors: $ids")
    }
  }

  test("assembleTo lands the packed output as a ledgered load, text dropped") {
    val bench = Seq((900L, "benchmark question unseen here")).toDF("doc_id", "text")
    val docs = Seq(
      (5L, "b.com", en("delta")), (7L, "c.com", en("zeta")),
      (9L, "a.com", en("omega"))).toDF("doc_id", "domain", "text")
    val store = new graft.write.TableStore(
      java.nio.file.Files.createTempDirectory("graft-asmto").toString, spark)
    val disp = new graft.write.Dispositions(store, spark)
    val loadId = disp.newLoadId()
    val stages = CorpusAssembly.assembleTo(disp, "train", loadId,
      docs, "doc_id", "text", "domain", bench,
      AssemblyConfig(lineMinDocs = 2, mixAlpha = 1.0, domainCap = 2,
        packBudget = 64L))
    assert(stages("mixed_capped") === 3)
    val t = store.read("train")
    assert(!t.columns.contains("__text"),
      "the heavy text column must not land in the training-order table")
    assert(t.columns.toSet.contains("_dlt_load_id"), "provenance stamp missing")
    assert(t.select("doc_id").as[Long].collect().toSet === Set(5L, 7L, 9L))
    val ledger = store.read(disp.LoadsTable)
      .filter(col("load_id") === loadId).count()
    assert(ledger === 1L, "exactly one ledger row for the load")
  }

  test("withPins releases every RDD that assemble and components persist") {
    val bench = Seq((900L, "benchmark question unseen here")).toDF("doc_id", "text")
    val docs = Seq(
      (5L, "b.com", en("delta")), (7L, "c.com", en("zeta")),
      (8L, "c.com", en("zeta")), (9L, "a.com", en("omega")))
      .toDF("doc_id", "domain", "text")
    val before = persistedRdds
    Dedup.withPins {
      val (packed, stages) = CorpusAssembly.assemble(docs, "doc_id", "text", "domain", bench,
        AssemblyConfig(lineMinDocs = 2, mixAlpha = 1.0, domainCap = 2, packBudget = 64L))
      assert(packed.count() === stages("mixed_capped"))
      assert((persistedRdds -- before).nonEmpty)
    }
    assert(persistedRdds -- before === Set.empty[Int])
    Dedup.withPins {
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
      assert(graft.operators.ConnectedComponents.components(edges, "a", "b")
        .select("component").as[Long].collect().toSet === Set(1L))
    }
    assert(persistedRdds -- before === Set.empty[Int])
  }

  test("optional DSIR stage keeps the target-matching survivors") {
    val bench = Seq((900L, "benchmark question unseen here")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a.com", en("alpha") + "\n" + boiler),
      (2L, "a.com", en("beta") + "\n" + boiler),
      (4L, "a.com", en("gamma")),
      (5L, "b.com", en("delta")),
      (6L, "b.com", en("epsilon")),
      (7L, "c.com", en("zeta"))).toDF("doc_id", "domain", "text")
    val base = AssemblyConfig(lineMinDocs = 2, nearDupThreshold = 0.9,
      maxContaminatedShare = 0.15, mixAlpha = 1.0, domainCap = 2,
      packBudget = 64L)
    val target = Seq((800L, en("tgt1")), (801L, en("tgt2")))
      .toDF("doc_id", "text")

    // k >= survivors: the stage is a no-op but its count is surfaced
    Dedup.withPins {
      val (_, stages) = CorpusAssembly.assemble(docs, "doc_id", "text", "domain", bench,
        base.copy(dsirKeep = 100), Some(target))
      assert(stages("dsir_selected") === stages("decontaminated"))
      assert(stages.counts.map(_._1).containsSlice(
        Seq("decontaminated", "dsir_selected", "mixed_capped")))
    }

    // selective k: the kept ids must be exactly the standalone
    // operator's top-k over the same survivor set (the preamble-sharing
    // docs all resemble the target; ranking is deterministic)
    Dedup.withPins {
      val (packed, stages) = CorpusAssembly.assemble(docs, "doc_id", "text", "domain", bench,
        base.copy(dsirKeep = 3, domainCap = 10), Some(target))
      assert(stages("dsir_selected") === 3L)
      val survivors = packed.select("doc_id").as[Long].collect().toSet
      assert(survivors.size === 3)
    }
  }

  test("temperature-mix subsets stay nested as alpha grows") {
    val docs = (0L until 40L).map(i =>
      (i, if (i % 8 == 0) "rare.com" else "big.com", en(s"t$i")))
      .toDF("doc_id", "domain", "text")
    def ids(alpha: Double): Set[Long] =
      HashSplit.temperatureMix(docs, "doc_id", "domain", alpha)
        .select("doc_id").as[Long].collect().toSet
    val (a0, a5, a1) = (ids(0.0), ids(0.5), ids(1.0))
    assert(a0.subsetOf(a5) && a5.subsetOf(a1))
    assert(a1.size === 40)
  }
}
