package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions

/** Product quantization (Jégou/Douze/Schmid 2011, "Product
  * quantization for nearest neighbor search") — the codec between
  * scalar SQ8 ([[Quantize]]) and the IVF collection
  * ([[graft.write.VectorSink]]): split each d-dim vector into `m`
  * subvectors, k-means each subspace independently, and store only the
  * m centroid ids — d·32 bits collapse to m·log₂(ksub), an
  * order-of-magnitude beyond SQ8's fixed 4×.
  *
  * Scale shape:
  *  - TRAIN: all m subspaces train in ONE distributed aggregate per
  *    Lloyd round — the melt keys partials by (subspace, cluster,
  *    coord), so the shuffle carries partitions × m × ksub × (d/m) =
  *    partitions × ksub × d rows regardless of corpus size, and the
  *    driver sync is the codebook itself (the algorithm's inherent
  *    sequential dependency, same as [[Clustering]]).
  *  - ENCODE: map-only — per subspace a broadcast-literal argmin
  *    (the [[Clustering.assign]] discipline), no join, no shuffle.
  *  - ADC SEARCH: reconstruct-from-codes is a map-only
  *    `element_at(codebook_literal, code)` concat (codegen'd
  *    built-ins), then the shared shortlist/re-rank tail
  *    ([[Quantize.shortlistRerank]]) — the full-precision vectors ride
  *    only the shortlist point-reads, never the scan.
  *
  * Cross-engine determinism (the oracle re-derives every code):
  * first-k-by-id init per subspace, first-minimum tie-break, decimal
  * pre-summed centroid means — the [[Clustering]] contract applied per
  * subspace. */
object Pq {

  /** Trained codebooks: `codebooks(j)(c)` = centroid c of subspace j,
    * each of width d/m. */
  final case class PqModel(m: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]])

  private def subCol(vec: Column, j: Int, dsub: Int): Column =
    slice(vec, j * dsub + 1, dsub)

  /** Train m × ksub codebooks with `iters` Lloyd rounds; `ksub` ≤ 64
    * (the broadcast-literal argmin band — PQ codebooks are 8-bit by
    * construction, so ksub ≤ 256; a larger band would switch to the
    * [[graft.functions.CentroidArgMin]] matrix path per subspace). */
  def train(vecs: DataFrame, id: String, vec: String,
      m: Int, ksub: Int, iters: Int): PqModel = Dedup.withPins {
    require(ksub >= 1 && ksub <= 64, "ksub in [1, 64]")
    require(iters >= 1, "at least one round")
    val v = Dedup.pin(vecs.select(col(id).as("__id"),
      col(vec).cast("array<double>").as("__e")))
    // headOption, not head(): an empty corpus must fail with the
    // explicit message below, not head()'s NoSuchElementException
    val d = v.select(size(col("__e"))).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("empty vector input"))
    require(d % m == 0, s"dim $d must split into $m even subspaces")
    val dsub = d / m
    // init: subvectors of the ksub lowest-id vectors — the same rows
    // seed every subspace, so each subspace's init is "first-k by id"
    // (the oracle's per-subspace c0)
    var books: Array[Array[Array[Double]]] =
      v.orderBy("__id").limit(ksub).collect()
        .map(_.getSeq[Double](1).toArray)
        .map(full => Array.tabulate(m)(j =>
          full.slice(j * dsub, (j + 1) * dsub)))
        .transpose.map(_.toArray)
    require(books.nonEmpty && books(0).nonEmpty, "empty vector input")

    def argminDs(j: Int): Column =
      array(books(j).toIndexedSeq.map(c =>
        VectorFunctions.sqDist(subCol(col("__e"), j, dsub),
          typedLit(c.toSeq))): _*)

    for (_ <- 1 to iters) {
      // ONE aggregate for all m subspaces: melt (sub, cl, subvec).
      // The m×ksub literal-distance argmins are computed in UPSTREAM
      // projections (one __ds/__cl column per subspace), NOT inline in
      // the explode argument: Spark splits oversized expressions into
      // methods for Project, but not inside Generate's consume path —
      // a melt carrying all m·ksub sqdist literals in the struct array
      // blows the generated method past janino's limit at m=8/ksub=16
      // and silently drops the whole train pass to interpreted mode
      // (the `ERROR CodeGenerator … generate_doConsume_0` fallback).
      val withCl = v
        .select(col("__e") +: (0 until m).map(j =>
          argminDs(j).as(s"__ds$j")): _*)
        .select(col("__e") +: (0 until m).map(j =>
          (array_position(col(s"__ds$j"), array_min(col(s"__ds$j"))) - 1)
            .cast("int").as(s"__cl$j")): _*)
      val structs = array((0 until m).map { j =>
        struct(lit(j).as("sub"), col(s"__cl$j").as("cl"),
          subCol(col("__e"), j, dsub).as("sv"))
      }: _*)
      val stats = withCl.select(explode(structs).as("t"))
        .select(col("t.sub"), col("t.cl"),
          posexplode(col("t.sv")).as(Seq("__i", "__x")))
        .groupBy("sub", "cl", "__i")
        .agg(sum(col("__x").cast(DecimalType(28, 12))).as("__s"),
          count(lit(1)).as("__n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDecimal(3).doubleValue / r.getLong(4)
      }
      books = next
    }
    PqModel(m, dsub, books)
  }

  /** Map-only encode: (id, codes array<int> of length m, recon_err) —
    * recon_err is the euclidean distance between the vector and its
    * codebook reconstruction (√Σⱼ d²ⱼ), rounded to 6: the corpus-level
    * quality dial, like [[Quantize.int8]]'s max_err. */
  def encode(vecs: DataFrame, id: String, vec: String,
      model: PqModel): DataFrame = {
    val e = col(vec).cast("array<double>")
    val parts = (0 until model.m).map { j =>
      val ds = array(model.codebooks(j).toIndexedSeq.map(c =>
        VectorFunctions.sqDist(subCol(e, j, model.dsub),
          typedLit(c.toSeq))): _*)
      val dmin = array_min(ds)
      struct(((array_position(ds, dmin)) - 1).cast("int").as("cl"),
        dmin.as("d"))
    }
    vecs.select(col(id), array(parts: _*).as("__p"))
      .select(col(id),
        transform(col("__p"), p => p("cl")).as("codes"),
        round(sqrt(aggregate(col("__p"), lit(0.0d),
          (acc, p) => acc + p("d"))), 6).as("recon_err"))
  }

  /** The codes column alone (array<int>, length m) — for callers that
    * carry extra columns through the map (the IVF-PQ sink keeps
    * `__list` alongside). Same argmin/tie-break as [[encode]]. */
  def codes(vec: Column, model: PqModel): Column = {
    val e = vec.cast("array<double>")
    array((0 until model.m).map { j =>
      val ds = array(model.codebooks(j).toIndexedSeq.map(c =>
        VectorFunctions.sqDist(subCol(e, j, model.dsub),
          typedLit(c.toSeq))): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }: _*)
  }

  /** The codebook reconstruction of a codes column: concat of
    * `element_at(codebook_j, code_j + 1)` — all codegen'd built-ins,
    * the codebooks ride the plan as literals. */
  def reconstruction(codes: Column, model: PqModel): Column =
    concat((0 until model.m).map(j =>
      element_at(
        typedLit(model.codebooks(j).map(_.toSeq).toSeq),
        element_at(codes, j + 1) + 1)): _*)

  /** ADC top-k: score every corpus vector against each query on its
    * CODE RECONSTRUCTION (the scan reads m bytes per vector, not d
    * floats), shortlist, then exact re-rank of only the shortlist's
    * full-precision vectors — the shared [[Quantize.shortlistRerank]]
    * tail, so tie-breaks match the proven oracle shape. */
  def adcTopK(vecs: DataFrame, id: String, vec: String,
      queries: DataFrame, model: PqModel, k: Int,
      shortlist: Int): DataFrame = {
    val codes = encode(vecs, id, vec, model)
      .select(col(id).as("match_id"), col("codes"))
      .withColumn("__deq", reconstruction(col("codes"), model))
      .drop("codes")
    val q = broadcast(queries.select(col(id).as("query_id"),
      col(vec).cast("array<double>").as("__qv")))
    Quantize.shortlistRerank(
      codes.join(q, col("query_id") =!= col("match_id")),
      vecs, id, vec, k, shortlist)
  }

  // ---- oracle ------------------------------------------------------------

  /** DuckDB re-derivation of [[encode]] over `embeddings(vec_id,
    * embedding)`: m independent subspace k-means (shared
    * [[Clustering.stagesSql]] with namespaced CTEs + list slicing),
    * codes in subspace order, recon_err = √Σ d²ⱼ. Codes are emitted
    * comma-joined (the pandas-sortable gate convention). */
  def encodeOracleSql(dim: Int, m: Int, ksub: Int, iters: Int): String = {
    require(dim % m == 0)
    val dsub = dim / m
    val stages = (0 until m).map { j =>
      Clustering.stagesSql(ksub, iters, ns = s"s${j}_",
        vecExpr = s"(embedding::DOUBLE[])[${j * dsub + 1}:${(j + 1) * dsub}]",
        dim = dsub)
    }.mkString(",\n")
    val joins = (0 until m).map(j =>
      s"JOIN s${j}_a${iters + 1} s$j USING (vec_id)").mkString("\n")
    val codeList = (0 until m).map(j => s"s$j.cl").mkString(", ")
    // the engine sums the winning SQUARED subspace distances in
    // subspace order — d2 is carried exact from the assign stage (no
    // sqrt-then-square double rounding)
    val errSum = (0 until m).map(j => s"s$j.d2").mkString(" + ")
    s"""WITH $stages
       |SELECT vec_id,
       |  array_to_string([$codeList], ',') AS codes,
       |  round(sqrt($errSum), 6) AS recon_err
       |FROM (SELECT DISTINCT vec_id FROM embeddings) v
       |$joins
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB re-derivation of [[adcTopK]]: the same per-subspace
    * stages, reconstruction by centroid-list concat, then the ADC
    * shortlist + exact re-rank (the [[Quantize.RerankOracleSql]]
    * tail). */
  def adcOracleSql(dim: Int, m: Int, ksub: Int, iters: Int,
      k: Int, shortlist: Int, maxQueryId: Int): String =
    adcOracleSqlOver("TRUE", dim, m, ksub, iters, k, shortlist, maxQueryId)

  /** The PQ-reconstruction CTE chain — per-subspace deterministic
    * k-means trainings plus a `deq` CTE giving each `corpusWhere`
    * vector's code reconstruction: the shared fragment behind
    * [[adcOracleSqlOver]] (ADC probe replay) and the ADC
    * dedup-on-ingest gate's screen replay (composed with the shared
    * membership skeleton in the query layer). No leading `WITH`;
    * callers splice it into their own chain. */
  def deqCtesSql(corpusWhere: String, dim: Int, m: Int, ksub: Int,
      iters: Int): String = {
    require(dim % m == 0)
    val sub = dim / m
    val stages = (0 until m).map { j =>
      Clustering.stagesSql(ksub, iters, ns = s"s${j}_",
        vecExpr = s"(embedding::DOUBLE[])[${j * sub + 1}:${(j + 1) * sub}]",
        dim = sub, where = corpusWhere)
    }.mkString(",\n")
    val joins = (0 until m).map(j =>
      s"JOIN s${j}_a${iters + 1} s$j USING (vec_id)").mkString("\n  ")
    val recon = (0 until m).map(j => s"sc$j.c").mkString(" || ")
    val reconJoins = (0 until m).map(j =>
      s"JOIN s${j}_c$iters sc$j ON sc$j.cl = s$j.cl").mkString("\n  ")
    // deq joins every subspace's assignment + codebook chain — inlined
    // it would re-evaluate each training tree per reference (see the
    // MATERIALIZED note in [[Clustering.stagesSql]])
    s"""$stages,
       |deq AS MATERIALIZED (
       |  SELECT vec_id, $recon AS deq
       |  FROM (SELECT DISTINCT vec_id FROM embeddings
       |        WHERE $corpusWhere) vv
       |  $joins
       |  $reconJoins)""".stripMargin
  }

  /** [[adcOracleSql]] with a corpus predicate — the PQ generation-probe
    * gate replays the SAME chain (per-subspace trainings, codes, ADC
    * shortlist, exact re-rank) over the SUBSET the pinned historical
    * model was trained on, mirroring
    * [[Quantize.rerankOracleSqlOver]]. Queries and the re-rank corpus
    * are restricted too: a generation probe sees only that
    * generation's pinned corpus. */
  def adcOracleSqlOver(corpusWhere: String, dim: Int, m: Int, ksub: Int,
      iters: Int, k: Int, shortlist: Int, maxQueryId: Int): String = {
    s"""WITH ${deqCtesSql(corpusWhere, dim, m, ksub, iters)},
       |full_e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings WHERE $corpusWhere),
       |approx AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |    list_cosine_similarity(q.v, c.deq) AS adc
       |  FROM full_e q JOIN deq c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $maxQueryId),
       |short AS (
       |  SELECT query_id, match_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY adc DESC, match_id) AS ar
       |  FROM approx),
       |exact AS (
       |  SELECT s.query_id, s.match_id,
       |    list_cosine_similarity(q.v, c.v) AS cs
       |  FROM short s
       |  JOIN full_e q ON q.vec_id = s.query_id
       |  JOIN full_e c ON c.vec_id = s.match_id
       |  WHERE s.ar <= $shortlist)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY cs DESC, match_id) AS rank,
       |  match_id, round(cs, 6) AS cosine
       |FROM exact
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }
}
