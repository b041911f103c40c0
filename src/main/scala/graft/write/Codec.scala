package graft.write

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** How a [[VectorSink]] collection stores its corpus rows — the FAISS
  * `index_factory` string as a value: the caller picks a codec once, at
  * [[VectorSink.writeIvf]], and every later reader works it out from the
  * collection (one `topK`, one `appendDeduped`, one `rebalance`).
  *
  *  - [[Codec.Flat]]   (`cosine`)     — the vectors themselves;
  *  - [[Codec.Sq8]]    (`cosine-sq8`) — INT8 codes + per-dimension
  *    (mins, maxs) in `t__sq_stats` (FAISS IVF-SQ8);
  *  - [[Codec.Binary]] (`hamming-bq`) — ⌈dim/64⌉ packed sign words, no
  *    model tables (FAISS BIVF);
  *  - [[Codec.Pq]]     (`cosine-pq`)  — m-byte product codes +
  *    `t__pq_codebooks` / `t__pq_meta` (Jégou'11 IVFADC);
  *  - [[Codec.Opq]]    (`cosine-opq`) — PQ in the space of a learned
  *    rotation kept in `t__opq_rotation` (Ge et al. 2013; FAISS
  *    `OPQm,IVFx,PQy`).
  *
  * The metric strings are the persisted form (`t__ivf_meta.metric`, the
  * `metric` column of [[VectorSink.describeCollection]]); this file is
  * the only place that maps between them and codecs. */
sealed abstract class Codec(val metric: String) {

  /** Whether rows keep their vectors. Such a collection probes, screens
    * and rebalances from its own rows; the others store lossy codes and
    * need the caller's full-precision corpus for the exact re-rank and
    * for retraining. */
  final def storesVectors: Boolean = this == Codec.Flat

  /** Fit this codec's model on `corpus` and write its model tables —
    * the first step of every full rewrite. The returned model encodes
    * the rewrite's rows. */
  private[write] def fit(store: TableStore, table: String, corpus: DataFrame,
      id: String, vec: String): Codec.Model
}

object Codec {
  import TinyParquet.{Cell, SCell, ICell, DCell}

  case object Flat extends Codec("cosine") {
    private[write] def fit(store: TableStore, table: String,
        corpus: DataFrame, id: String, vec: String): Model = Model.Flat
  }

  case object Sq8 extends Codec("cosine-sq8") {
    private[write] def fit(store: TableStore, table: String,
        corpus: DataFrame, id: String, vec: String): Model = {
      store.overwrite(s"${table}__sq_stats",
        graft.ext.Quantize.dimStats(corpus, vec))
      Model.Sq8(store.read(s"${table}__sq_stats"))
    }
  }

  /** Sign codes are data-independent: appends never drift against a
    * trained code model, only against the coarse centroids. */
  case object Binary extends Codec("hamming-bq") {
    private[write] def fit(store: TableStore, table: String,
        corpus: DataFrame, id: String, vec: String): Model = Model.Binary
  }

  /** m subspaces × ksub centroids, `iters` Lloyd rounds — the
    * deterministic [[graft.ext.Pq]] contract, so a probe with
    * `nprobe = nlist` is oracle-exact. */
  final case class Pq(m: Int = 4, ksub: Int = 16, iters: Int = 2)
      extends Codec("cosine-pq") {
    private[write] def fit(store: TableStore, table: String,
        corpus: DataFrame, id: String, vec: String): Model = {
      val model = graft.ext.Pq.train(corpus, id, vec, m, ksub, iters)
      savePq(store, table, m, ksub, iters, model)
      Model.Pq(this, model)
    }
  }

  /** The whole PQ layout built in rotated space: rotated coarse
    * centroids, rotated-subspace codebooks, codes of rotated vectors.
    * The rotation is orthogonal, so cosine ranking is preserved. */
  final case class Opq(m: Int = 4, ksub: Int = 16, iters: Int = 2)
      extends Codec("cosine-opq") {
    private[write] def fit(store: TableStore, table: String,
        corpus: DataFrame, id: String, vec: String): Model = {
      // Opq.train takes `dim` as a parameter, so the width must
      // resolve BEFORE any other corpus pass
      val dim = uniformDim(corpus, vec, table)
      val model = graft.ext.Opq.train(corpus, id, vec, dim, m, ksub, iters)
      savePq(store, table, m, ksub, iters, model.pq)
      // Double.toString → correctly-rounded parse restores identical bits
      val rotRows = model.rotation.indices.map(i => Seq(
        "i" -> (ICell(i): Cell),
        "lam" -> (DCell(model.spectrum(i)): Cell),
        "row" -> (SCell(model.rotation(i).mkString(",")): Cell)))
      store.overwriteDriverFile(s"${table}__opq_rotation")(p =>
        TinyParquet.write(p, rotRows))
      Model.Opq(this, model)
    }
  }

  /** A codec's trained model as one generation pins it. Rows go in
    * through [[rotate]] then [[encode]]; probes and screens read them
    * back through [[reconstruct]]. */
  sealed trait Model {
    def codec: Codec

    /** `df`'s vectors in the space the codes live in — OPQ's rotation
      * (keeping `id` and `vec` only), the identity otherwise. */
    def rotate(df: DataFrame, id: String, vec: String): DataFrame = df

    /** The stored row of each `assigned` (rotated, `__list`-carrying)
      * row. */
    def encode(assigned: DataFrame, id: String, vec: String): DataFrame

    /** (`id`, `__list`, `out`) with the vector each stored row stands
      * for: the row's own vector for Flat, the code reconstruction (in
      * code space) for SQ8/PQ/OPQ — the quantity ADC ranks on. */
    def reconstruct(corpus: DataFrame, id: String, vec: String,
        out: String): DataFrame
  }

  object Model {
    case object Flat extends Model {
      def codec: Codec = Codec.Flat
      def encode(assigned: DataFrame, id: String, vec: String): DataFrame =
        assigned
      def reconstruct(corpus: DataFrame, id: String, vec: String,
          out: String): DataFrame =
        corpus.select(col(id), col("__list"), col(vec).as(out))
    }

    final case class Sq8(stats: DataFrame) extends Model {
      def codec: Codec = Codec.Sq8
      def encode(assigned: DataFrame, id: String, vec: String): DataFrame =
        assigned.crossJoin(broadcast(stats))
          .select(col(id), col("__list"),
            VectorFunctions.quantizeInt8(
              col(vec), col("mins"), col("maxs"))("q").as("__q"))
      def reconstruct(corpus: DataFrame, id: String, vec: String,
          out: String): DataFrame =
        corpus.crossJoin(broadcast(stats))
          .select(col(id), col("__list"),
            VectorFunctions.dequantizeInt8(
              col("__q"), col("mins"), col("maxs")).as(out))
    }

    case object Binary extends Model {
      def codec: Codec = Codec.Binary
      def encode(assigned: DataFrame, id: String, vec: String): DataFrame =
        assigned.select(col(id), col("__list"),
          VectorFunctions.packSignBits(col(vec)).as("__code"))
      def reconstruct(corpus: DataFrame, id: String, vec: String,
          out: String): DataFrame =
        throw new IllegalArgumentException(
          "sign codes carry no magnitudes to reconstruct")
    }

    /** The PQ encode/reconstruct both PQ-family models share. */
    sealed trait PqCodes extends Model {
      def pq: graft.ext.Pq.PqModel
      def encode(assigned: DataFrame, id: String, vec: String): DataFrame =
        assigned.select(col(id), col("__list"),
          graft.ext.Pq.codes(col(vec), pq).as("__codes"))
      def reconstruct(corpus: DataFrame, id: String, vec: String,
          out: String): DataFrame =
        corpus.select(col(id), col("__list"),
          graft.ext.Pq.reconstruction(col("__codes"), pq).as(out))
    }

    final case class Pq(codec: Codec.Pq, pq: graft.ext.Pq.PqModel)
        extends PqCodes

    /** `opq.rotation` is driver-held like the coarse quantizer: rotating
      * a batch is a map-only matvec against this literal. */
    final case class Opq(codec: Codec.Opq, opq: graft.ext.Opq.OpqModel)
        extends PqCodes {
      def pq: graft.ext.Pq.PqModel = opq.pq
      override def rotate(df: DataFrame, id: String,
          vec: String): DataFrame =
        df.select(col(id),
          graft.ext.Opq.rotated(col(vec), opq.rotation).as(vec))
    }
  }

  /** The model the generation pinned, read back from its model
    * sub-tables at `snap(suffix)` — the inverse of [[Codec.fit]]. */
  private[write] def resolve(store: TableStore, table: String,
      meta: VectorSink.IvfMeta, snap: String => Long): Model = {
    def rows(suffix: String) =
      store.readDriverRowsAt(s"$table$suffix", snap(suffix))
    def pqParams = {
      val pm = rows("__pq_meta").head
      (pm("m").asInstanceOf[Int], pm("ksub").asInstanceOf[Int],
        pm("iters").asInstanceOf[Int])
    }
    meta.metric match {
      case "cosine" => Model.Flat
      case "hamming-bq" => Model.Binary
      case "cosine-sq8" => Model.Sq8(store.readAt(s"${table}__sq_stats",
        snap("__sq_stats")))
      case "cosine-pq" =>
        val (m, ksub, iters) = pqParams
        // codebooks are driver-written string-cell rows since r11;
        // LEGACY collections stored centroid as array<double> (a
        // parquet group the driver reader cannot decode) — fall back
        // to a Spark read of the same pinned snapshot for those
        val books = try driverBooks(rows("__pq_codebooks")) catch {
          case _: ClassCastException | _: UnsupportedOperationException =>
            store.readAt(s"${table}__pq_codebooks", snap("__pq_codebooks"))
              .collect().toSeq.map(r => (r.getAs[Int]("sub"),
                r.getAs[Int]("cl"),
                r.getSeq[Double](r.fieldIndex("centroid")).toArray))
        }
        Model.Pq(Pq(m, ksub, iters), pqModel(books, m, ksub, meta.dim, table))
      case "cosine-opq" =>
        val (m, ksub, iters) = pqParams
        val model = pqModel(driverBooks(rows("__pq_codebooks")), m, ksub,
          meta.dim, table)
        val rotRows = rows("__opq_rotation").sortBy(_("i").asInstanceOf[Int])
        require(rotRows.length == meta.dim,
          s"collection '$table': rotation has ${rotRows.length} rows, " +
            s"dim is ${meta.dim}")
        val rotation = rotRows.map(r =>
          r("row").asInstanceOf[String].split(",").map(_.toDouble)).toArray
        val spectrum = rotRows.map(_("lam").asInstanceOf[Double]).toArray
        Model.Opq(Opq(m, ksub, iters),
          graft.ext.Opq.OpqModel(rotation, spectrum, model))
      case other => throw new IllegalArgumentException(
        s"collection '$table' has unknown metric '$other'")
    }
  }

  /** Write the PQ codebooks and params — already driver-resident after
    * training, so driver files, not a Spark write job per sketch-sized
    * table. Double.toString round-trips exactly, so the string cells
    * lose nothing vs a binary array column. */
  private def savePq(store: TableStore, table: String, m: Int, ksub: Int,
      iters: Int, model: graft.ext.Pq.PqModel): Unit = {
    val cbRows = for {
      j <- model.codebooks.indices
      c <- model.codebooks(j).indices
    } yield Seq("sub" -> (ICell(j): Cell), "cl" -> (ICell(c): Cell),
      "centroid" -> (SCell(model.codebooks(j)(c).mkString(",")): Cell))
    store.overwriteDriverFile(s"${table}__pq_codebooks")(p =>
      TinyParquet.write(p, cbRows))
    store.overwriteDriverFile(s"${table}__pq_meta")(p =>
      TinyParquet.write(p, Seq(Seq(
        "m" -> ICell(m), "ksub" -> ICell(ksub),
        "iters" -> ICell(iters), "dim" -> ICell(model.m * model.dsub)))))
  }

  /** (sub, cl, centroid) of each driver-read codebook row (m·ksub rows —
    * sketch-sized by contract). */
  private def driverBooks(
      rows: Seq[Map[String, Any]]): Seq[(Int, Int, Array[Double])] =
    rows.map(r => (r("sub").asInstanceOf[Int], r("cl").asInstanceOf[Int],
      r("centroid").asInstanceOf[String].split(",").map(_.toDouble)))

  /** The [[graft.ext.Pq.PqModel]] of (sub, cl, centroid) codebook
    * entries; every one of the m·ksub entries must be present. */
  private def pqModel(entries: Seq[(Int, Int, Array[Double])], m: Int,
      ksub: Int, dim: Int, table: String): graft.ext.Pq.PqModel = {
    val books = Array.ofDim[Array[Double]](m, ksub)
    entries.foreach { case (j, c, centroid) => books(j)(c) = centroid }
    require(books.forall(_.forall(_ != null)),
      s"collection '$table' codebook table is incomplete")
    graft.ext.Pq.PqModel(m, dim / m, books)
  }

  /** Dim of the corpus vector column, validated over the WHOLE corpus
    * in one EAGER aggregate (min = max, no NULLs): a mixed-width or NULL
    * row would persist codes of differing word counts silently, and
    * every later probe kernel clamps to min(length). OPQ-only — every
    * other write defers the same checks onto the write action itself
    * ([[VectorSink]]'s `observeDim`/`validatedDim` — zero extra scan). */
  private def uniformDim(corpus: DataFrame, vec: String,
      table: String): Int = {
    val d = corpus.agg(min(size(col(vec))).as("mn"),
      max(size(col(vec))).as("mx"),
      sum(when(col(vec).isNull, lit(1L)).otherwise(lit(0L))).as("nulls"))
      .head()
    require(!d.isNullAt(2),
      s"write to '$table': empty corpus")
    require(d.getLong(2) == 0L,
      s"write to '$table': corpus carries ${d.getLong(2)} NULL vectors " +
        "— drop or impute them first")
    require(d.getInt(0) == d.getInt(1),
      s"write to '$table': corpus vector widths span " +
        s"[${d.getInt(0)}, ${d.getInt(1)}] — collections are fixed-dim")
    d.getInt(0)
  }
}
