package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Connected components over an undirected edge list — the step that
  * turns pairwise near-duplicate MATCHES into duplicate CLUSTERS (pick
  * one keeper per component; the standard tail of every MinHash/SimHash
  * dedup pipeline).
  *
  * Algorithm: iterative minimum-label propagation. Each node starts
  * labeled with itself; every round each node adopts the minimum label
  * among itself and its neighbors; stop when no label changes. Rounds
  * needed = graph diameter — near-duplicate clusters are small and
  * dense (diameter 2-4), so a handful of hash-shuffle joins suffices;
  * `maxIter` bounds pathological chains. Each round's labels are a
  * [[Dedup.boundary]], so a round's plan starts at a leaf — no plan
  * blow-up, no driver-side graph. (GraphX solves the general case; for
  * dedup clusters this stays in the DataFrame plane with exact-oracle
  * semantics.) Both entry points are lazy generators: they pin into the
  * caller's [[Dedup.withPins]] scope, and the caller consumes the
  * result inside it.
  */
object ConnectedComponents {

  /** Returns (`idCol`, component) for every node appearing in `edges`,
    * where component = the minimum node id in the component. A lost
    * block of a round's labels recomputes from lineage. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      idCol: String = "id", maxIter: Int = 20): DataFrame = {
    // symmetrize once: propagation then only needs one direction; the
    // pin is built before the first boundary reads it
    val sym = Dedup.build(Dedup.pin(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()))
    // init = round 1's result directly: label₀ = min(id, neighbors).
    // The previous identity init (label₀ = id) spent a whole
    // join round computing exactly this aggregate — one
    // groupBy over the symmetrized edges replaces it (every node
    // appears as `a` by symmetry), so the loop starts one round ahead
    // at any scale.
    var labels = Dedup.boundary(sym.groupBy(col("a").as("id"))
      .agg(least(col("a"), min(col("b"))).as("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(labels.select(col("id").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("id")).agg(min(col("nl")).as("nmin"))
      // the PREVIOUS label rides along as `old`, so convergence needs no
      // second join over the labels — the boundary materializes the
      // propagation (the only shuffle of the round) and the convergence
      // probe below is a plain scan of its leaf.
      // POINTER JUMPING: after folding in the neighbor minimum, each
      // node also adopts its candidate label's OWN label (labels are
      // always ids inside the same component, so the hop stays inside
      // it and monotonically decreases toward the component minimum) —
      // label paths halve per round, so convergence needs O(log d)
      // rounds instead of O(d) on diameter-d chains. One extra
      // equi-join per round against the (boundary) label table buys
      // a logarithmic cut in join rounds — the fixpoint
      // (component = minimum member id) is unchanged, only reached in
      // fewer rounds.
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("cand"),
          col("label").as("old"))
      val next = Dedup.boundary(stepped
        .join(labels.select(col("id").as("cand"), col("label").as("cl")),
          Seq("cand"), "left")
        .select(col("id"),
          least(col("cand"), coalesce(col("cl"), col("cand"))).as("label"),
          col("old")))
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select("id", "label")
      iter += 1
    }
    labels.select(col("id").as(idCol), col("label").as("component"))
  }

  /** Size-adaptive components: below `collectThreshold` edges the graph
    * collects to the driver and a union-find labels it in one pass;
    * above it (or for id types without a natural order) the distributed
    * propagation runs unchanged. Near-duplicate graphs are sparse —
    * edges ∝ duplicate clusters, not corpus size — so the common case
    * pays ONE job instead of diameter × (join + scan)
    * rounds whose fixed latency dwarfs the actual work; the decision is
    * data-driven and the distributed path remains the unbounded
    * fallback. Semantics identical: component = minimum member id. */
  def componentsAuto(edges: DataFrame, srcCol: String, dstCol: String,
      idCol: String = "id", maxIter: Int = 20,
      collectThreshold: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    def integral(t: org.apache.spark.sql.types.DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // SAME type on both sides: mixed Int/Long ids would box to keys
    // that never compare equal in the union-find map
    val (srcT, dstT) = (edges.schema(srcCol).dataType, edges.schema(dstCol).dataType)
    val orderable = srcT == dstT && (integral(srcT) || srcT == StringType)
    if (!orderable)
      return components(edges, srcCol, dstCol, idCol, maxIter)
    val pinned = Dedup.pin(edges)
    if (Dedup.rowCount(pinned) > collectThreshold)
      components(pinned, srcCol, dstCol, idCol, maxIter)
    else {
      val spark = edges.sparkSession
      val idType = edges.schema(srcCol).dataType
      val lt: (Any, Any) => Boolean = idType match {
        case StringType => (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
        case _ => (a, b) =>
          a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
      }
      // union-find with min-id roots (path compression on find)
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent(c); parent(c) = r; c = next
        }
        r
      }
      pinned.select(col(srcCol), col(dstCol)).collect().foreach { row =>
        val (a, b) = (find(row.get(0)), find(row.get(1)))
        if (a != b) {
          if (lt(a, b)) parent(b) = a else parent(a) = b
        }
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      val rows = parent.keys.toSeq.map(k =>
        org.apache.spark.sql.Row(k, find(k)))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }
  }
}
