package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the post-dedup step
  * that turns near-duplicate PAIRS into duplicate CLUSTERS ("keep one doc
  * per cluster"). Transitive closure matters: A~B and B~C must place A and C
  * in one cluster even when (A, C) itself was never emitted as a pair.
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the canonical
  * shuffle-based CC formulation. Each round is a plain groupBy + join over
  * the edge list (no driver-side graph state), and the edge set converges to
  * one star per component centered at the component's minimum id in
  * O(log^2 n) rounds — unlike naive min-label propagation, whose round count
  * grows with the component DIAMETER (fatal for chain-shaped components at
  * scale).
  */
object Components {

  /** star round: for every node u with neighbor set N(u) and
    * m = min(N(u) ∪ u), rewire the selected neighbors of u straight to m.
    * large-star selects v > u (tall edges shorten), small-star selects
    * v <= u (local edges collapse into the center).
    */
  private def star(e: DataFrame, large: Boolean): DataFrame = {
    val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min(col("v")).as("__mn"))
      .select(col("u"), least(col("__mn"), col("u")).as("m"))
    val j = nbrs.join(mins, Seq("u"))
    val kept = if (large) j.where(col("v") > col("u"))
               else j.where(col("v") <= col("u"))
                 .unionByName(mins.select(col("u"), col("u").as("v"), col("m")))
    kept.select(least(col("v"), col("m")).as("u"),
        greatest(col("v"), col("m")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** (id, rep) for every node of `pairs`, rep = the minimum id reachable in
    * the undirected pair graph. Nodes absent from `pairs` (singletons) are
    * the caller's left join. Each round materializes the (component-bounded,
    * shrinking) edge list via a lazy localCheckpoint; convergence is an
    * exact edge-set comparison. Throws after `maxRounds` non-converged
    * rounds rather than returning a partial closure.
    *
    * Deduped edge lists at or under [[graft.core.Gates.DriverEdgeRows]]
    * are solved driver-side with union-find (same precedent as the k-means
    * codebook: model-sized data on the driver, data-sized work on the
    * cluster) — the iterative star rounds each cost several shuffle jobs,
    * so for a broadcast-sized edge list the round overhead dominates.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 25): DataFrame = {
    // the algorithm's least/greatest canonicalization needs a totally-
    // ordered integral id; a silent cast of string ids would either die
    // with CAST_INVALID_INPUT (ANSI) or null every edge out (non-ANSI) —
    // keepRepresentatives would then silently keep ALL duplicates
    for (c <- Seq(aCol, bCol)) {
      import org.apache.spark.sql.types._
      val ok = pairs.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok,
        s"connectedComponents needs integral ids; column '$c' is " +
          s"${pairs.schema(c).dataType.sql} — map non-numeric ids to a " +
          "dense/long surrogate first (e.g. xxhash64 + a collision check, " +
          "or zipWithIndex)")
    }
    var edges = graft.core.Pinned.checkpoint(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct())
    if (graft.core.Gates.driverSized(edges)) return driverComponents(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = graft.core.Pinned.checkpoint(
        star(star(edges, large = true), large = false))
      // canonical + distinct on both sides, so set equality is two counts
      val (nOld, nNew) = (edges.count(), next.count())
      converged = nOld == nNew &&
        edges.unionByName(next).distinct().count() == nNew
      // the previous round's edge blocks are dead once the convergence
      // check has read them — free them NOW so an O(log^2 n)-round job runs
      // at constant checkpoint storage instead of accumulating every round
      graft.core.Pinned.unpersist(edges)
      edges = next
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // fixpoint = stars centered at the component min: u is the rep side
    edges.select(col("v").as("id"), col("u").as("rep"))
      .unionByName(edges.select(col("u").as("id"), col("u").as("rep")))
      .distinct()
  }

  /** Path-halving union-find over a collected edge list; reps are component
    * minima (same contract as the distributed fixpoint). The result returns
    * to the cluster as a plain DataFrame, so downstream joins are unchanged.
    */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { // union by MIN id so the rep is the component minimum
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    import spark.implicits._
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "rep")
  }

  /** Duplicate clusters straight from a near-dup pair frame (id_a, id_b):
    * (id, rep, cluster size), one row per clustered document.
    */
  def dupClusters(pairs: DataFrame, aCol: String = "id_a",
                  bCol: String = "id_b"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    cc.join(cc.groupBy("rep").agg(count(lit(1)).as("n")), Seq("rep"))
      .select(col("id"), col("rep"), col("n"))
  }
}
