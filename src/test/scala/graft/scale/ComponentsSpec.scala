package graft.scale

import graft.SparkSpec

/** Connected components vs a local union-find oracle on adversarial graph
  * shapes — chains (worst case for label propagation), cliques, forests,
  * random graphs.
  */
class ComponentsSpec extends SparkSpec {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonicalize to min-of-component
    val groups = nodes.groupBy(find)
    groups.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val exp = unionFind(edges)
    // driver union-find path (small edge lists)
    val viaDriver = Components.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == exp)
    // distributed star-fixpoint path (forced with limit 0)
    val viaStars = graft.core.Gates.scoped(driverEdgeRows = 0L) {
        Components.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
      }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == exp)
  }

  test("long chain (diameter = n, the label-propagation killer)") {
    check((0L until 60L).map(i => (i, i + 1)))
  }

  test("two cliques bridged by one edge") {
    val c1 = for (i <- 0 to 8; j <- i + 1 to 8) yield (i.toLong, j.toLong)
    val c2 = for (i <- 100 to 108; j <- i + 1 to 108) yield (i.toLong, j.toLong)
    check(c1 ++ c2 ++ Seq((8L, 100L)))
  }

  test("forest of separate components keeps them separate") {
    check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L)))
  }

  test("random graph matches union-find") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    check(edges)
  }

  test("dupClusters sizes add up") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Components.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }
}
