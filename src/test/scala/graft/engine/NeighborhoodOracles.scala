package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact neighborhood function, kept as the oracle TraversalSpec and
  * ScaleSpec check [[Neighborhood]]'s HyperBall sketches and the gx06
  * identity against. */
object NeighborhoodOracles {

  private def undirected(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Exact k-hop neighborhood sizes (self included), one row per vertex:
    * (id, n_reach), by a bounded multi-source expansion that
    * materializes a (source, vertex) pair per reached vertex. */
  def exactSizes(g: GraphState, hops: Int): DataFrame = {
    require(hops >= 0)
    val e = undirected(g.edges)
    var reach = g.vertices.select(col("id").as("source"), col("id"))
    var k = 0
    while (k < hops) {
      k += 1
      val expanded = reach.union(
        reach.join(e, reach("id") === e("src"))
          .select(col("source"), col("dst").as("id")))
      // intermediate hops dedup and cut lineage; the last hop's dedup
      // folds into the final count_distinct
      reach =
        if (k < hops) expanded.distinct().localCheckpoint()
        else expanded
    }
    reach.groupBy(col("source").as("id"))
      .agg(count_distinct(col("id")).as("n_reach"))
  }
}
