package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded multi-source BFS: exact minimum hop distance from a seed set,
  * up to `maxHops` levels (the multi-hop generalization of the reference's
  * one-hop expansion, `/root/reference/src/jupyter/
  * transaction_network_plot.ipynb` neighborhood queries).
  *
  * Level-synchronous frontier expansion — the textbook distributed-BFS
  * shape (Pregel supersteps without the framework):
  *
  *   - each round joins only the CURRENT frontier against the edge list
  *     (never the full visited set), so round cost tracks frontier size;
  *   - newly reached nodes are found set-subtractively against the
  *     accumulated distance table (one aggregation over the expansion
  *     rows unioned with the flagged visited set — semantically the
  *     LEFT ANTI of distinct(reached) vs dist, in one exchange) — no
  *     driver-side visited set, no `collect()`;
  *   - the loop is driver-bounded by `maxHops` (a small constant), so
  *     the lineage stays shallow and no checkpointing is needed.
  *
  * At 100 TB the per-round shuffles hash-partition on the node id; the
  * edge list is the only large operand and it is re-read per round —
  * callers doing deep BFS over a hot graph should persist `edges`
  * bucketed by `src` (io/Layout) so every round's join is co-located.
  *
  * Determinism: output is the exact (node → min distance) relation —
  * set-equal regardless of join order, so it cross-checks against an
  * iterated-SQL oracle hash-exactly.
  */
object Bfs {

  /** @param edges directed edge list with long columns `src`, `dst`
    * @param seeds  frame with long column `node` (distance 0)
    * @return (node: long, dist: int) — min #hops from any seed, ≤ maxHops */
  def boundedBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // materialize the (possibly expensive) edge build once: every round
    // re-reads it, and without the cut each round's lineage would
    // re-run it — frontier_h feeds both the next expansion and the
    // final union, so re-evaluations compound with depth
    // edge count observed DURING the cut's materialization (no separate
    // count job): every frontier is a subset of e's dst set, so
    // edgeCount is a sound upper bound that lets Snapshots pick a
    // memory level for small graphs.
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val (e, edgeCount) = Snapshots.cutCounted(e0, Snapshots.level(e0))
    // seed count rides the seed cut's materialization the same way —
    // the r17 form ran a separate full count() job (unconditionally,
    // even at maxHops == 0 where the loop never runs)
    val s0 = seeds.select(col("node").cast("long"))
      .distinct().withColumn("dist", lit(0))
    var (dist, frontierSize) = Snapshots.cutCounted(s0, Snapshots.level(s0))
    var frontier = dist.select(col("node"))
    var hop = 1
    while (hop <= maxHops && frontierSize > 0) {
      val fb = Snapshots.broadcastIfSmall(frontier, frontierSize)
      // the per-hop dedup AND the visited-set anti-join ride ONE
      // aggregation: raw expansion rows union the accumulated distance
      // table's nodes (flagged), and a node is newly reached iff its
      // group never saw a flagged row — exactly `reached.distinct()
      // LEFT ANTI dist`, for one exchange per hop instead of the
      // former distinct exchange plus an anti-join exchange/broadcast
      val reached = fb
        .join(e, fb("node") === e("src"))
        .select(col("dst").as("node"), lit(0).as("in_dist"))
        .unionByName(dist.select(col("node"), lit(1).as("in_dist")))
        .groupBy(col("node")).agg(max(col("in_dist")).as("in_dist"))
        .filter(col("in_dist") === 0)
        .select(col("node"))
        .withColumn("dist", lit(hop))
      // cut per-round lineage (as q34/q44 do), sized by the bound
      val (fresh, n) =
        Snapshots.cutCounted(reached, Snapshots.levelFor(reached, edgeCount))
      frontierSize = n
      dist = dist.unionByName(fresh)
      frontier = fresh.select(col("node"))
      hop += 1
    }
    dist
  }
}
