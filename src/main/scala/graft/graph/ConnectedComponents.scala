package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the second
  * DataFrame graph algorithm (PageRank being the first), and the piece
  * that turns near-dup PAIRS into dedup GROUPS: every doc in a component
  * keeps the component's minimum id as its cluster label.
  *
  * Each round every node adopts the smallest label among itself and its
  * neighbors; converges in O(component diameter) rounds. Same scale
  * treatment as PageRank: one shuffle per round on the edge key, lineage
  * cut every iteration, convergence detected by a changed-count aggregate.
  */
object ConnectedComponents {

  /** @param edges (src, dst) undirected pairs (any orientation)
    * @return (id, component) — component = min node id in the component */
  def run(edges: DataFrame, maxIterations: Int = 20): DataFrame =
    labelCut(edges, maxIterations).select(col("id"), col("component"))

  /** [[run]]'s labels as the cut frame that holds them — (id,
    * component), plus the previous round's `prev` once a round has run —
    * so a caller can retire it with [[Snapshots.release]] once its
    * readers are materialized. Every other cut of the run is released
    * here. */
  private[graft] def labelCut(edges: DataFrame,
                              maxIterations: Int = 20): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .distinct().transform(Snapshots.cut)
    // label frames are node-count-sized every round — the count rides
    // the label cut's materialization (no separate count job) and sizes
    // every loop snapshot plus the broadcast gate below
    val l0 = und.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
    val (labels0, nodeCount) = Snapshots.cutCounted(l0, Snapshots.level(l0))
    var labels = labels0
    // the frame holding the current round's materialized blocks: each
    // new checkpoint retires the previous one (without the release,
    // block-manager storage grows linearly with the round count)
    var materialized = labels
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIterations) {
      // propagate: min over neighbors' labels and own. NOT materialized:
      // the shortcut self-join reads it twice, but recomputing this
      // small join/agg twice inside one job is cheaper than a separate
      // materialization job per round — only `next` is checkpointed.
      // labels are node-sized: broadcast into the edge join when small
      // (guide §3.1) so the edge frame is never shuffled inside a
      // round; past the bound the join stays shuffled — the only
      // correct shape for cluster-sized label sets. The neighbor-min
      // and the node's own label ride ONE aggregation: neighbor
      // candidate rows union each node's own row (flagged), so
      // min(cand) is exactly least(component, coalesce(nbr_min,
      // component)) and prev is the flagged row's value — the former
      // shape paid a second aggregate exchange plus an outer join per
      // round for the same values
      val lb = Snapshots.broadcastIfSmall(labels, nodeCount)
      val propagated = und
        .join(lb, und("b") === lb("id"))
        .select(col("a").as("id"), col("component").as("cand"),
          lit(0).as("own"))
        .unionByName(labels.select(col("id"),
          col("component").as("cand"), lit(1).as("own")))
        .groupBy(col("id"))
        .agg(min(col("cand")).as("component"),
          max(when(col("own") === 1, col("cand"))).as("prev"))
        .select(col("id"), col("prev"), col("component"))
      // shortcut (pointer doubling): jump to the label's label — chains
      // collapse in O(log diameter) rounds instead of O(diameter).
      val shortcut = propagated.as("x")
        .join(Snapshots.broadcastIfSmall(
          propagated.select(col("id").as("pid"),
            col("component").as("pcomp")), nodeCount),
          col("x.component") === col("pid"), "left")
        .select(col("x.id").as("id"), col("x.prev").as("prev"),
          least(col("x.component"), coalesce(col("pcomp"),
            col("x.component"))).as("component"))
      // convergence metric collected DURING the checkpoint
      // materialization job (CollectMetrics rides the same pass) —
      // one job per round, not materialize + a second count job
      val cn = Snapshots.cutObserved(shortcut,
        Snapshots.levelFor(shortcut, nodeCount),
        count(when(col("component") =!= col("prev"), 1)).as("changed"))
      val next = cn.ds
      changed = cn.long("changed")
      Snapshots.release(materialized)
      materialized = next
      labels = next.select(col("id"), col("component"))
      i += 1
    }
    // every round is materialized, and the last label cut reads no edge
    Snapshots.release(und)
    materialized
  }
}
