package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction by iterative peeling: repeatedly delete nodes whose
  * degree (over the surviving subgraph) is below k, until fixpoint or a
  * driver-bounded round limit. The standard graph-cleaning pass before
  * community/centrality work — strips the low-degree fringe so the
  * iterative algorithms (q34 PageRank, q44 CC, q69 triangles) run on the
  * dense core.
  *
  * Each round is two scale-safe steps over the edge list: a degree
  * aggregation (one shuffle on node id) and a both-endpoint semi-join
  * against the survivors. Edges are checkpointed per round — same
  * lineage discipline as Bfs/ConnectedComponents — so round r never
  * re-executes rounds 0..r-1. Early exit on fixpoint is sound for
  * bounded-round semantics: once the edge count stops changing, every
  * further round is the identity, so "fixpoint result" == "round-R
  * result" whenever the fixpoint arrives within R rounds.
  */
object KCore {

  /** @param edges directed/undirected edge list (src, dst); symmetrized
    *              and self-loop-stripped internally
    * @param k      minimum degree to survive
    * @param rounds peel-round bound (fixpoint usually arrives in <10)
    * @return surviving (node, degree) — degree within the core */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    // edge count observed DURING the cut's materialization — no
    // separate count job
    val d = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val sym = d.unionByName(d.select(col("dst").as("src"),
      col("src").as("dst"))).distinct()
    var (e, size) = Snapshots.cutCounted(sym, Snapshots.level(sym))
    // exact node count — one cheap setup aggregate over the
    // just-materialized blocks (the symmetrized edge list carries every
    // node as a src); gates the survivor-broadcast decision below. NOT
    // an approx_count_distinct observation: HLL++ is interpreted
    // (CodegenFallback) and would run per edge row inside the cut pass.
    val nodeBound = e.select(col("src")).distinct().count()
    var r = 0
    var fixed = false
    while (r < rounds && !fixed && size > 0) {
      // survivors are node-sized (≤ distinct srcs): broadcast them into
      // both semi-joins when small (guide §3.1) — the edge frame is
      // then never shuffled inside a peel round (the r17 shape shuffled
      // e by src AND by dst every round), and the two aliases of one
      // plan share a single broadcast build via exchange reuse. Past
      // the bound the joins stay shuffled — survivors at 100 TB are
      // cluster-sized.
      // one renamed survivor frame serves BOTH semi-joins (the src and
      // dst probes reference the identical plan, so the broadcast — or
      // shuffle — exchange is built once and reused; semi-join output
      // carries only e's columns, so the second reference is
      // unambiguous)
      val keep = Snapshots.broadcastIfSmall(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("__kept")),
        nodeBound)
      // survivor count observed DURING checkpoint materialization (one
      // job per peel round, not materialize + count), and the previous
      // round's blocks retired — without the release, storage grows
      // linearly with the round count
      val peeled = e
        .join(keep, col("src") === col("__kept"), "left_semi")
        .join(keep, col("dst") === col("__kept"), "left_semi")
      // previous round's count is a monotone upper bound on this
      // round's rows (peeling only deletes) — lets Snapshots pick a
      // memory level for small cores without a pre-count job
      val (next, newSize) =
        Snapshots.cutCounted(peeled, Snapshots.levelFor(peeled, size))
      Snapshots.release(e)
      fixed = newSize == size
      e = next; size = newSize; r += 1
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
      .select(col("src").as("node"), col("degree"))
  }
}
