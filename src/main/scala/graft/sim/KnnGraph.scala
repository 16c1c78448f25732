package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-NN graph construction and hard-negative mining over an embedding
  * column — the two neighbor-structure operators a contrastive /
  * curriculum training-data pipeline needs on top of point-lookup ANN
  * (reference scope: similarity over `embeddings.parquet`, cf.
  * BASELINE.json similarity queries; graph consumers mirror the
  * reference's Neo4j edge tables, src/etl_vol_transfers/main.py:190-209).
  *
  * Scale design: both operators are BLOCKED — the k-NN graph scores only
  * within-block pairs (Σ|block|² work, the SemanticDedup/embeddingNearDups
  * sanction), hard negatives broadcast a bounded anchor set against the
  * corpus stream (one pass, no shuffle of the big side). The unblocked
  * all-pairs graph is exactly the quadratic plan a 100 TB corpus cannot
  * run; swapping the block column for an LSH bucket or IVF cell key
  * (sim/LshIndex, Similarity.ivfTopKTrained) turns either into the
  * approximate scale path without touching the ranking logic.
  */
object KnnGraph {

  /** Scoring sub-partitions per block in [[knnGraphApprox]]: bounds the
    * parallelism floor at #blocks × SubSplit when blocks are few and
    * deep, at the price of replicating each block's vector map this
    * many times. */
  private val SubSplit = 8

  /** Exact within-block k-NN graph: for every vector, its `k` nearest
    * same-block neighbors by cosine (ties → lower vec_id), plus a
    * `mutual` flag marking edges whose reverse edge is also a k-NN edge
    * (the mutual-kNN graph is the usual input to density/cluster-based
    * corpus curation). One equi-join shuffle on the block key, one
    * window per vector, one self-join of the (tiny) edge list.
    *
    * Quadratic contract, ENFORCED (round 16): within-block work is
    * Σ|block|² and a block's pair stream lands in ONE join task, so an
    * oversized block is a silent single-task job-killer at scale (a
    * 20k-row block ≈ 4·10⁸ pairs ≈ ~30 s of cosine arithmetic — the
    * measured sf10 shape; 10× that block is 100× that task). A cheap
    * block-count audit (one column-pruned agg over the block key) runs
    * first and FAILS FAST above `spark.graft.knn.maxExactBlock`
    * (default 100 000 rows ≈ 10¹⁰ pairs ≈ tens of single-task
    * minutes) with guidance to [[knnGraphApprox]] — the block-local
    * LSH sibling whose per-bucket work is bounded by construction —
    * rather than letting the cluster discover the quadratic from a
    * wedged stage. */
  def knnGraph(embeddings: DataFrame, k: Int,
               blockCol: String = "label"): DataFrame = {
    val maxBlock = embeddings.sparkSession.conf
      .get("spark.graft.knn.maxExactBlock", "100000").toLong
    val oversized = embeddings.groupBy(col(blockCol)).count()
      .filter(col("count") > maxBlock)
      .orderBy(col("count").desc).limit(1).collect()
    if (oversized.nonEmpty)
      throw new IllegalStateException(
        s"exact kNN graph refused: block '${oversized(0).get(0)}' holds " +
          s"${oversized(0).getLong(1)} vectors (> " +
          s"spark.graft.knn.maxExactBlock=$maxBlock) — within-block " +
          "work is |block|² in one task by contract. Use " +
          "KnnGraph.knnGraphApprox (block-local LSH, bounded buckets) " +
          "or raise spark.graft.knn.maxExactBlock if the quadratic is " +
          "really intended.")
    val e = embeddings.select(col("vec_id"), col(blockCol).as("blk"),
      col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("blk"), col("vec_id"), col("v"))
    val b = e.select(col("blk"), col("vec_id").as("neighbor_id"),
      col("v").as("nv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val edges = a.join(b, Seq("blk"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.cosine(col("v"), col("nv")))
      // project the vectors AWAY before the ranking window: the window
      // sort buffers whole rows, and rows carrying two d-dim vectors
      // are ~40× wider than (id, id, cosine) — at scale that 40× is
      // the difference between an in-memory sort and a disk-filling
      // spill (measured: sf10 probe died on spill before this cut)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
    // mutual flag: k·|V| edges — self-join on the reversed pair is
    // edge-list-sized, never corpus-sized
    val rev = edges.select(col("neighbor_id").as("vec_id"),
      col("vec_id").as("neighbor_id"), lit(1L).as("m"))
    edges.join(rev, Seq("vec_id", "neighbor_id"), "left")
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        coalesce(col("m"), lit(0L)).as("mutual"))
  }

  /** Approximate k-NN graph — the scale sibling of [[knnGraph]]. Same
    * output shape and ranking logic (cosine desc, ties → lower id,
    * `mutual` flag), but candidate pairs come from sign-LSH co-bucketing
    * WITHIN each block instead of the full within-block cross product:
    * a pair is scored only if the two signatures are within Hamming
    * distance `probeBits` (0 or 1 — single-bit multiprobe, the
    * [[Similarity.lshTopKMulti]] recall lever) in at least one of
    * `tables` hash tables. Candidate work is Σ_buckets |bucket|·|probe
    * fan-in| with 2^planes buckets per table per block — `planes` is the
    * scale knob: raise it as the corpus grows and per-bucket population
    * stays bounded (recall holds because the kth-NN distance shrinks as
    * the corpus densifies — the standard LSH argument), where the exact
    * graph's Σ|block|² grows quadratically with block size (measured
    * 46× wall for 10× data at sf1). Recall ≥ 0.9 vs the exact graph is
    * pinned in KnnGraphSpec on the real sf0.1 corpus.
    *
    * Plan: postings (blk, tb, vec_id) are id-only — vectors never ride
    * the bucket self-join; candidates dedup on a narrow
    * (vec_id, neighbor_id) shuffle; and SCORING is block-local via
    * cogroup-by-block. The join-then-window alternative was measured
    * to death at sf10 organic (200k vectors, 20k-deep blocks, ~214M
    * distinct candidates — the multi-table union is the operator's
    * real candidate budget): attaching two 64-dim vectors to every
    * candidate row made the scoring joins shuffle >100 GB and fill the
    * disk. Cogroup keeps EVERY shuffle id-only (candidates ~24 B/row,
    * vectors shipped once per block) and the only wide state is one
    * block's id→vector map (|block|·d doubles — the same
    * block-fits-in-executor premise the exact operator's Σ|block|²
    * already assumes), with the per-vector top-k folded in the same
    * pass (bounded heap, ties (cosine desc, neighbor_id asc) —
    * bit-identical ranking to the window form, cosine loop identical
    * to [[graft.functions.VectorExpressions]] CosineSimilarity).
    *
    * @since round 10 the `planes` DEFAULT changed 6 → 0 (auto,
    * density-derived): callers relying on the default get a different
    * bucketing plan and recall profile after upgrade. The change is
    * measurement-backed (fixed-6 DNFs at sf10 — see the auto-mode note
    * below); pass `planes = 6` explicitly to re-pin the old buckets. */
  def knnGraphApprox(embeddings: DataFrame, k: Int,
                     blockCol: String = "label", tables: Int = 24,
                     planes: Int = 0, dims: Int = 64,
                     probeBits: Int = 1): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      "probeBits: only Hamming radius 0 or 1 is supported")
    import graft.functions.VectorFunctions.lsh_signatures
    val e = embeddings.select(col("vec_id"), col(blockCol).as("blk"),
      col("embedding").cast("array<double>").as("v"))
    // planes = 0 (the DEFAULT) → auto mode: derive from measured block
    // density so per-bucket population stays ~constant as the corpus
    // grows: 2^planes ≈ avg block / target depth 4. One tiny agg job
    // (two longs to the driver); at sf0.1 auto resolves to 6, so the
    // pinned recall spec covers both modes there. Auto-vs-fixed was
    // MEASURED as the r10 default decision (SCALE_AUDIT "auto-knob
    // decision"): sf1 organic auto 15.2 s vs fixed-6
    // 66.0 s; sf10 auto 62.4 s vs fixed-6 DNF (Σ|bucket|² spill fills
    // the disk) — a fixed plane count is only safe where you already
    // know the density, which is exactly when you'd pass it
    // explicitly. (This restores the pre-r9 auto default; r9 had
    // flipped it to 6 on no-silent-plan-change grounds without a
    // measurement — the measurement says auto.)
    val nPlanes = if (planes > 0) planes else {
      val r = e.agg(count(lit(1)),
        approx_count_distinct(col("blk"))).head()
      val avg = math.max(
        r.getLong(0).toDouble / math.max(r.getLong(1), 1L), 1.0)
      math.min(16, math.max(4,
        math.ceil(math.log(avg / 4.0) / math.log(2.0)).toInt))
    }
    val sigs = e
      .select(col("blk"), col("vec_id"),
        posexplode(lsh_signatures(col("v"), tables, nPlanes, dims))
          .as(Seq("table", "bucket")))
    def tb(bucket: Column): Column =
      col("table").cast("long") * (1L << nPlanes) + bucket
    // posting side: the exact bucket; probe side: exact + each 1-bit
    // flip — a pair collides iff its signatures differ by ≤ probeBits
    // bits in some table (asymmetric expansion, so fan-out is
    // (planes+1)×, not (planes+1)²)
    val postings = sigs.select(col("blk"), tb(col("bucket")).as("tb"),
      col("vec_id"))
    val probeBuckets = if (probeBits == 0) Seq(col("bucket")) else
      col("bucket") +: (0 until nPlanes).map(p =>
        col("bucket").bitwiseXOR(lit(1L << p)))
    val probes = sigs
      .select(col("blk"), col("table"), col("vec_id"),
        explode(array(probeBuckets: _*)).as("bucket"))
      .select(col("blk"), tb(col("bucket")).as("tb"), col("vec_id"))
    // NO global pair dedup: a pair found by several tables reaches the
    // scorer more than once, and the top-k TreeSet absorbs it for free
    // (identical (cosine, neighbor) key — cosine is deterministic).
    // The dropDuplicates alternative was measured at sf1: a 21M-row
    // hash-agg shuffle costing ~15 s to save ~1.3× of (cheap) repeat
    // cosines — strictly worse at every scale probed.
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cands = probes
      .join(postings.select(col("blk"), col("tb"),
        col("vec_id").as("neighbor_id")), Seq("blk", "tb"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("blk").cast("long").as("blk"), col("vec_id"),
        col("neighbor_id"))
      .as[(Long, Long, Long)]
    val vecs = e.select(col("blk").cast("long").as("blk"), col("vec_id"),
      col("v")).as[(Long, Long, Array[Double])]
    // block-local scoring + fused top-k (see class doc): both shuffles
    // here move id-only rows; the vectors travel SubSplit× per block.
    // The scoring key is (blk, vec_id mod SubSplit), not blk alone — a
    // corpus with few deep blocks would otherwise collapse to
    // #blocks-way parallelism exactly where the candidate volume peaks
    // (measured: 10-block sf10, 214M candidates → 10 busy cores). A
    // vector's candidates all share its subkey, so every top-k stays
    // complete; only the id→vector map is replicated.
    // floorMod, not %: a negative vec_id under % would land on a
    // negative subkey while vectors replicate only to 0..SubSplit-1 —
    // those candidates would cogroup with an empty vector map and be
    // silently dropped (missing edges, no error).
    val edges = cands
      .groupByKey(t => (t._1, Math.floorMod(t._2, SubSplit.toLong).toInt))
      .cogroup(vecs.flatMap(t => (0 until SubSplit)
          .map(p => (t._1, p, t._2, t._3)))
        .groupByKey(t => (t._1, t._2))) {
        (_, cs, vs) => scoreBlock(cs, vs.map(t => (t._1, t._3, t._4)), k)
      }.toDF("vec_id", "neighbor_id", "rank")
    val rev = edges.select(col("neighbor_id").as("vec_id"),
      col("vec_id").as("neighbor_id"), lit(1L).as("m"))
    edges.join(rev, Seq("vec_id", "neighbor_id"), "left")
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        coalesce(col("m"), lit(0L)).as("mutual"))
  }

  /** One block's candidate scoring: build the id→vector map (the only
    * wide state, |block|·d doubles), stream deduped candidate pairs
    * through the CosineSimilarity loop (same element order → bit-equal
    * doubles), folding each vector's bounded top-k heap in place.
    * Ranking ties are (cosine desc, neighbor_id asc) — exactly the
    * window form this replaces. */
  private def scoreBlock(cs: Iterator[(Long, Long, Long)],
                         vs: Iterator[(Long, Long, Array[Double])],
                         k: Int): Iterator[(Long, Long, Long)] = {
    val vmap = new java.util.HashMap[Long, Array[Double]]()
    vs.foreach(t => vmap.put(t._2, t._3))
    val ord = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1) // cosine desc
        if (c != 0) c else java.lang.Long.compare(a._2, b._2) // id asc
      }
    }
    val best =
      new java.util.HashMap[Long, java.util.TreeSet[(Double, Long)]]()
    cs.foreach { case (_, vid, nid) =>
      val v = vmap.get(vid)
      val nv = vmap.get(nid)
      if (v != null && nv != null) {
        val n = math.min(v.length, nv.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val xv = v(i); val yv = nv(i)
          dot += xv * yv; na += xv * xv; nb += yv * yv
          i += 1
        }
        val cos = dot / (math.sqrt(na) * math.sqrt(nb))
        var ts = best.get(vid)
        if (ts == null) {
          ts = new java.util.TreeSet[(Double, Long)](ord)
          best.put(vid, ts)
        }
        ts.add((cos, nid))
        if (ts.size > k) ts.pollLast()
      }
    }
    import scala.jdk.CollectionConverters._
    best.entrySet().iterator().asScala.flatMap { en =>
      en.getValue.iterator().asScala.zipWithIndex.map {
        case ((_, nid), idx) => (en.getKey.toLong, nid, (idx + 1).toLong)
      }
    }
  }

  /** Hard-negative mining: for each anchor, the `k` nearest vectors with
    * a DIFFERENT label (closest wrong-class examples — the negatives a
    * contrastive loss learns most from). Anchors broadcast; the corpus
    * streams once through a codegen'd cosine + per-anchor top-k window.
    * At 100 TB the anchor set is the bounded side by construction (a
    * training batch), so the broadcast nested-loop is the right plan;
    * label≠label admits no equi-key. */
  def hardNegatives(embeddings: DataFrame, anchors: DataFrame,
                    k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id").as("negative_id"),
      col("label").as("neg_label"),
      col("embedding").cast("array<double>").as("v"))
    val q = anchors.select(col("vec_id").as("query_id"),
      col("label").as("q_label"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("negative_id").asc)
    e.join(broadcast(q), col("neg_label") =!= col("q_label"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("v")))
      // vectors out before the per-anchor top-k window (see knnGraph)
      .select(col("query_id"), col("negative_id"), col("neg_label"),
        col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("negative_id"),
        col("neg_label").cast("long").as("neg_label"),
        col("rank").cast("long").as("rank"))
  }
}
