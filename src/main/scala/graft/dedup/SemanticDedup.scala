package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Semantic deduplication (the SemDeDup recipe): cluster the embedding
  * space with k-means, then inside each cluster drop every vector that
  * has a SMALLER vec_id at cosine ≥ threshold — keep-first inside
  * semantic neighborhoods. This removes "same content, different
  * wording" duplicates that no token-level dedup (exact / MinHash /
  * SimHash) can see, at the price of the clustering being the blocking
  * key: near-dups split across cluster boundaries are missed, which is
  * the technique's documented recall tradeoff.
  *
  * Scale design: k-means is [[Similarity.kmeansCentroids]] (model-sized
  * driver fold — the one sanctioned driver action), assignment is a
  * per-row broadcast argmax (no shuffle, no lookup join), and pair
  * scoring is blocked by cell — Σ|cell|² work, never corpus², bounded
  * by construction: any cell past `cellCap` is sub-split into
  * independent sign-LSH tables and every bucket's pairs are enumerated
  * in memory with an early-exit min-dominator scan (see
  * [[dominatedWithin]]), so per-cell pair work is ~|cell|·cellCap
  * instead of |cell|² no matter how the clustering degenerates, and no
  * pair-sized row set is ever shuffled. The keep/drop verdict is a
  * per-vector
  * aggregate (min dominating id), not a connected-components pass: one
  * extra shuffle, deterministic, and no iterative loop. At 100 TB you
  * still raise `clusters` so cells stay executor-sized — the cap is
  * the safety net that keeps a degenerate clustering linearithmic, not
  * a license to under-cluster.
  *
  * Determinism: hash-seeded k-means + fixed iterations makes the model
  * a pure function of the data (up to float summation order in the
  * centroid means — use well-separated thresholds, not knife-edge
  * ones). Approximate by construction → no SQL oracle; pinned by
  * SemanticDedupSpec (structure, keep-first, determinism, plan shape).
  */
object SemanticDedup {

  /** Per-vector verdict: `(vec_id, cluster, dup_of, kept)` where
    * `dup_of` is the smallest same-cluster vec_id at cosine ≥
    * `threshold` (null ⇒ kept = true). */
  def semanticDedup(embeddings: DataFrame, clusters: Int,
                    threshold: Double, iters: Int = 8,
                    cellCap: Int = 512): DataFrame =
    semanticDedupWithModel(embeddings,
      Similarity.kmeansCentroids(embeddings,
        autoClusters(embeddings, clusters), iters), threshold, cellCap)

  /** clusters = 0 → k = ⌈√n⌉ (clamped to [4, 4096]), the asymptotic
    * balance point of the two k-dependent costs (assignment k·n·d vs
    * within-cell pairs (n²/k)·d). MEASURED caveat (round 8): at 20k
    * vectors the training/assignment constant (8 Lloyd iterations ×
    * n × k literal-centroid evaluations) dominates, so k = 8 beats
    * both n/250 (k=80: q104 7.7→11.0 s) and √n (k=142: 19.4 s) at
    * sf1 — the quadratic cell-pair term this mode exists for only
    * binds at corpora orders of magnitude past the sweep. Auto-k is
    * therefore OPT-IN (pass 0), with the spec-pinned defaults staying
    * explicit; the multiprobe form recovers recall at any k, and the
    * frozen-model ingest path is untouched. RE-MEASURED round 10 as
    * the paired default decision with knnGraphApprox's planes knob
    * (SCALE_AUDIT "auto-knob decision"): sf1 organic
    * auto 12.65 s vs fixed-8 6.53 s, sf10 auto 197.2 s vs fixed-8
    * 12.33 s — the k·n·d Lloyd/assignment constant dominates through
    * BOTH measured decades (cellCap already bounds the pair term at
    * any k), so √n stays opt-in. The two knobs get opposite defaults
    * for the same reason: each default is what the two-decade
    * measurement says is safe. */
  private[graft] def autoClusters(embeddings: DataFrame,
                                  clusters: Int): Int =
    if (clusters > 0) clusters
    else math.min(4096,
      math.max(4, math.ceil(math.sqrt(embeddings.count().toDouble)).toInt))

  /** [[semanticDedup]] against a FIXED centroid model — the form the
    * incremental ingest job ([[graft.jobs.SemanticIngestJob]]) and its
    * two-batch-equals-batch spec share: with the blocking cells frozen,
    * the verdict is a pure function of (corpus, model, threshold), so
    * batch and incremental runs are row-identical while every cell
    * stays within `cellCap` (beyond it the cap sub-splits cells — see
    * [[dominatedWithin]] — and the incremental job, whose per-batch
    * work is already bounded by batch × cell width, keeps the exact
    * within-cell contract; pass `cellCap = Int.MaxValue` to compare
    * the two beyond the cap). */
  def semanticDedupWithModel(embeddings: DataFrame,
                             model: Seq[Seq[Double]],
                             threshold: Double,
                             cellCap: Int = 512): DataFrame = {
    // materialize the assigned frame once: the population count, both
    // pair-join sides, and the verdict join all read it (without the
    // cut each reference re-runs the k·n·d assignment argmax)
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cell", Similarity.nearestCell(col("v"), model))
      .localCheckpoint(true)
    e.select(col("vec_id"), col("cell").as("cluster"))
      .join(dominatedWithin(e, threshold, cellCap), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** How many independent sign-LSH tables an oversized cell is
    * sub-split into (the [[graft.sim.KnnGraph.knnGraphApprox]]
    * machinery turned inward, with exact bucket match per table). */
  private val SubTables = 4

  /** Smallest dominating same-cell id per vector (the keep-first
    * verdict core shared by the single- and multi-probe forms), with
    * within-cell pair work BOUNDED BY CONSTRUCTION: any cell whose
    * population exceeds `cellCap` is sub-split into [[SubTables]]
    * independent sign-LSH tables of s = ⌈log₂(p/cellCap)⌉ planes each
    * (s ≤ 40 — a bit-budget bound ≈ 2⁴⁰·cellCap members, beyond any
    * physical cell; recall per table decays as p_cˢ, so extreme s
    * degrades gracefully toward keep-everything rather than blowing
    * up), and a pair inside such a cell is compared iff its signatures
    * match exactly in at least one table.
    *
    * Scale contract: cells at or under the cap keep the EXACT
    * within-cell semantics (their rows carry the single constant
    * subkey 0, exactly the pre-cap join); an oversized cell of
    * population p costs T·p²/2ˢ ≈ T·p·cellCap pair work — LINEAR in p
    * for a fixed cap, so a decade of growth in a degenerate cell costs
    * a decade of work, never a hundredfold. Multi-table exact match
    * beats single-table Hamming-1 multiprobe on both axes here
    * (measured on q108 at sf1: probe fan-out (s+1)/2ˢ barely dents the
    * pair term at s ≤ 2 while tripling the probe-side shuffle): recall
    * inside a sub-split cell is 1 − (1 − p_cᔆ)ᵀ with p_c = 1 − θ/π
    * (threshold 0.95: s = 4 → 0.985, s = 6 → 0.95), pinned against
    * the exact verdict on the golden corpus in SemanticDedupSpec.
    * The per-cell populations are one model-sized aggregate (≤ #cells
    * rows to the driver); when nothing exceeds the cap — every spec and
    * oracle scale — every row keeps the single subkey 0 and the result
    * is row-identical to the uncapped form (scoring below is
    * bucket-local either way). */
  private def dominatedWithin(e: DataFrame, threshold: Double,
                              cellCap: Int,
                              dims: Int = 64): DataFrame = {
    require(cellCap > 0, "cellCap must be positive")
    // s grows without an artificial ceiling (s ≤ 40 is a bit-budget
    // bound, ~2⁴⁰·cellCap members — beyond any physical cell): a cell
    // needing s > 12 just keeps splitting, at the documented recall
    // cost p_cˢ per table. The IRREDUCIBLE residue is the set of
    // members sharing an identical signature (identical or
    // sign-identical vectors): no LSH, at any s, separates vectors it
    // cannot distinguish — an information boundary, not an
    // implementation choice. Such a bucket is definitionally
    // all-duplicates, so the ascending-id early-exit scan below does
    // O(p) COMPARE work on it; what remains bounded only by executor
    // memory is its p·d member buffer, measured to its breaking point
    // in SCALE_AUDIT "degenerate-cell ceiling" — the q113 Σ|block|²
    // style contract for this operator.
    val oversized: Map[Int, Int] = e.groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) ->
        (math.log(r.getLong(1).toDouble / cellCap) / math.log(2.0)))
      .filter(_._2 > 0.0)
      .map { case (c, s) => c -> math.min(40, math.ceil(s).toInt) }
      .toMap
    val keyed =
      if (oversized.isEmpty) e.withColumn("subcell", lit(0L))
      else {
        import graft.functions.VectorFunctions.lsh_signatures
        val maxP = oversized.values.max
        // subkey per table t: t·2⁴¹ + (low s bits of table-t signature)
        // — 2⁴¹ > 2^(s ≤ 40) keeps tables' key ranges disjoint; rows of
        // cells under the cap keep the single subkey 0 (no fan-out, no
        // behavior change). A qualifying pair may match in up to T
        // tables; the min-aggregate absorbs the duplicates.
        e.withColumn("__sub",
          coalesce(element_at(typedLit(oversized),
            col("cell").cast("int")), lit(0)))
          .withColumn("__sigs", lsh_signatures(col("v"), SubTables,
            maxP, dims))
          .select(col("cell"), col("vec_id"), col("v"),
            explode(expr("CASE WHEN __sub = 0 " +
              "THEN array(CAST(0 AS BIGINT)) " +
              s"ELSE transform(sequence(0, ${SubTables - 1}), t -> " +
              "(CAST(t AS BIGINT) << 41) + " +
              "(__sigs[t] & ((CAST(1 AS BIGINT) << __sub) - 1))) END"))
              .as("subcell"))
      }
    // Bucket-local scoring (the knnGraphApprox cogroup discipline
    // turned inward): the former (cell, subcell) self-join attached two
    // d-dim arrays to every candidate pair row — at sweep scale the
    // single pair-join job was ~17 of q108's ~18 s, almost all of it
    // shuffling/materializing ~0.5 KB pair rows. Instead, group the
    // bucket's members (vector attached ONCE per posting) and
    // enumerate ordered pairs in memory: ids ascending, so the FIRST
    // dominator found per member is the bucket minimum — early exit.
    // A degenerate all-duplicates bucket is therefore O(p), not O(p²)
    // (every member exits at its first comparison); the cap keeps
    // non-degenerate buckets ~cellCap deep. Only n·tables id+vector
    // rows ever shuffle; the final min-merge across tables/cells is a
    // shuffle of at most one row per (member, table-hit). Cosine is
    // the same index-order loop as CosineSimilarity (bit-equal
    // doubles) with Spark's NaN-is-largest compare semantics.
    val spark = e.sparkSession
    import spark.implicits._
    val parts = keyed
      .select(col("cell").cast("long"), col("subcell"), col("vec_id"),
        col("v"))
      .as[(Long, Long, Long, Array[Double])]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (_, it) =>
        // content-intern the vectors as they stream in: members with
        // equal embeddings share ONE array (DoubleBuffer wraps compare
        // by content), so the irreducible identical-signature bucket —
        // the one no LSH s can split — buffers p ids + refs plus ONE
        // vector instead of p·d doubles. Measured (SCALE_AUDIT
        // "degenerate-cell ceiling", 8g heap): the 90%-identical cell
        // broke at 3.6M members
        // un-interned; interned it passes 7.2M and breaks at 14.4M
        // (SCALE_AUDIT "degenerate-cell ceiling"). Distinct-heavy
        // buckets pay one O(d) hash per member and keep their
        // (sub-split-bounded) size.
        val intern = new java.util.HashMap[java.nio.DoubleBuffer,
          Array[Double]]()
        val ms = it.map { t =>
          val prev = intern.putIfAbsent(java.nio.DoubleBuffer.wrap(t._4),
            t._4)
          (t._3, if (prev == null) t._4 else prev)
        }.toArray
        ms.sortInPlaceBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var j = 1
        while (j < ms.length) {
          val vB = ms(j)._2
          var i = 0
          var found = false
          while (i < j && !found) {
            val vA = ms(i)._2
            val n = math.min(vA.length, vB.length)
            var dot = 0.0; var na = 0.0; var nb = 0.0; var x = 0
            while (x < n) {
              val a = vA(x); val b = vB(x)
              dot += a * b; na += a * a; nb += b * b
              x += 1
            }
            val cos = dot / (math.sqrt(na) * math.sqrt(nb))
            if (java.lang.Double.compare(cos, threshold) >= 0) {
              out += ((ms(j)._1, ms(i)._1))
              found = true
            }
            i += 1
          }
          j += 1
        }
        out.iterator
      }
    parts.toDF("vec_id", "d")
      .groupBy(col("vec_id")).agg(min(col("d")).as("dup_of"))
  }

  /** The two cells with the highest centroid cosine, ties to the lower
    * index; element 1 is exactly [[Similarity.nearestCell]]'s pick, so
    * the reported `cluster` column matches the single-probe form.
    * Round-15: the [[graft.functions.NearestCellsFloat]] codegen
    * kernel, take2 form (HOF spec kept as [[nearest2CellsHof]]) —
    * this ran interpreted on every multiprobe corpus row. */
  private[graft] def nearest2Cells(v: Column,
                                   centroids: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NearestCellsFloat(
        org.apache.spark.sql.graftbridge.Bridge.expression(v),
        centroids.map(_.toIndexedSeq).toIndexedSeq,
        l2 = false, take2 = true))

  /** The pre-kernel HOF 2-cell form — KEPT as the executable
    * specification [[nearest2Cells]] is pinned against
    * (NearestCellFloatKernelSpec). */
  private[graft] def nearest2CellsHof(v: Column,
                                      centroids: Seq[Seq[Double]]): Column = {
    val scored = transform(typedLit(centroids),
      (c, i) => struct(Similarity.cosine(v, c).as("s"), (-i).as("ni")))
    // ascending struct sort then reverse ⇒ descending (s, ni): ties
    // prefer the larger ni = the smaller centroid index
    val sorted = reverse(array_sort(scored))
    if (centroids.size < 2)
      array((-element_at(sorted, 1).getField("ni")).cast("int"))
    else array(
      (-element_at(sorted, 1).getField("ni")).cast("int"),
      (-element_at(sorted, 2).getField("ni")).cast("int"))
  }

  /** [[semanticDedup]] with 2-nearest-cell multi-assignment: every
    * vector blocks into its TWO nearest cells, so a pair split across a
    * cell boundary is still compared whenever either ranks the other's
    * cell second — the standard multi-probe answer to the technique's
    * cross-cluster recall loss. Cost: Σ|cell|² doubles at most (each
    * vector appears in 2 blocks; a pair sharing both cells is scored
    * twice, which the min-aggregate absorbs), for recall measured at
    * 1.000 across clusters ∈ {4, 8, 16} vs the single-probe
    * 1.000/0.994/0.983 on the seeded golden corpus
    * (SemanticDedupSpec). The dominated set is a
    * SUPERSET of the single-probe one (every single-probe pair shares
    * a primary cell, which both members still carry), so `kept` only
    * flips true→false — pinned in the spec. */
  def semanticDedupMultiProbe(embeddings: DataFrame, clusters: Int,
                              threshold: Double, iters: Int = 8,
                              cellCap: Int = 512): DataFrame = {
    val model = Similarity.kmeansCentroids(embeddings,
      autoClusters(embeddings, clusters), iters)
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cells", nearest2Cells(col("v"), model))
      .localCheckpoint(true)
    val blocked = e.select(col("vec_id"), col("v"),
      explode(col("cells")).as("cell"))
    e.select(col("vec_id"), col("cells").getItem(0).as("cluster"))
      .join(dominatedWithin(blocked, threshold, cellCap),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }
}
