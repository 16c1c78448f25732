package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Snapshots

/** Byte-pair-encoding merge learning — the tokenizer TRAINING step
  * (classic BPE: repeatedly merge the most frequent adjacent symbol
  * pair), complementing [[Vocab]]'s id assignment and the BPE-ish
  * token segmentation in text analysis. Words start as character
  * sequences; each round counts adjacent pairs corpus-wide (weighted
  * by word frequency), merges the argmax pair everywhere, and records
  * it — the ordered merge list IS the tokenizer model.
  *
  * Scale design: the corpus collapses to the DISTINCT-word frequency
  * table first (the classic trick — pair counting is over unique words
  * weighted by n, so cost tracks vocabulary size, not corpus size).
  * Each round is one explode + one grouped sum (map-side combinable)
  * plus a 1-ROW collect (the argmax — model-sized driver action, same
  * sanction as the k-means centroid fold), and the merge application
  * is a per-word `aggregate` fold — no UDF, no driver data path. The
  * symbol table is checkpointed per round so round r never replays
  * rounds 0..r-1's folds.
  *
  * Determinism: argmax ties break on (count desc, left asc, right asc)
  * — the merge list is a pure function of the corpus. Driver-looped
  * with per-round argmax → no single SQL oracle; pinned by BpeSpec's
  * hand-computed golden corpus.
  *
  * Round 16: merge application rides the
  * [[graft.functions.BpeMergePass]] codegen kernel — the interpreted
  * `aggregate` folds (kept below as `mergePassHof` /
  * `mergePassMultiHof`, the executable specifications, pinned
  * bit-exact by BpeKernelSpec) copied the whole output array per
  * symbol per WORD over the distinct-word frame, and vocabulary grows
  * with the corpus (Heaps; SCALE_AUDIT "BPE training stressed at grown
  * vocabulary" measured the train vocab-linear at 2.6 → 5.9 → 26.0 s
  * across 10k → 100k → 1M types while the corpus axis stayed flat). */
object Bpe {

  private def kernelPass(s: Column, rules: Seq[(String, String)],
                         sequential: Boolean): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BpeMergePass(
        org.apache.spark.sql.graftbridge.Bridge.expression(s),
        rules, sequential))

  /** One greedy, left-to-right, non-overlapping merge pass of (l, r)
    * over a symbol array (the [[graft.functions.BpeMergePass]] kernel;
    * [[mergePassHof]] is the pinned specification). */
  private def mergePass(s: Column, l: String, r: String): Column =
    kernelPass(s, Seq((l, r)), sequential = false)

  /** The pre-kernel fold — KEPT as the executable specification the
    * kernel is pinned against (BpeKernelSpec): state is (output,
    * pending symbol); a freshly merged token never re-merges in the
    * same pass (pending resets to null), matching reference BPE. */
  private[graft] def mergePassHof(s: Column, l: String, r: String): Column = {
    def flush(acc: Column) =
      when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(array_append(acc.getField("out"), acc.getField("prev")))
    aggregate(s,
      struct(typedlit(Seq.empty[String]).as("out"),
        lit(null).cast("string").as("prev")),
      (acc, x) =>
        when(acc.getField("prev") === lit(l) && x === lit(r),
          struct(array_append(acc.getField("out"), lit(l + r)).as("out"),
            lit(null).cast("string").as("prev")))
          .otherwise(struct(flush(acc).as("out"), x.as("prev"))),
      acc => flush(acc))
  }

  /** Learn the top `merges` BPE merge operations from `docs`'s text.
    * @return (rank, left, right, pair_count) in learned order; fewer
    *         rows than `merges` when the corpus runs out of repeated
    *         pairs (pair_count 1 still merges, matching reference BPE).
    */
  def learnMerges(docs: DataFrame, merges: Int): DataFrame = {
    require(merges >= 1, "merge count must be positive")
    val spark = docs.sparkSession
    // distinct-word frequency table: all later rounds cost |vocab|
    var words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("s", expr("filter(split(word, ''), x -> x <> '')"))
      .select(col("n"), col("s"))
      .localCheckpoint(true)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < merges && !exhausted) {
      val top = words.filter(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(s) - 2), i -> " +
            "struct(element_at(s, i + 1) AS l, element_at(s, i + 2) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((rank, l, r, cnt))
        val prev = words
        words = words.withColumn("s", mergePass(col("s"), l, r))
          .localCheckpoint(true)
        // the new checkpoint is materialized (eager=true): the previous
        // round's blocks are dead weight — without this, block-manager
        // storage grows linearly with the merge count
        Snapshots.release(prev)
        rank += 1
      }
    }
    Snapshots.release(words)
    import spark.implicits._
    learned.result().toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("pair_count"))
  }

  /** One greedy left-to-right pass applying a SET of pairwise
    * symbol-disjoint merges: at each position the (prev, x) pair is
    * tested against every rule — disjointness means at most one can
    * match, so the combined pass is exactly the sequential composition
    * of the individual [[mergePass]]es. Kernel'd (r16);
    * [[mergePassMultiHof]] is the pinned specification. */
  private def mergePassMulti(s: Column,
                             rules: Seq[(String, String)]): Column =
    kernelPass(s, rules, sequential = false)

  /** The pre-kernel multi-rule fold — KEPT as the executable
    * specification (BpeKernelSpec). */
  private[graft] def mergePassMultiHof(s: Column,
                             rules: Seq[(String, String)]): Column = {
    def flush(acc: Column) =
      when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(array_append(acc.getField("out"), acc.getField("prev")))
    aggregate(s,
      struct(typedlit(Seq.empty[String]).as("out"),
        lit(null).cast("string").as("prev")),
      (acc, x) => {
        val merged = rules.foldLeft(
          struct(flush(acc).as("out"), x.as("prev"))) {
          case (els, (l, r)) =>
            when(acc.getField("prev") === lit(l) && x === lit(r),
              struct(array_append(acc.getField("out"), lit(l + r)).as("out"),
                lit(null).cast("string").as("prev")))
              .otherwise(els)
        }
        merged
      },
      acc => flush(acc))
  }

  /** Greedy prefix of `ranked` (already in (count desc, l, r) order)
    * whose merges are pairwise NON-CONFLICTING: a candidate is taken
    * only while none of {l, r, l+r} has been touched by an earlier
    * take, and skipping stops the scan (a skipped higher-count pair
    * must re-rank next round with fresh counts — taking later
    * candidates past it could reorder the learned list). Pure,
    * spec-testable. */
  private[graft] def selectBatch(ranked: Seq[(String, String, Long)],
                                 batch: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    var taken = 0
    var stop = false
    val it = ranked.iterator
    while (!stop && taken < batch && it.hasNext) {
      val c @ (l, r, _) = it.next()
      if (Seq(l, r, l + r).exists(used.contains)) stop = true
      else {
        out += c
        used ++= Seq(l, r, l + r)
        taken += 1
      }
    }
    out.result()
  }

  /** [[learnMerges]] in batched rounds: per round the pair counts are
    * computed ONCE and the longest non-conflicting PREFIX of the
    * ranked list (up to `batch` merges) is applied in one combined
    * fold pass — the classic batched-BPE trick, cutting driver rounds
    * (and checkpoint materializations) ~batch× for realistically
    * sized merge lists.
    *
    * Fidelity: a selected batch is pairwise symbol-disjoint, so
    * applying it cannot change any other selected pair's occurrence
    * count — each batched merge sees exactly the count sequential BPE
    * would have seen, and the combined pass equals the sequential
    * passes (BpeSpec pins equality against [[learnMerges]] on the
    * golden corpus and on random corpora). The one divergence window —
    * a pair CREATED by an earlier merge in the same round out-ranking
    * a later selection (sequential would have re-ranked) — is
    * conservatively narrowed by cutting the batch at the first
    * conflict; corpora where creation-reranking actually bites
    * batch > 1 are knife-edge tie cases, and `batch = 1` restores
    * exact sequential semantics by construction.
    * @return same schema as [[learnMerges]] */
  def learnMergesBatched(docs: DataFrame, merges: Int,
                         batch: Int = 8): DataFrame = {
    val (learned, _) = learnMergesBatchedRounds(docs, merges, batch)
    val spark = docs.sparkSession
    import spark.implicits._
    learned.toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("pair_count"))
  }

  /** Implementation of [[learnMergesBatched]] also reporting how many
    * DRIVER ROUNDS (pair-count jobs) ran — the quantity batching
    * exists to shrink; exposed for the spec's round-count assert. */
  private[graft] def learnMergesBatchedRounds(docs: DataFrame, merges: Int,
      batch: Int): (Seq[(Int, String, String, Long)], Int) = {
    require(merges >= 1, "merge count must be positive")
    require(batch >= 1, "batch must be positive")
    var words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("s", expr("filter(split(word, ''), x -> x <> '')"))
      .select(col("n"), col("s"))
      .localCheckpoint(true)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var rounds = 0
    var exhausted = false
    while (rank < merges && !exhausted) {
      val want = math.min(batch, merges - rank)
      // over-fetch: conflicts consume ranked rows without being taken
      val top = words.filter(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(s) - 2), i -> " +
            "struct(element_at(s, i + 1) AS l, element_at(s, i + 2) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(math.max(want * 4, 16)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        val picked = selectBatch(top, want)
        picked.foreach { case (l, r, cnt) =>
          learned += ((rank, l, r, cnt))
          rank += 1
        }
        val prev = words
        words = words.withColumn("s",
          mergePassMulti(col("s"), picked.map(p => (p._1, p._2))))
          .localCheckpoint(true)
        Snapshots.release(prev)
      }
    }
    Snapshots.release(words)
    (learned.result(), rounds)
  }

  /** Encode texts with a learned merge list: per word, character split
    * then every merge applied in rank order (the standard BPE encode).
    * `mergeList` is model-sized (it was a driver value at learn time).
    * An EMPTY merge list is legitimate — [[learnMerges]] returns one on
    * a degenerate corpus (all single-character words) — and encodes to
    * the plain character split, exactly [[encodeHof]]'s empty foldLeft
    * (the kernel itself requires ≥1 rule, so guard here).
    * @return (word, tokens) per distinct word in `docs`. */
  def encode(docs: DataFrame, mergeList: Seq[(String, String)]): DataFrame = {
    val base = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .withColumn("s", expr("filter(split(word, ''), x -> x <> '')"))
    if (mergeList.isEmpty) base.select(col("word"), col("s").as("tokens"))
    else
      // one SEQUENTIAL kernel pass (rule by rule in rank order) replaces
      // the foldLeft of mergeList.size chained interpreted aggregates —
      // the composition [[encodeHof]] pins bit-exact (BpeKernelSpec)
      base.select(col("word"),
        kernelPass(col("s"), mergeList, sequential = true).as("tokens"))
  }

  /** The pre-kernel encode composition — KEPT as the executable
    * specification (BpeKernelSpec). */
  private[graft] def encodeHof(docs: DataFrame,
                               mergeList: Seq[(String, String)]): DataFrame = {
    val base = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .withColumn("s", expr("filter(split(word, ''), x -> x <> '')"))
    val encoded = mergeList.foldLeft(col("s")) {
      case (acc, (l, r)) => mergePassHof(acc, l, r)
    }
    base.select(col("word"), encoded.as("tokens"))
  }
}
