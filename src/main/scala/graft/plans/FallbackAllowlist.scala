package graft.plans

/** The adjudicated CodegenFallback allowlist — exactly what each
  * registry query is permitted to evaluate interpreted, over the
  * BUILD ∪ exec plan set (round 15: the inventory captures plans
  * executed during DataFrame construction — localCheckpoint
  * materializations, Lloyd iterations, model collects — via a
  * QueryExecutionListener, closing the blind spot the q104/q108 and
  * integer-assignment scale bugs lived in). FallbackInventorySpec
  * asserts BOTH directions: no unlisted fallback (a regression —
  * kernel it or adjudicate it here, with its reasoning) and no stale
  * entry (a kernel landed — remove the entry so the list states
  * exactly what runs interpreted).
  *
  * Adjudication classes (every entry belongs to one):
  *
  *  1. '''Bounded per-row folds''' — HOFs whose lambda count per row
  *     is a small constant (fixed embedding dims, sketch width, BPE
  *     merge count, spans/paragraphs per doc, per-order group size),
  *     NOT per corpus token. The per-token chains that class excluded
  *     are all kernel'd (NgramStructs/BlockHash60/NgramJoined r13,
  *     SpanCorrupt r14, NearestCells float + SignPack + QuantizedMatVec
  *     + L2sqLong r15) and their absence here is the point of the spec.
  *  2. '''Typed/sketch aggregates''' — custom TypedImperativeAggregates
  *     (SimHash, top-k, Count-Min, histogram-quantile, HLL-register,
  *     Bloom) and Spark's own (HLL++, collect_list/set, pivot,
  *     datasketches HLL). Aggregate buffers run on the aggregation
  *     iterator path — whole-stage codegen generates the surrounding
  *     consume/produce loop either way, and each of these holds
  *     per-group state no scalar expression could carry. The inputs
  *     they fold are already kernel'd columns where hot.
  *  3. '''Inherent parse/model nodes''' — from_json (the work IS the
  *     interpretation), and per-QUERY model scoring whose row count is
  *     the QUERY set (a fixed handful), structurally independent of
  *     corpus size.
  *
  * `LambdaFunction`/`NamedLambdaVariable` are the structural nodes
  * every HOF carries — grouped with their HOF, never alone.
  */
object FallbackAllowlist {

  private val core = Set("LambdaFunction", "NamedLambdaVariable")
  /** The SQ8 quantizer's BUILD-phase plans (visible since the r15
    * build-phase inventory): the packed per-dim quantize transform
    * (class 1 — fixed dims per row) plus the dims-SIZED stats assembly
    * `array_sort(collect_list(struct(dim, mn, mx)))` (class 2 — one
    * 64-row aggregate, model-sized). Shared by every integer-ANN /
    * integer-semantic query. */
  private val quantizer = core ++ Set("ArrayTransform", "CollectList",
    "ArraySort")

  val entries: Map[String, Set[String]] = Map(
    // class 1 — bounded per-row folds
    "q103_substring_dedup" -> (core ++ Set("ArrayTransform",
      "CollectSet")), // transform over the per-doc affected-span list
    "q105_bpe_merges" -> (core ++ Set("ArrayFilter", "ArrayTransform")),
    // BUILD-phase BPE training rounds over the DISTINCT-word frame:
    // the merge-pass ArrayAggregate is kernel'd since r16
    // (functions/BpeMergePass — the fold measured vocab-linear,
    // SCALE_AUDIT "BPE training stressed at grown vocabulary", and
    // vocabulary is Heaps-soft in the corpus); what
    // remains is the one-time char split (ArrayFilter) and the
    // per-round pair enumeration (ArrayTransform), each bounded by
    // word length per word, measured r16: the kernel cut the 1M-type
    // train 26.0 → 9.6 s (10-merge); the residue moves
    // with the pair-count explode + map-side-combinable aggregate and
    // the per-round checkpoint write — agg/IO-bound, not
    // interpreter-bound (see SCALE_AUDIT r16 BPE section)
    "q107_bpe_encode" -> (core + "ArrayFilter"),
    // char split only — the rank-order merge chain (one interpreted
    // ArrayAggregate PER TRAINED MERGE, each copying the output array
    // per symbol) rides the sequential BpeMergePass kernel since r16
    "q111_dedup_reps" -> (core + "ArrayFilter"), // medoid band filter
    "q118_paragraph_dedup" -> (core ++ Set("CollectList",
      "ArrayTransform", "ArraySort")), // per-doc paragraph reassembly
    "q21_text_quality" -> (core + "ArrayFilter"), // stopword-ratio gate
    "q23_langid" -> (core + "ArrayFilter"),
    "q57_quality_gate" -> (core + "ArrayFilter"),
    "q78_seq_export" -> (core ++ Set("CollectList", "ArrayTransform")),
    "q80_repetition" -> (core ++ Set("ArrayAggregate", "ArraySort",
      "ArrayTransform")), // per-doc gram-count fold (r8 adjudication)
    "q64_countmin" -> (core ++ Set("ArrayTransform", "CountMinAgg")),
    // transform over sketch width (fixed) + the sketch aggregate
    "q69_triangles" -> (core ++ Set("ArrayTransform", "CollectSet")),
    // BUILD-phase pair mining: per-order supplier set (class 2 group
    // aggregate) + in-array pair fan-out, both bounded by order size
    // exactly like the self-join form they replaced (measured 7.5 s →
    // array form at sf0.1); runs once behind the edge checkpoint
    "q19_minhash_lsh" -> (core ++ Set("ArrayTransform", "CollectList")),
    // BUILD-phase oracle banding: collect_list of the per-band
    // signature slice (rowsPerBand = 4 entries per group, class 2) +
    // a transform over the numHashes-sized signature array (16, fixed)
    "q134_fuzzy_decontamination" -> Set("CollectList"),
    // same band-signature assembly as q19, on the benchmark split

    // class 2 — typed/sketch aggregates
    "q20_simhash" -> Set("SimHashAgg"),
    "q62_simhash_pairs" -> Set("SimHashAgg"),
    "q40_approx_distinct" -> Set("HyperLogLogPlusPlus"),
    "q59_topk_agg" -> Set("TopKAgg"),
    "q61_hll_merge" -> Set("HllUnionAgg", "HllSketchEstimate",
      "HllSketchAgg"),
    "q63_hist_quantiles" -> Set("HistogramQuantileAgg"),
    "q68_hist_rollup" -> Set("HistogramQuantileAgg"),
    "q81_inverted_index" -> Set("CollectList"),
    "q85_pivot" -> Set("PivotFirst"),
    "q123_gram_moments" -> Set("ComplexTypedAggregateExpression"),
    // the typed single-pass moments Aggregator (NetFlowAgg sibling)
    "q82_bloom_prune" -> Set("BloomBuildAgg"),
    // BUILD-phase bloom construction (one sketch row to the driver)
    "q137_knn_graph_approx" -> Set("HyperLogLogPlusPlus"),
    // BUILD-phase auto-planes decision: one approx_count_distinct over
    // block keys (model-sized stats, the r10 measured default)

    // the corpus funnels compose the scrub (q103) and segment (q118)
    // stages, so their adjudications are those stages' — visible here
    // because the funnel checkpoints run at BUILD time
    "q106_corpus_pipeline" -> (core ++ Set("ArrayTransform",
      "CollectSet")),
    "q112_corpus_classified" -> (core ++ Set("ArrayTransform",
      "CollectSet")),
    "q128_corpus_curated" -> (core ++ Set("ArrayTransform",
      "CollectSet", "CollectList", "ArraySort")),

    // class 3 — inherent parse nodes and per-QUERY model scoring
    "q13_explode_map" -> Set("JsonToStructs"),
    "q32_pipeline_vol" -> Set("JsonToStructs"),
    "q33_pipeline_transfers" -> Set("JsonToStructs"),
    "q65_pq_ann" -> (core ++ Set("ArrayTransform", "ArrayAggregate",
      "ZipWith")),
    // per-QUERY ADC lookup-table build: subspaces·k·subDim fold terms
    // PER QUERY ROW (10 rows here, |queries| in general) — structurally
    // independent of corpus size, the corpus-side scan is element_at
    // lookups and the encode norm rides the codegen dot(v,v) since r15
    // q122/q124 dropped out of this list entirely with the r15
    // QuantizedMatVec kernel (zero fallbacks); q27 likewise with the
    // float NearestCells kernel.
    "q140_ivf_int_ann" -> quantizer,
    "q141_lsh_int_ann" -> quantizer,
    // q141's bucket assignment rides the SignPackLong kernel since
    // r15; the remaining ArrayTransform is the quantizer's plus the
    // per-QUERY Hamming-1 probe fan-out (planes+1 elements per query
    // row). Candidate scoring rides the L2sqLong kernel (r15).
    "q142_semantic_int_dedup" -> quantizer,
    "q143_pq_int_ann" -> quantizer,
    // q143's remaining ArrayTransform beyond the quantizer is the
    // per-QUERY ADC table build (class 3, the q65 argument in integer)
    "q144_semantic_int_multiprobe" -> quantizer,
    "q145_ivfpq_int_ann" -> quantizer,
    // q145 (IVF-PQ): coarse assignment, residual, residual encode, and
    // candidate scoring all ride kernels (NearestCellsInt,
    // CellResidualInt, L2sqLong); the ArrayTransform beyond the
    // quantizer's is the per-(query, probed-cell) ADC table build —
    // |queries|·nprobe rows, the q143/q65 class-3 argument
    "q146_ivfpq_index_probe" -> quantizer,
    // q146 (persisted IVF-PQ index): the BUILD phase is q145's
    // training pipeline (same quantizer set); the probe's ADC LUTs are
    // built DRIVER-SIDE from the frozen model, so the exec plan adds
    // no fallback at all — everything corpus-shaped rides kernels
  )
}
