package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Document deduplication operators for training-data pipelines
  * (BASELINE.json north star: dedup as a first-class engine capability).
  *
  * All hashing is md5-based and 60-bit (15 hex chars → BIGINT) so every
  * operator is reproducible in ANSI-ish SQL for the DuckDB oracle — no
  * engine-specific hash functions on the comparison surface. Everything is
  * shuffle-bounded: no driver-side collects, no cross joins except within
  * LSH buckets (whose size is controlled by banding).
  */
object Dedup {

  /** 60-bit hash of a string column via md5 — identical in Spark
    * (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
    * (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Normalize text for hashing: lowercase, strip non-alphanumerics,
    * collapse whitespace. One codegen'd byte scan
    * ([[graft.functions.TextNormalize]]) — byte-identical to the
    * regex chain it replaced ([[normalizeRegex]], kept for the
    * NormalizeKernelSpec equivalence pin), which walked every document
    * through the regex engine twice and was the hottest kernel in the
    * engine (the classify token pass alone measured 527 CPU-s at
    * sf10). */
  def normalize(c: Column): Column =
    graft.functions.TextFunctions.normalize_text(c)

  /** The pre-round-11 regex form of [[normalize]] — the executable
    * specification the kernel is property-tested against. */
  private[graft] def normalizeRegex(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""),
      " +", " "))

  /** split([[normalize]](c), " ") in the same single scan — the token
    * stream every explode-based text operator rides. */
  def tokens(c: Column): Column =
    graft.functions.TextFunctions.normalized_tokens(c)

  /** Normalization that additionally strips noise/marker tokens
    * (boilerplate, watermarks) before hashing — the usual prelude to
    * exact dedup in training-data pipelines. Same one-scan kernel as
    * [[normalize]] (the r11 round killed 19 regex call sites; this was
    * the last regexp_replace in the hot dedup family). */
  def normalizeDropTokens(c: Column, noise: Seq[String]): Column =
    graft.functions.TextFunctions.normalize_drop(c, noise)

  /** The pre-round-12 regex form of [[normalizeDropTokens]] — the
    * executable specification the kernel is property-tested against
    * (NormalizeKernelSpec). */
  private[graft] def normalizeDropTokensRegex(c: Column,
                                              noise: Seq[String]): Column =
    trim(regexp_replace(
      regexp_replace(normalize(c), "\\b(" + noise.mkString("|") + ")\\b", ""),
      " +", " "))

  /** Exact dedup (hash-groupBy): groups identical normalized texts; emits
    * (doc_id, canonical_id, content_hash) for every doc in a group of ≥2,
    * canonical = min doc_id. One shuffle on the 60-bit content hash — at
    * 100 TB this is the cheapest possible exact dedup (hash partitioning,
    * map-side distinct of (hash, id) first if ids repeat).
    *
    * `noiseTokens` forwards to [[normalizeDropTokens]], whose kernel
    * requires each entry to be a single already-normalized word
    * `[a-z0-9]+` (IllegalArgumentException otherwise) — multi-word
    * phrases or unnormalized spellings that the old regex form silently
    * accepted must be normalized/split by the caller first. */
  def exactDuplicates(docs: DataFrame,
                      noiseTokens: Seq[String] = Seq.empty): DataFrame = {
    val key = if (noiseTokens.isEmpty) normalize(col("text"))
      else normalizeDropTokens(col("text"), noiseTokens)
    // window over the hash instead of groupBy + self-join: the (expensive)
    // normalization runs once and the plan is one scan + one shuffle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash"))
    docs.select(col("doc_id"), hash60(key).as("content_hash"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("group_size") > 1)
      .select(col("doc_id"), col("canonical_id"), col("content_hash"))
  }

  private def shingleExplode(docs: DataFrame, n: Int): DataFrame = {
    val words = tokens(col("text"))
    docs.select(col("doc_id"), words.as("w"))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, greatest(size(w) - $n, 0)), " +
            s"i -> array_join(slice(w, i + 1, $n), ' '))")).as("shingle"))
  }

  /** Word n-gram shingles of the normalized text:
    * (doc_id, shingle) — distinct per doc. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleExplode(docs, n).distinct()

  /** Shingle set with each shingle reduced to a 64-bit xxhash — the
    * join/shuffle currency for the jaccard/minhash paths: hashing before
    * the distinct shrinks every downstream exchange (distinct, inverted
    * join, minhash) from ~25-byte strings to 8-byte longs. A collision
    * (~n²/2⁶⁵ over the corpus shingle vocabulary) could merge two
    * shingles and perturb one intersection count — negligible against
    * the near-dup thresholding these feed.
    *
    * The key is computed WITHOUT ever materializing the shingle string:
    * each word is hashed once, and the shingle key is xxhash64 over the
    * n-long slice of word hashes. The old form (array_join the slice,
    * then hash the string) re-copied every word's bytes into n shingle
    * strings before hashing them — measured at sf0.1 (n=5; SCALE_AUDIT
    * "funnel per-stage attribution at sf10") the word-hash pass is
    * 0.75 s vs 1.02 s and the q51
    * contamination consumer 0.81 s vs 1.26 s, with identical distinct
    * counts. Key VALUES differ from the string form, but every caller
    * treats the key as opaque equality currency (counts and
    * thresholded overlaps cross to outputs, never the hash itself) and
    * the md5-hash60 Oracle family ([[shingleKeysOracle]]) is the
    * cross-engine-replicable sibling, so the swap is plan-internal. */
  def shingleKeys(docs: DataFrame, n: Int = 3): DataFrame =
    shingleKeyStream(docs, n).distinct()

  /** [[shingleKeys]] WITHOUT the per-doc distinct — (doc_id, shingle)
    * with in-doc repeats preserved. The distinct is a full shuffle of
    * the entire corpus shingle set; consumers whose outputs are
    * invariant under in-doc repeats (countDistinct aggregates,
    * broadcast-probe filters that drop non-matches map-side) should
    * take this stream and skip that shuffle entirely. */
  def shingleKeyStream(docs: DataFrame, n: Int = 3): DataFrame =
    // one codegen'd scan (ShingleHashKeys) — BIT-EXACT with the lambda
    // form kept below as the executable spec: the HOF chain was
    // CodegenFallback (one interpreted lambda frame per token and per
    // window, a boxed slice per shingle), measured 137-181 CPU-s per
    // corpus pass at sf10 under the dedup family's map sides
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleFunctions
        .shingle_keys(col("text"), n)).as("shingle"))

  /** The pre-round-12 lambda form of [[shingleKeyStream]] — the
    * executable specification ShingleKernelSpec pins the kernel
    * against (key VALUES must match exactly: minhash signatures and
    * every hash-oracled overlap count are functions of them). */
  private[graft] def shingleKeyStreamHof(docs: DataFrame,
                                         n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        transform(tokens(col("text")), xxhash64(_)).as("wh"))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, greatest(size(wh) - $n, 0)), " +
            s"i -> xxhash64(slice(wh, i + 1, $n)))")).as("shingle"))

  /** MinHash signatures: for each of `numHashes` seeded hash functions,
    * the min over the doc's shingles of hash(seed, shingle).
    * Output (doc_id, seed, minhash).
    *
    * Hashing is xxhash64, not md5-hash60: minhash is approximate by
    * construction (never oracled cross-engine), and xxhash64 is codegen'd
    * native long math — no md5 digest + hex string + base conversion per
    * (shingle × seed) row, which dominated the round-1 q19 profile.
    * [[graft.functions.MinHashAgg]] computes the same signatures from
    * one TypedImperative buffer per doc (its splitmix64 family — the
    * SQL-surface form registered as graft_minhash); this one stays on
    * plain codegen'd aggregates. */
  def minhashSignatures(shingleDf: DataFrame,
                        numHashes: Int = 16): DataFrame = {
    // one min-aggregate column per seed instead of exploding every
    // shingle row numHashes× before aggregating: the map-side partial
    // computes all N mins in one pass over the un-inflated rows and
    // the shuffle carries ONE row per (doc, partition) — the same
    // single-buffer idea as MinHashAgg, expressed in vanilla codegen'd
    // aggregates. Hash values are identical (xxhash64 over the same
    // (int seed, shingle) pair), so signatures, buckets, and pair
    // outputs are bit-unchanged.
    val mins = (0 until numHashes).map(sd =>
      min(xxhash64(lit(sd), col("shingle"))).as(s"m$sd"))
    shingleDf.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(sd => col(s"m$sd")): _*))
          .as(Seq("seed", "minhash")))
  }

  /** LSH banding: group the signature's seeds into `bands` bands, bucket =
    * hash of the band's minhash vector; docs sharing any bucket become
    * candidate pairs (id1 < id2, distinct). Bucket join replaces the
    * all-pairs cross product — the standard sub-quadratic path.
    * xxhash64 hashes the sorted (seed, minhash) struct array directly —
    * no to_json serialization on the hot path (round-1 follow-up). */
  def lshCandidatePairs(signatures: DataFrame, numHashes: Int = 16,
                        bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    val buckets = signatures
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      // deterministic order inside the band key
      .agg(sort_array(collect_list(struct(col("seed"), col("minhash"))))
        .as("sig"))
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"), col("sig")).as("bucket"))
    val a = buckets.select(col("doc_id").as("id1"), col("bucket"))
    val b = buckets.select(col("doc_id").as("id2"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Shared Jaccard tail: given per-pair intersection counts and the
    * per-doc shingle-set sizes, attach |A|/|B| and keep pairs with
    * inter/(|A|+|B|−inter) ≥ threshold. The single place the formula,
    * the id1<id2 convention, and the output schema live. */
  private def jaccardFromCounts(inter: DataFrame, sizes: DataFrame,
                                threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("sz", "sz1"), Seq("id1"))
      .join(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("sz", "sz2"), Seq("id2"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  private def shingleSizes(shingleDf: DataFrame): DataFrame =
    shingleDf.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

  /** Exact n-gram Jaccard similarity for candidate (or all overlapping)
    * pairs, via the inverted shingle→doc join:
    * |A∩B| from the join, |A|/|B| from per-doc counts. Only pairs sharing
    * ≥1 shingle materialize — never the full cross product. */
  def jaccardPairs(shingleDf: DataFrame, threshold: Double): DataFrame = {
    val a = shingleDf.select(col("doc_id").as("id1"), col("shingle"))
    val b = shingleDf.select(col("doc_id").as("id2"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, shingleSizes(shingleDf), threshold)
  }

  /** Asymmetric shingle CONTAINMENT: |S(A)∩S(B)| / |S(A)| ≥ threshold —
    * "most of A's n-grams also appear in B". Catches quote/superset
    * relationships Jaccard misses (a paragraph pasted into a much longer
    * document scores near-zero Jaccard but containment ≈ 1), the
    * standard training-data signal for excerpt/boilerplate inclusion.
    *
    * Directed: (id1 → id2) and (id2 → id1) are independent rows with
    * different denominators. Same inverted-join scale shape as
    * [[jaccardPairs]] — only co-shingled pairs materialize, one shuffle
    * on the shingle key, then per-pair counts. */
  def containmentPairs(shingleDf: DataFrame, threshold: Double): DataFrame = {
    val a = shingleDf.select(col("doc_id").as("id1"), col("shingle"))
    val b = shingleDf.select(col("doc_id").as("id2"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id1") =!= col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    containmentFromCounts(inter, shingleSizes(shingleDf), threshold)
  }

  /** Rarest-first prefix postings (AllPairs/PPJoin candidate side):
    * each doc's first |S| − ⌈t·|S|⌉ + 1 shingles in global
    * (document-frequency asc, shingle asc) order. The − ε guards float
    * noise in t·sz (e.g. 0.3·10 → 3.0000000000000004, whose ceil would
    * shorten the prefix and silently DROP true pairs); erring low only
    * lengthens prefixes — never loses recall. */
  private def rarestFirstPrefixes(sh: DataFrame,
                                  threshold: Double): DataFrame = {
    val sizes = shingleSizes(sh)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("__df").asc, col("shingle").asc)
    val prefixLen =
      (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
        .cast("long")
    sh.join(df, Seq("shingle"))
      .withColumn("__rk", row_number().over(w))
      .join(sizes, Seq("doc_id"))
      .filter(col("__rk") <= prefixLen)
      .select(col("doc_id"), col("shingle"))
  }

  /** Exact |A∩B| for candidate pairs, computed only over the candidate
    * docs' shingles (the verification tail all three miners share).
    * @param materialize checkpoint the restricted shingle set when the
    *   caller's `sh` is expensive to recompute for the two join reads
    * @return (per-pair intersection counts, the restricted shingle set) */
  private def candidateIntersections(candidates: DataFrame, sh: DataFrame,
                                     materialize: Boolean)
      : (DataFrame, DataFrame) = {
    val candDocs = candidates.select(col("id1").as("doc_id"))
      .union(candidates.select(col("id2").as("doc_id"))).distinct()
    val candSh0 = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val candSh = if (materialize) candSh0.localCheckpoint(true) else candSh0
    val inter = candidates
      .join(candSh.select(col("doc_id").as("id1"), col("shingle")),
        Seq("id1"))
      .join(candSh.select(col("doc_id").as("id2"), col("shingle")),
        Seq("id2", "shingle"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    (inter, candSh)
  }

  /** Shared containment tail: attach |A| and keep inter/|A| ≥ t. */
  private def containmentFromCounts(inter: DataFrame, sizes: DataFrame,
                                    threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("sz", "sz1"), Seq("id1"))
      .withColumn("containment",
        col("inter").cast("double") / col("sz1").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("containment"))

  /** Exact Jaccard pairs via PREFIX FILTERING (Bayardo et al.'s
    * AllPairs / PPJoin candidate generation): only each doc's first
    * `|S| − ⌈t·|S|⌉ + 1` shingles — in a global rarest-first canonical
    * order — are indexed, instead of all of them.
    *
    * Why it is exact: J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉ (and symmetrically
    * for B, since |A∪B| ≥ max(|A|,|B|)). Let x be the canonically
    * smallest element of A∩B. If x were outside A's prefix, the whole
    * intersection would sit in A's last ⌈t·|A|⌉ − 1 positions —
    * contradiction; so x is in BOTH prefixes and the prefix-to-prefix
    * join finds every qualifying pair. Verification then computes the
    * true Jaccard over the candidates' FULL shingle sets, so no false
    * positives survive either — same results as [[jaccardPairs]], by
    * construction and by DedupSpec/PropertySpec equality tests.
    *
    * Why it scales where the inverted join cannot: a stop-shingle
    * shared by k docs costs k² join rows in [[jaccardPairs]]; here the
    * rarest-first order pushes common shingles OUT of prefixes
    * (df-ascending is the standard heuristic — any global total order
    * is correct), so hot postings shrink to the docs that genuinely
    * have few rarer shingles. Extra cost: one df aggregation and one
    * per-doc rank window — both linear in the shingle stream.
    *
    * When to use which: on the mild-skew synthetic corpus at sf0.1 the
    * extra shuffles measured SLOWER than [[jaccardPairs]] (5.0 s vs
    * 2.7 s), so the plain inverted join stays the default; this is the
    * swap-in when posting-length skew (stop-shingles, boilerplate)
    * makes Σ|posting|² the dominant term — the regime real web corpora
    * live in.
    */
  def jaccardPairsPrefix(shingleDf: DataFrame,
                         threshold: Double): DataFrame = {
    val sh = shingleDf
    val prefixes = rarestFirstPrefixes(sh, threshold)
    val a = prefixes.select(col("doc_id").as("id1"), col("shingle"))
    val b = prefixes.select(col("doc_id").as("id2"), col("shingle"))
    val candidates = a.join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    // exact verification over candidates' full sets (the
    // minhashDuplicatePairs tail, without the approximation upstream)
    val (inter, _) = candidateIntersections(candidates, sh,
      materialize = false)
    jaccardFromCounts(inter, shingleSizes(sh), threshold)
  }

  /** Prefix-filtered exact containment — the one-sided AllPairs
    * argument: containment(A→B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so the
    * canonically-smallest shared shingle cannot sit outside A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles (rarest-first order) — else the whole
    * intersection would fit in the ⌈t·|A|⌉ − 1 positions behind it.
    * Only A-side postings shrink (B is unconstrained — a superset
    * must stay fully indexed), but the A-prefix join against rare-
    * first shingles is what kills the stop-shingle blowup, exactly as
    * in [[jaccardPairsPrefix]]. Result-identical to
    * [[containmentPairs]] (equality pinned in DedupSpec). */
  def containmentPairsPrefix(shingleDf: DataFrame,
                             threshold: Double): DataFrame = {
    val sh = shingleDf
    val candidates = rarestFirstPrefixes(sh, threshold)
      .select(col("doc_id").as("id1"), col("shingle"))
      .join(sh.select(col("doc_id").as("id2"), col("shingle")),
        Seq("shingle"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val (inter, _) = candidateIntersections(candidates, sh,
      materialize = false)
    containmentFromCounts(inter, shingleSizes(sh), threshold)
  }

  /** MinHash+LSH near-dup pipeline: LSH candidates, then exact-Jaccard
    * verification of ONLY the candidates — the verification joins are
    * restricted to candidate docs' shingles, so its cost scales with the
    * candidate set (LSH's whole point), not with every overlapping pair
    * in the corpus (which is the exact-q18 cost this replaced). */
  def minhashDuplicatePairs(docs: DataFrame, threshold: Double,
                            n: Int = 3, numHashes: Int = 16,
                            bands: Int = 4): DataFrame = {
    // shingles feed both the signature and the verification paths —
    // materialize once (eager local checkpoint; a plain persist can still
    // compute branches concurrently within the first job)
    val sh = shingleKeys(docs, n).localCheckpoint(true)
    val candidates =
      lshCandidatePairs(minhashSignatures(sh, numHashes), numHashes, bands)
        .localCheckpoint(true)
    val (inter, candSh) = candidateIntersections(candidates, sh,
      materialize = true)
    jaccardFromCounts(inter, shingleSizes(candSh), threshold)
  }

  // ---- DuckDB-oracle-able MinHash family ---------------------------
  // Same pipeline shape as the xxhash64 operators above, with every
  // hash replaced by something ANSI-SQL-replicable: shingle keys are
  // md5-hash60 of the shingle string, the per-seed minhash functions
  // are Carter–Wegman universal hashes over the Mersenne prime 2³¹−1
  // (pure 64-bit integer math, products < 2⁶² — neither engine
  // overflows; the q64 Count-Min discipline), and band buckets are
  // md5-hash60 of the canonical "band:minhash,minhash,…" string. The
  // banded candidate set — approximate AS A CHANNEL (recall < 1 near
  // the threshold) — is then a DETERMINISTIC function of the corpus,
  // so the end-to-end pair output hash-matches a DuckDB twin exactly:
  // the q19 oracle. The xxhash64 family stays the default for pipeline
  // use (no md5 digest per (shingle × seed): one digest per shingle,
  // then integer transforms).

  private val MersenneP = 2147483647L

  /** h_seed(x) = (a·(x mod p) + b) mod p with (a, b) derived from the
    * seed — identical integer arithmetic in Spark and DuckDB. */
  private def universalHash(seed: Column, x: Column): Column =
    pmod(pmod(lit(1103515245L) * (seed + 1), lit(MersenneP)) *
      pmod(x, lit(MersenneP)) +
      pmod(lit(12345L) * (seed + 1) + 7L, lit(MersenneP)), lit(MersenneP))

  /** [[shingleKeys]] with md5-hash60 keys (one digest per shingle
    * occurrence) instead of xxhash64 — the oracle-able currency. */
  def shingleKeysOracle(docs: DataFrame, n: Int = 3): DataFrame =
    shingleExplode(docs, n)
      .select(col("doc_id"), hash60(col("shingle")).as("shingle"))
      .distinct()

  /** [[minhashSignatures]] over the universal-hash family: min over the
    * doc's (already md5-hashed) shingle keys of h_seed(key). */
  def minhashSignaturesOracle(shingleDf: DataFrame,
                              numHashes: Int = 16): DataFrame = {
    // same one-pass multi-min aggregation as [[minhashSignatures]];
    // with a literal seed the Carter–Wegman (a, b) coefficients
    // constant-fold at plan time
    val mins = (0 until numHashes).map(sd =>
      min(universalHash(lit(sd), col("shingle"))).as(s"m$sd"))
    shingleDf.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(sd => col(s"m$sd")): _*))
          .as(Seq("seed", "minhash")))
  }

  /** [[lshCandidatePairs]] with the bucket = md5-hash60 of the
    * canonical band string — cross-engine-identical banding. */
  def lshCandidatePairsOracle(signatures: DataFrame, numHashes: Int = 16,
                              bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    val buckets = signatures
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sort_array(collect_list(struct(col("seed"), col("minhash"))))
        .as("sig"))
      .select(col("doc_id"),
        hash60(concat(col("band").cast("string"), lit(":"),
          array_join(
            expr("transform(sig, x -> cast(x.minhash as string))"), ",")))
          .as("bucket"))
    val a = buckets.select(col("doc_id").as("id1"), col("bucket"))
    val b = buckets.select(col("doc_id").as("id2"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** [[minhashDuplicatePairs]] in the oracle family end to end —
    * deterministic banded candidates + exact-Jaccard verification, so
    * the output is hash-comparable against a DuckDB replica of the
    * same algorithm (the q19 oracle). Same scale shape as the default
    * family: verification cost tracks the candidate set only. */
  def minhashDuplicatePairsOracle(docs: DataFrame, threshold: Double,
                                  n: Int = 3, numHashes: Int = 16,
                                  bands: Int = 4): DataFrame = {
    val sh = shingleKeysOracle(docs, n).localCheckpoint(true)
    val candidates = lshCandidatePairsOracle(
      minhashSignaturesOracle(sh, numHashes), numHashes, bands)
      .localCheckpoint(true)
    val (inter, candSh) = candidateIntersections(candidates, sh,
      materialize = true)
    jaccardFromCounts(inter, shingleSizes(candSh), threshold)
  }

  /** SimHash (60-bit): per token-hash bit b, sum ±1 across the doc's
    * tokens; bit set where the sum is positive. Emitted as the packed
    * 60-bit value. The bit explode (tokens × 60) is shuffle-bounded with
    * map-side partial sums; a TypedImperativeAggregate packing the
    * counters into one buffer is the constant-factor upgrade at 100 TB. */
  def simhash(docs: DataFrame, bits: Int = 60): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), hash60(col("tok")).as("h"))
    toks
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("b"))
      .select(col("doc_id"), col("b"),
        when(expr("(h >> b) & 1") === 1, lit(1)).otherwise(lit(-1))
          .as("delta"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("delta")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("cast(1 as bigint) << b"))
        .otherwise(0L)).as("simhash"))
  }

  /** Near-dup pair list → dedup groups via connected components: docs
    * linked (transitively) by pairs share a cluster whose canonical
    * survivor is the minimum doc id — the standard "keep one per
    * near-dup cluster" step after MinHash/Jaccard pair mining.
    * @param pairs (id1, id2) near-dup pairs
    * @return (doc_id, canonical_id) for every doc in a cluster of ≥2 */
  def dupGroups(pairs: DataFrame): DataFrame =
    graft.graph.ConnectedComponents.run(
      // materialize the (small) pair list before the iterative algorithm:
      // CC references its edge input repeatedly, and without the cut the
      // whole upstream pair-mining pipeline re-executes per reference
      pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .localCheckpoint(true))
      .select(col("id").as("doc_id"), col("component").as("canonical_id"))

  /** SimHash via the custom TypedImperativeAggregate
    * (graft.functions.SimHashAgg): identical values to [[simhash]], but
    * one shuffle of one fixed-size buffer per doc instead of the
    * tokens × bits row explosion — the form that holds at 100 TB. */
  def simhashFast(docs: DataFrame, bits: Int = 60): DataFrame =
    docs
      .select(col("doc_id"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), hash60(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhash_agg(col("h"), bits)
        .as("simhash"))

  /** EXACT hamming-≤k near-dup pairs over the simhash — the classic
    * pigeonhole banding: split the `bits`-bit simhash into k+1 equal
    * blocks; any pair within hamming distance k differs in ≤ k blocks,
    * so at least one block matches exactly. Candidates come from the
    * per-block equality join (hash-shuffleable, never the cross
    * product), then `bit_count(h1 xor h2) ≤ k` verifies — no recall
    * loss, unlike MinHash banding. Everything is md5-deterministic
    * integer math → cross-engine oracle-able.
    * @return (id1, id2, hamming), id1 < id2 */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   bits: Int = 60): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0,
      s"bits=$bits must divide into maxHamming+1=$bands bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val banded = simhashFast(docs, bits)
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .withColumn("band", expr(s"(simhash >> (b * $width)) & $mask"))
    val a = banded.select(col("b"), col("band"),
      col("doc_id").as("id1"), col("simhash").as("h1"))
    val c = banded.select(col("b"), col("band"),
      col("doc_id").as("id2"), col("simhash").as("h2"))
    a.join(c, Seq("b", "band"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("h1"), col("h2"))
      .distinct() // a pair may share several intact bands
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Memorization-risk audit (the framing of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): per
    * document, the share of its DISTINCT n-gram shingles that also
    * occur in at least one OTHER document — a verbatim-overlap exposure
    * score ("how much of this doc could a model have memorized from
    * elsewhere"), reported as exact integers plus a floor-ppm rate.
    *
    * Scale: one shingle explode on the word-hash key currency (only
    * COUNTS cross to the output, so [[shingleKeys]] applies — no
    * shingle string is ever built), one document-frequency WINDOW over
    * the single shingle exchange — linear in shingle occurrences,
    * never pairwise (the same inverted shape as the contamination and
    * substring-scrub operators). The previous groupBy + join-back
    * computed the shingle explode twice (once per self-join side) and
    * exchanged ~70-byte gram strings; q133 sf10 114 → see SCALE_AUDIT. */
  def dupGramRates(docs: DataFrame, n: Int = 8): DataFrame = {
    val sh = shingleKeys(docs, n) // distinct per doc → count = df
    sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_ppm",
        expr("n_dup_grams * CAST(1000000 AS BIGINT) div n_grams"))
  }

  /** Fuzzy benchmark decontamination: MinHash/LSH near-dup pairs
    * BETWEEN two corpora — the probabilistic extension of the exact
    * shared-n-gram contamination check (q51), catching eval documents
    * that were paraphrased or lightly edited into the training set.
    * Benchmark ids ride through the shared pipeline under a reversible
    * negative tag (-1 − id), so id spaces may overlap freely; only
    * cross-corpus pairs return. Output: (doc_id, bench_id, jaccard).
    *
    * Scale: identical to [[minhashDuplicatePairs]] (banded buckets,
    * never all-pairs); the benchmark side is typically tiny, so its
    * signatures add negligible bucket mass. */
  def crossCorpusNearDups(corpus: DataFrame, bench: DataFrame,
                          threshold: Double, n: Int = 3,
                          numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // the sign encoding below requires non-negative ids on BOTH sides;
    // a negative input id would be silently misclassified as the other
    // corpus, so fail loudly instead (raise_error is codegen'd, the
    // comparison costs nothing on the happy path)
    def nonNeg(df: DataFrame, side: String): DataFrame = df.select(
      when(col("doc_id") >= 0, col("doc_id"))
        .otherwise(raise_error(concat(
          lit(s"crossCorpusNearDups: negative $side doc_id "),
          col("doc_id").cast("string")))).as("doc_id"),
      col("text"))
    val tagged = nonNeg(bench, "bench")
      .select((lit(-1L) - col("doc_id")).as("doc_id"), col("text"))
    val pairs = minhashDuplicatePairs(
      nonNeg(corpus, "corpus").unionByName(tagged),
      threshold, n, numHashes, bands)
    pairs
      .filter((col("id1") < 0) =!= (col("id2") < 0))
      .select(
        when(col("id1") >= 0, col("id1")).otherwise(col("id2"))
          .as("doc_id"),
        (lit(-1L) - when(col("id1") < 0, col("id1")).otherwise(col("id2")))
          .as("bench_id"),
        col("jaccard"))
  }

  /** EXACT companion of [[crossCorpusNearDups]]: cross-corpus n-gram
    * Jaccard via the inverted shingle join — only (corpus, bench) pairs
    * sharing ≥1 shingle materialize, never a cross product, and the
    * answer is deterministic (DuckDB-oracled, q136). This is the VERIFY
    * path for decontamination: on a big corpus the MinHash/LSH variant
    * bounds candidates, while this one is linear in the co-shingled
    * pair count. Output (doc_id, bench_id, jaccard).
    *
    * `maxDf` is the ABSOLUTE corpus-side document-frequency cap (the
    * [[graft.text.SparseSim.countCosinePairs]] discipline): shingles
    * held by more than `maxDf` corpus documents are dropped from BOTH
    * sides, and Jaccard is computed over the kept shingle space. A
    * stop-shingle in millions of corpus docs would otherwise turn one
    * bench posting into a millions-row join fan-out — exactly the
    * df ∝ N blow-up q115's relative cap had — while carrying no
    * decontamination signal (everyone shares "the quick brown"); an
    * absolute cap bounds every posting's fan-out at maxDf regardless
    * of corpus size. Deterministic given the cap → still hash-oracled. */
  def crossCorpusExactOverlap(corpus: DataFrame, bench: DataFrame,
                              threshold: Double, n: Int = 3,
                              maxDf: Int = 256): DataFrame = {
    // ONE corpus shingle build, ONE occurrence shuffle: df rides a
    // count-over-shingle window on the same exchange the intersection
    // join needs anyway, and the capped postings materialize
    // shingle-partitioned (localCheckpoint preserves partitioning), so
    // every downstream shingle-keyed consumer — the intersection join,
    // the kept-set distinct, the bsz semi-join — re-reads them without
    // re-exchanging. The previous form re-derived the shingle explode
    // three times (df agg, intersection join, sz1 semi-join): 7 scans /
    // 13 shuffles, the one r9 bench regression (1.31 → 2.11 s at
    // sf0.1). A stop-shingle's window group is df-sized pre-filter —
    // WindowExec buffers it via its spilling sorter, the same cost
    // class the old sort-merge join paid on that key.
    val capped = shingleKeys(corpus, n)
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
      .filter(col("__df") <= maxDf)
      .drop("__df")
      .localCheckpoint(true)
    val bs = shingleKeys(bench, n)
      .withColumnRenamed("doc_id", "bench_id")
      // the semi-join keeps ONLY bench shingles in the capped corpus
      // space — sz2's denominator contract (the oracle mirrors it);
      // the corpus side is already shingle-partitioned, the (tiny)
      // bench side is the only exchange
      .join(capped.select(col("shingle")).distinct(),
        Seq("shingle"), "left_semi")
    // the intersection join's corpus side is the capped postings as-is:
    // over-cap shingles are simply absent, per-shingle fan-out ≤ maxDf ×
    // its bench df
    val inter = capped.join(bs, Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
    // sz1 counts each corpus doc's shingles within the capped shingle
    // space (the Jaccard denominator the oracle mirrors) — a direct
    // map-side-combined aggregate of the capped postings, no semi-join
    val csz = shingleSizes(capped).withColumnRenamed("sz", "sz1")
    val bsz = bs.groupBy(col("bench_id")).agg(count(lit(1)).as("sz2"))
    inter
      .join(csz, Seq("doc_id"))
      .join(bsz, Seq("bench_id"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("bench_id"), col("jaccard"))
  }

  /** Embedding near-dup: exact cosine within coarse blocks (here the
    * precomputed `label` cluster — the blocking key that keeps the pair
    * count sub-quadratic), pairs with cosine ≥ threshold.
    *
    * SANCTIONED EXACT/VERIFY PATH (the q113/q18 discipline): within a
    * block this is Σ|block|², which a decade of growth in a hot block
    * turns quadratic. Its implemented, measured scale siblings are
    * [[SemanticDedup.semanticDedupWithModel]] (same keep/drop problem,
    * cellCap-bounded by construction — sub-splits any oversized block
    * into sign-LSH tables) and [[graft.sim.KnnGraph.knnGraphApprox]]
    * (same pair mining as a bounded k-NN graph). Use this form to
    * audit a bounded slice or verify the approximate paths' recall,
    * not as the 100 TB transform. */
  def embeddingNearDups(embeddings: DataFrame,
                        threshold: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("label"), col("vec_id").as("id1"),
      col("v").as("v1"))
    val b = e.select(col("label"), col("vec_id").as("id2"),
      col("v").as("v2"))
    a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("label"))
  }
}
