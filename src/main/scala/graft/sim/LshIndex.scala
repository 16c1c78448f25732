package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sign-LSH ANN index — the build-once / probe-many form of
  * [[Similarity.lshTopKMulti]] for a corpus that outlives a session.
  *
  * `lshTopKMulti` re-signatures the whole corpus per query batch: fine
  * inside one job, wrong at 100 TB where the corpus is static and query
  * batches arrive all day. Here signatures are computed ONCE at build
  * time, as TWO tables:
  *
  *  - `<name>`: (tb, vec_id) — 16-byte postings, sorted+bucketed by the
  *    combined bucket key `tb = table·2^planes + bucket`. Probe keys
  *    (|queries| × tables × (planes+1) values — bounded by the QUERY
  *    batch, never the corpus) push down as an `In(tb, ...)` parquet
  *    filter; row-group min/max stats on the sorted tb prune the rest.
  *  - `<name>_vec`: (vec_id, v) — each vector stored ONCE, bucketed by
  *    vec_id. Storing v inside the postings (the first-cut design)
  *    duplicated every vector ×tables and dragged ~0.5 KB per candidate
  *    row through the dedup shuffle; at 100 TB that multiplies the
  *    whole corpus 24×. Vectors now join back AFTER the candidate-pair
  *    dedup, co-located with the bucketed store.
  *
  * Probe plan: postings scan (pushed keys) ⋈ broadcast probe frame →
  * distinct (query_id, vec_id) pairs (16-byte rows through the one
  * data-sized shuffle) → bucketed vec join → broadcast query-vector
  * join → exact cosine rerank, per-query top-k.
  *
  * Probe results are row-identical to `lshTopKMulti` at the same
  * (tables, planes, dims, probeBits) — pinned in LshIndexSpec.
  */
object LshIndex {

  /** Catalog-safe index name derived from the corpus directory. The
    * PATH ITSELF (sanitized) is embedded — not a hash of it — so two
    * distinct directories can never collide into one index name. */
  def indexNameFor(path: String): String = {
    val sane = path.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    s"graft_lsh_idx_$sane"
  }

  /** Source-data fingerprint from driver-side file metadata only
    * (paths + lengths + mtimes — no Spark job): catches the corpus
    * being rewritten in place under an existing index. */
  def fingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("MD5")
    val files = df.inputFiles.sorted
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      md.update(
        s"$f|${st.getLen}|${st.getModificationTime};".getBytes("UTF-8"))
    }
    files.length + "_" + md.digest().map("%02x".format(_)).mkString
  }

  /** Build unless a CURRENT index for this corpus AND this recipe
    * exists: presence is checked via the catalog, currency via the
    * stored [[fingerprint]] PLUS the build dials (tables, planes,
    * dims, buckets — the IvfPqIndexJob descriptor rule, r17: an index
    * signed under other dials answering for these would be a silent
    * recall/geometry change, and pre-descriptor metas fail the column
    * check and rebuild). A stale or missing index is rebuilt; a fresh
    * one is reused as-is. The check is driver metadata only — nothing
    * added to the probe path. */
  def ensureBuilt(embeddings: DataFrame, table: String,
                  tables: Int = 24, planes: Int = 8, dims: Int = 64,
                  buckets: Int = 32): Unit = {
    val spark = embeddings.sparkSession
    val meta = s"${table}_meta"
    val fp = fingerprint(embeddings)
    val need = Seq("fingerprint", "tables", "planes", "dims", "buckets")
    val fresh = spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(meta) && {
        val m = spark.table(meta)
        need.forall(m.columns.contains) && {
          val r = m.select(need.map(col): _*).head()
          r.getString(0) == fp && r.getInt(1) == tables &&
            r.getInt(2) == planes && r.getInt(3) == dims &&
            r.getInt(4) == buckets
        }
      }
    if (!fresh) {
      build(embeddings, table, tables, planes, dims, buckets)
      import spark.implicits._
      dropTableAndLocation(spark, meta)
      Seq((fp, tables, planes, dims, buckets))
        .toDF("fingerprint", "tables", "planes", "dims", "buckets")
        .write.saveAsTable(meta)
    }
  }

  private def dropTableAndLocation(spark: SparkSession, t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.io.Fs.deletePath(spark, new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase).toString)
  }

  /** Build the two index tables. `buckets` is a file-layout choice
    * (power of two → splittable re-bucketing, per io.Layout), not a
    * hash-table parameter. */
  def build(embeddings: DataFrame, table: String,
            tables: Int = 24, planes: Int = 8, dims: Int = 64,
            buckets: Int = 32): Unit = {
    val spark = embeddings.sparkSession
    // a table location can survive a JVM whose in-memory catalog didn't
    // (bench/verify re-runs): overwrite only cleans locations the
    // CATALOG knows about, so purge stale directories explicitly or
    // saveAsTable dies with locationAlreadyExists
    Seq(table, s"${table}_vec").foreach(dropTableAndLocation(spark, _))
    val vecs = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val postings = vecs
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions
          .lsh_signatures(col("v"), tables, planes, dims))
          .as(Seq("table", "bucket")))
      .select(
        (col("table").cast("long") * (1L << planes) + col("bucket"))
          .as("tb"),
        col("vec_id"))
    graft.io.Layout.writeBucketed(postings, table, buckets, Seq("tb"))
    graft.io.Layout.writeBucketed(vecs, s"${table}_vec", buckets,
      Seq("vec_id"))
  }

  /** Probe the index with a query batch. The distinct probe-key set is
    * collected driver-side — sized by the query batch
    * (|q|·tables·(planes+1) longs), the same sanctioned bound as
    * k-means' centroid collect — and pushed into the postings scan.
    * @return (query_id, neighbor_id, rank) — lshTopKMulti's shape */
  def probe(spark: SparkSession, table: String, queries: DataFrame, k: Int,
            tables: Int = 24, planes: Int = 8, dims: Int = 64,
            probeBits: Int = 1): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      "probeBits: only Hamming radius 0 or 1 is supported")
    import graft.functions.VectorFunctions.{cosine_sim, lsh_signatures}
    import spark.implicits._
    // ONE driver-side collect of the query batch (|q| rows — the
    // sanctioned query-bounded collect). It yields the probe-key set
    // AND the two broadcast sides as LOCAL frames: without it, every
    // broadcast exchange re-ran the query scan + signature job, and
    // the key set cost a third run — five jobs' overhead for a batch
    // that fits in the driver's hand by definition.
    val qRows = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("sigs", lsh_signatures(col("qv"), tables, planes, dims))
      .as[(Long, Array[Double], Array[Long])].collect()
    val pairs = (for {
      (qid, _, sigs) <- qRows.toSeq
      t <- 0 until tables
      base = sigs(t)
      b <- base +: (if (probeBits == 1)
        (0 until planes).map(p => base ^ (1L << p)) else Seq.empty)
    } yield (qid, t.toLong * (1L << planes) + b)).distinct
    val probeKeys = pairs.map(_._2).distinct.sorted
    val qTb = broadcast(pairs.toDF("query_id", "tb"))
    val qv = broadcast(qRows.toSeq.map { case (qid, v, _) => (qid, v) }
      .toDF("query_id", "qv"))
    val postings = graft.io.Layout.read(spark, table)
      .filter(col("tb").isin(probeKeys: _*))
    // candidate pairs carry NOTHING but the two ids through the shuffle.
    // Partitioning by vec_id alone satisfies the (query_id, vec_id)
    // dedup's clustering AND lines up with the vec table's bucketing —
    // one exchange serves both, instead of dedup-shuffle + join-shuffle
    val cands = postings.join(qTb, Seq("tb"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .repartition(col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cands
      .join(graft.io.Layout.read(spark, s"${table}_vec"), Seq("vec_id"))
      .join(qv, Seq("query_id"))
      .withColumn("cosine", cosine_sim(col("qv"), col("v")))
      // vectors out before the top-k window (Similarity.bruteForceTopK
      // discipline: the window sort buffers whole rows)
      .select(col("query_id"), col("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }
}
