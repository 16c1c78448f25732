package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared management for the engine's persisted BUCKETED STORES — the
  * append-only external tables every incremental ingest job keeps
  * (hash store, MinHash sig/bucket stores, k-gram stores, segment
  * stores, semantic vector store, IVF-PQ postings/vecs). One store =
  * one parquet directory + one catalog entry + (r17) one LAYOUT
  * DESCRIPTOR (`<path>_layout`, a one-row parquet beside the data —
  * NOT inside it, where a table scan would read it as data) recording
  * (buckets, bucket key, sort keys, format version). A job names each
  * of its stores once, as a [[Store]] (path + seed layout) derived from
  * its `outDir`; every read, append and maintenance pass goes through
  * this object with that value.
  *
  * Why the descriptor exists — two fresh-session failure modes the
  * r16 IvfPqIndexJob audit surfaced, which every sibling store shared:
  *
  *  1. *Silent plan degradation*: the catalog entry (where Spark keeps
  *     bucket specs) dies with the session while the files survive, so
  *     a new session's `spark.read.parquet(path)` fallback loses the
  *     hash-partitioning and the store-side of every history join —
  *     the side that grows without bound — gains a full shuffle,
  *     exactly the cost the bucketing exists to avoid at 100 TB.
  *     [[view]] instead RE-REGISTERS the table from the descriptor
  *     (`CREATE TABLE … CLUSTERED BY … LOCATION`), keeping the
  *     co-located merge-join plan.
  *  2. *Layout corruption*: the bucket count used to come from a conf
  *     knob re-read per session; with the catalog gone, an append in a
  *     session with a CHANGED knob would create a new catalog entry
  *     over the same directory and write files under a different
  *     bucket modulus — mixed moduli in one store, silently wrong
  *     bucket pruning and joins from then on. [[append]] resolves the
  *     effective layout from the descriptor FIRST (the store's seed
  *     layout only shapes its very first write), so appends always
  *     match the files already on disk.
  *
  * A store from before the descriptor existed (no `_layout` file)
  * degrades exactly as before — plain path read, re-registration on
  * next append under its seed layout — and is upgraded in place by
  * that append writing the descriptor.
  *
  * Maintenance: appends add a file set per bucket per batch, so an
  * append-heavy store wants a periodic `compact(spark, store)` with the
  * job's own store declaration — `DedupIngestJob.hashStore(outDir)`,
  * `NearDupIngestJob.sigStore` / `bucketStore`,
  * `SubstringIngestJob.gramStore` / `seenStore`,
  * `SegmentIngestJob.segStore` / `seenStore`,
  * `SemanticIngestJob.vectorStore`, `IvfPqIndexJob.store(outDir, which)`
  * (a [[graft.jobs.CorpusIngestJob]] keeps the Dedup stores under
  * `<outDir>/hash` and the Substring stores under `<outDir>/scrub`).
  * `DedupIngestJob.compactStores` and `IvfPqIndexJob.compact` do this
  * for their jobs; audit with [[Layout.bucketFileCounts]].
  */
object BucketedStore {

  /** On-disk layout of one bucketed store. `version` is bumped when
    * the descriptor format or the write recipe changes. */
  final case class StoreLayout(buckets: Int, bucketKey: String,
                               sortKeys: Seq[String], version: Int = 1)

  /** First-write bucket count of the ingest stores. Must stay constant
    * for a given store — Spark rejects appends with a different bucket
    * spec — which the descriptor guarantees once the store exists. */
  val Buckets = 64

  /** One persisted store: its directory and the layout its first write
    * takes (`seed`; an existing store's descriptor wins over it). The
    * catalog name of the external table is derived from the path here
    * and nowhere else — bucket specs live in the catalog, not in
    * parquet. */
  final case class Store(path: String, seed: StoreLayout) {
    def table: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes("UTF-8"))
      "graft_store_" + md.take(8).map("%02x".format(_)).mkString
    }
  }

  object Store {
    /** A store bucketed and sorted on one key, seeding [[Buckets]]. */
    def keyed(path: String, key: String): Store =
      Store(path, StoreLayout(Buckets, key, Seq(key)))
  }

  private def layoutPath(path: String): String = s"${path}_layout"

  private[graft] def loadLayout(spark: SparkSession,
                                path: String): Option[StoreLayout] = {
    val lp = layoutPath(path)
    if (!Fs.pathExists(spark, lp)) return None
    val df = spark.read.parquet(lp)
    val need = Seq("buckets", "bucket_key", "sort_keys", "version")
    if (!need.forall(df.columns.contains)) return None
    val r = df.select(need.map(col): _*).head()
    Some(StoreLayout(r.getInt(0), r.getString(1),
      r.getSeq[String](2).toSeq, r.getInt(3)))
  }

  private def saveLayout(spark: SparkSession, path: String,
                         l: StoreLayout): Unit = {
    import spark.implicits._
    Seq((l.buckets, l.bucketKey, l.sortKeys, l.version))
      .toDF("buckets", "bucket_key", "sort_keys", "version")
      .coalesce(1).write.mode("overwrite").parquet(layoutPath(path))
  }

  /** Re-create the catalog entry for an existing store from its
    * descriptor — schema from the parquet footers, bucket spec from
    * the layout. Idempotent (IF NOT EXISTS). */
  private def register(spark: SparkSession, table: String, path: String,
                       l: StoreLayout): Unit = {
    val ddl = spark.read.parquet(path).schema.toDDL
    val sorted = l.sortKeys.map(s => s"`$s`").mkString(", ")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS `$table` ($ddl)
         |USING parquet
         |CLUSTERED BY (`${l.bucketKey}`) SORTED BY ($sorted)
         |INTO ${l.buckets} BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** Bucket-aware store view: the catalog table when registered; a
    * fresh session over an existing store re-registers from the
    * descriptor (keeping the bucketed plan); a descriptor-less legacy
    * store falls back to a plain path read (correct, unbucketed until
    * its next append upgrades it). None = store does not exist. */
  def view(spark: SparkSession, store: Store): Option[DataFrame] = {
    val table = store.table
    if (spark.catalog.tableExists(table)) Some(spark.table(table))
    else if (Fs.pathExists(spark, store.path))
      loadLayout(spark, store.path) match {
        case Some(l) =>
          register(spark, table, store.path, l)
          Some(spark.table(table))
        case None => Some(spark.read.parquet(store.path))
      }
    else None
  }

  /** [[view]] as the history side of an ingest job's per-batch join,
    * with a `merge` join hint. A left-anti join can only broadcast its
    * RIGHT side, which is the store — the side that grows without
    * bound — so without the hint Spark re-collects and re-broadcasts
    * the whole store every micro-batch while it sits under the
    * broadcast threshold, and the per-batch cost climbs with store
    * size until the driver chokes (measured: SegmentIngestJob 5.9 →
    * 21 s/batch over 12 batches broadcast-on vs flat ~5 s with merge —
    * SCALE_AUDIT "ingest throughput"). Sort-merge keeps the bucketed
    * store co-located: only the batch side exchanges, at any store size
    * (asserted in DedupIngestSpec and SemanticIngestSpec). A missing
    * store is the one absence handled here; genuine read failures
    * PROPAGATE so the batch retries instead of silently admitting
    * duplicates. */
  def history(spark: SparkSession, store: Store): Option[DataFrame] =
    view(spark, store).map(_.hint("merge"))

  /** Bucket-preserving small-file compaction: every append writes its
    * own file set per bucket, the scan tax is per-FILE, and Spark only
    * trusts a bucketed table's SORTED BY metadata at ONE file per
    * bucket — so append-heavy stores need this maintenance pass
    * ([[Layout.compactionPlan]]'s rationale, executed at TABLE
    * granularity because per-file merging would break `saveAsTable`'s
    * bucket bookkeeping). Rewrite-into-fresh-table-then-swap: read the
    * RAW path (a bucketed catalog scan already claims the target
    * partitioning, so the planner would elide the repartition below
    * and then auto-disable the bucketed scan — measured in r17,
    * leaving file-split tasks and multi-file buckets), repartition by
    * the bucket key with the bucket count (repartition's Murmur3 IS
    * the bucket hash → task == bucket → one file per bucket), write
    * beside the store, swap directories, re-register. Row set
    * unchanged; requires a layout descriptor (a legacy store gets one
    * on its next [[append]]). No-op when the store doesn't exist. */
  def compact(spark: SparkSession, store: Store): Unit = {
    val (table, path) = (store.table, store.path)
    if (!Fs.pathExists(spark, path)) return
    val layout = loadLayout(spark, path).getOrElse(throw
      new IllegalStateException(s"no layout descriptor at " +
        s"${layoutPath(path)} — compact only manages descriptor-backed " +
        "stores (a legacy store is upgraded by its next append)"))
    val tmpTable = s"${table}_compacting"
    val tmpPath = s"${path}_compacting"
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    Fs.deletePath(spark, tmpPath)
    spark.read.parquet(path)
      .repartition(layout.buckets, col(layout.bucketKey))
      .write.format("parquet")
      .bucketBy(layout.buckets, layout.bucketKey)
      .sortBy(layout.sortKeys.head, layout.sortKeys.tail: _*)
      .option("path", tmpPath).mode("overwrite").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    Fs.deletePath(spark, path)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.rename(new Path(tmpPath), new Path(path)))
      throw new IllegalStateException(
        s"compaction swap failed: could not rename $tmpPath to $path")
    register(spark, table, path, layout)
  }

  /** Remove a store completely: catalog entry, data directory, AND the
    * layout descriptor — a stale descriptor surviving a data purge
    * would force the store's NEXT first write back into the old bucket
    * count regardless of the caller's intent. */
  def drop(spark: SparkSession, store: Store): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${store.table}`")
    Fs.deletePath(spark, store.path)
    Fs.deletePath(spark, layoutPath(store.path))
  }

  /** Append `df` to the store in ITS layout: the persisted descriptor
    * wins over `store.seed` (which only shapes the first write of a
    * brand-new store), and a lost catalog entry is re-registered
    * before the append so the files' bucket bookkeeping stays
    * consistent across sessions.
    *
    * The re-register-first step is also a DATA-LOSS guard, not just a
    * plan nicety: `saveAsTable(Append)` on a NONEXISTENT table plans
    * as CREATE-table-as-select, and (measured on Spark 4.1) that path
    * CLEARS an existing location before writing — so the pre-r17
    * append-after-catalog-loss flow silently wiped the store's entire
    * history and kept only the new batch. Any existing path therefore
    * goes through registration (descriptor layout when present; the
    * seed for a pre-descriptor store — the same one-layout-per-store
    * invariant those stores' appends always assumed) so the append
    * always runs against a REGISTERED table, where Append means
    * append. The create-as-select path is reached only for a genuinely
    * new store. Pinned in BucketedStoreSpec. */
  def append(df: DataFrame, store: Store): Unit = {
    val spark = df.sparkSession
    val (table, path, seed) = (store.table, store.path, store.seed)
    val persisted = loadLayout(spark, path)
    val layout = persisted.getOrElse(seed)
    require(layout.bucketKey == seed.bucketKey &&
      layout.sortKeys == seed.sortKeys,
      s"store at $path is keyed (${layout.bucketKey}; " +
        s"${layout.sortKeys.mkString(",")}), caller asked for " +
        s"(${seed.bucketKey}; ${seed.sortKeys.mkString(",")})")
    if (!spark.catalog.tableExists(table) && Fs.pathExists(spark, path))
      register(spark, table, path, layout)
    val w = df.write.format("parquet")
      .bucketBy(layout.buckets, layout.bucketKey)
      .sortBy(layout.sortKeys.head, layout.sortKeys.tail: _*)
      .mode("append")
    (if (spark.catalog.tableExists(table)) w
     else w.option("path", path)).saveAsTable(table)
    if (persisted.isEmpty) saveLayout(spark, path, layout)
  }
}
