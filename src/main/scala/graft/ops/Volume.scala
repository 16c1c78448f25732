package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.graph.Snapshots
import graft.io.Fs

/** Volume reduction + rollups (SURVEY.md §2.9 reduce_vol, §2.7 A4–A6,
  * §2.2 K4 upsert).
  *
  * Reference: per tx keep inflows only (diff>0), price-adjust, sum per unit
  * (/root/reference/src/etl_vol_transfers/main.py:134-139); Airflow rollups
  * re-aggregate `vol` by (unit, height) ÷ 1e6 and all-time by unit
  * (/root/reference/airflow/archive/dags/etl_vol_dag.py:60-92), upserted
  * ON CONFLICT (/root/reference/airflow/archive/dags/etl_vol_dag.py:24-39).
  */
object Volume {

  /** The schema of the `vol` sink table [[vol]] produces; its readers
    * pass it so they run no schema-inference job. */
  val volSchema: StructType = StructType(Seq(
    StructField("hash", StringType),
    StructField("height", LongType),
    StructField("slot", LongType),
    StructField("unit", StringType),
    StructField("value_adj", DoubleType)))

  /** The `vol` table: inflow rows (diff>0), price-adjusted, summed per
    * (hash, height, slot, unit).
    * @param netFlow  (hash, address, unit, diff) from NetFlow.compute
    * @param txMeta   (hash, height, slot) — tx → block context (J1)
    * @param priceDim Pricing.dimension output */
  def vol(netFlow: DataFrame, txMeta: DataFrame,
          priceDim: DataFrame): DataFrame = {
    val inflows = netFlow.filter(col("diff") > 0)
      .select(col("hash"), col("unit"), col("diff").as("value"))
    val adjusted = Pricing.adjust(inflows, priceDim)
    adjusted
      .groupBy(col("hash"), col("unit"))
      .agg(sum(col("value_adj")).as("value_adj"))
      .join(txMeta, Seq("hash"), "inner")
      .select(col("hash"), col("height"), col("slot"), col("unit"),
        col("value_adj"))
  }

  /** vol_by_block rollup: Σ value_adj per (unit, height) ÷ 1e6
    * (/root/reference/airflow/archive/dags/etl_vol_dag.py:63-67). */
  def byBlock(vol: DataFrame): DataFrame =
    vol.filter(col("value_adj") =!= 0.0)
      .groupBy(col("unit"), col("height"))
      .agg((sum(col("value_adj")) / 1e6).as("value_adj"))

  /** vol_all_time rollup: Σ per unit
    * (/root/reference/airflow/archive/dags/etl_vol_dag.py:81-85). */
  def allTime(volByBlock: DataFrame): DataFrame =
    // the reference's descending sort is display order only; left out,
    // since a sort costs a range-partitioning job and no caller reads order
    volByBlock.groupBy(col("unit"))
      .agg(sum(col("value_adj")).as("value_adj"))

  /** Keyed upsert (INSERT … ON CONFLICT DO UPDATE,
    * /root/reference/airflow/archive/dags/etl_vol_dag.py:24-39) as
    * anti-join + union: rows in `existing` whose key collides with an
    * update are replaced. Both sides shuffle on the key once. The
    * merge of [[upsertPartitioned]] (RollupJob's by-block leg,
    * EventTimeRollup's serving table) and of GraphMerge's edge store. */
  def upsert(existing: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame =
    existing.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)

  /** Partition-pruned read of only the `pbucket` partitions in
    * `touched` — O(touched buckets), never a full-table scan. The
    * caller passes the table's known schema, so no schema-inference job
    * runs per read (an untyped `spark.read.parquet` reads footers in a
    * Spark job of its own). */
  private def readTouched(spark: SparkSession, path: String,
                          schema: StructType,
                          touched: Seq[Long]): DataFrame = {
    val df = spark.read.schema(schema).parquet(path)
    if (touched.isEmpty) df.limit(0)
    else df.filter(col("pbucket").isin(touched: _*))
  }

  /** One dynamic-partition-overwrite write of the `pbucket`-partitioned
    * frame `df` to `path`: it replaces exactly the partitions `df` holds
    * and leaves every other partition of the table as it is. The new
    * files are staged and swapped in at commit, so a write whose job
    * fails leaves the previous rows readable. A static
    * `mode("overwrite")` would not: it deletes the table (or a regular
    * file at its path) before its job runs. */
  def overwritePartitions(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)

  /** Partition-granular keyed upsert: merge `updates` (which must carry
    * a long-valued `pbucket` column) into the `pbucket`-partitioned
    * table at `path`, reading and rewriting ONLY the `touched`
    * partitions ([[overwritePartitions]]) — O(touched buckets), never
    * the rest of the table. The at-scale form of [[upsert]], for
    * incremental writes: RollupJob's by-block leg (the tick's height
    * buckets) and EventTimeRollup's serving table (a micro-batch's day
    * buckets).
    *
    * `touched` must cover every `pbucket` in `updates`; a superset is
    * fine (its extra partitions are rewritten unchanged). Callers
    * observe it on a cut that already runs
    * ([[graft.graph.Snapshots.cutObserved]] with `collect_set(pbucket)`),
    * so no job runs to find it. The merged partitions materialize once,
    * as one cut, before the write overwrites the files they were read
    * from, and are released even when that cut or the write fails. A
    * table's first write is `updates` as given. */
  def upsertPartitioned(spark: SparkSession, path: String,
                        updates: DataFrame, keys: Seq[String],
                        touched: Seq[Long]): Unit = {
    if (!Fs.pathExists(spark, path)) {
      overwritePartitions(updates, path)
      return
    }
    if (touched.isEmpty) return
    val existing = readTouched(spark, path, updates.schema, touched)
    val merged = upsert(existing, updates, keys)
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK)
    try {
      Snapshots.materialize(merged)
      overwritePartitions(merged, path)
    } finally Snapshots.release(merged)
  }
}
