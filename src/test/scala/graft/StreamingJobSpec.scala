package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import graft.jobs.{RawPersistJob, VolTransferJob, RollupJob}
import graft.ops.{Pricing, Volume}
import graft.streaming.{EventTimeRollup, ReplayServer}
import graft.ingest.BlockParser

class StreamingJobSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // two blocks: t1 creates outputs, t2 (next block) spends them
  private val line1 =
    """{"py/state":{"blocktype":"praos","era":"conway","height":100,""" +
      """"id":"b1","slot":1000,"transactions":[{"id":"t1","inputs":[],""" +
      """"outputs":[{"address":"A","datum":null,"value":""" +
      """"{\"ada\":{\"lovelace\":1000000}}"}],"fee":"1"}]}}"""
  private val line2 =
    """{"py/state":{"blocktype":"praos","era":"conway","height":101,""" +
      """"id":"b2","slot":1010,"transactions":[{"id":"t2","inputs":""" +
      """[{"index":0,"transaction":{"id":"t1"}}],"outputs":""" +
      """[{"address":"B","datum":null,"value":""" +
      """"{\"ada\":{\"lovelace\":400000}}"}],"fee":"2"}]}}"""

  private lazy val dim = Pricing.dimension(
    Seq.empty[(String, Double)].toDF("unit", "last_price_ada"),
    Seq.empty[(String, Int)].toDF("unit", "decimals"))

  test("raw persist job: memory stream → foreachBatch → 4 parquet tables") {
    val out = Files.createTempDirectory("graft_raw").toString
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        RawPersistJob.writeBatch(df, out)
      }.start()
    mem.addData(line1, line2)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$out/block").count() == 2)
    assert(spark.read.parquet(s"$out/tx").count() == 2)
    val payload = spark.read.parquet(s"$out/tx_output")
      .filter($"tx_hash" === "t1").select("payload").as[String].head()
    assert(payload.contains("lovelace"))
  }

  test("vol/transfer job: cross-batch UTXO resolution through the store") {
    val out = Files.createTempDirectory("graft_vol").toString
    // batch 1 (t1), then batch 2 (t2 spending t1's output)
    VolTransferJob.writeBatch(spark, Seq(line1).toDF("value"), dim, out)
    VolTransferJob.writeBatch(spark, Seq(line2).toDF("value"), dim, out)
    val vol = spark.read.parquet(s"$out/vol")
      .select("hash", "unit", "value_adj").as[(String, String, Double)]
      .collect().toSet
    assert(vol == Set(("t1", "lovelace", 1.0), ("t2", "lovelace", 0.4)))
    val edges = spark.read.parquet(s"$out/edges")
      .select("hash", "rx_addr", "send_addr", "value")
      .as[(String, String, String, Long)].collect().toSet
    // t2: B received 400000, A net-sent (A: −1000000, change-less)
    assert(edges == Set(("t2", "B", "A", 400000L)))

    // rollup chain on top
    RollupJob.run(spark, out)
    val byBlock = spark.read.parquet(s"$out/vol_by_block")
      .select("unit", "height", "value_adj")
      .as[(String, Long, Double)].collect().toSet
    assert(byBlock == Set(("lovelace", 100L, 1.0 / 1e6),
      ("lovelace", 101L, 0.4 / 1e6)))
    val allTime = spark.read.parquet(s"$out/vol_all_time")
      .select("unit", "value_adj").as[(String, Double)].collect().toSet
    assert(allTime == Set(("lovelace", 1.4 / 1e6)))
    val pr = spark.read.parquet(s"$out/address_pagerank")
    assert(pr.count() == 2) // nodes A and B
    // rollup is idempotent under re-run (upsert, not append; all-time
    // is recomputed from the by-block rows, which the re-run left equal)
    RollupJob.run(spark, out)
    assert(spark.read.parquet(s"$out/vol_by_block").count() == 2)
    val allTime2 = spark.read.parquet(s"$out/vol_all_time")
      .select("unit", "value_adj").as[(String, Double)].collect().toSet
    assert(allTime2 == Set(("lovelace", 1.4 / 1e6)))
  }

  test("rollup upsert is partition-granular: a tick rewrites only the " +
    "height buckets it touches") {
    val out = Files.createTempDirectory("graft_rollup").toString
    def files(bucket: Long): Set[String] = {
      val dir = new java.io.File(s"$out/vol_by_block/pbucket=$bucket")
      Option(dir.listFiles()).fold(Set.empty[String])(
        _.map(_.getName).filter(_.endsWith(".parquet")).toSet)
    }
    // tick 1: heights 5 and 100_015 → height buckets 0 and 1
    Seq(("t1", 5L, 50L, "u", 3e6), ("t2", 100015L, 150L, "u", 4e6))
      .toDF("hash", "height", "slot", "unit", "value_adj")
      .write.parquet(s"$out/vol")
    RollupJob.run(spark, out)
    val (b0, b1) = (files(0), files(1))
    assert(b0.nonEmpty && b1.nonEmpty)
    assert(spark.read.parquet(s"$out/vol_all_time")
      .select("unit", "value_adj").as[(String, Double)]
      .collect().toSet == Set(("u", 7.0)))

    // tick 2: only height 100_015 revised (4e6 → 5e6) + new height
    // 100_017 — bucket 1 only; bucket 0's files must be byte-identical
    Seq(("t2", 100015L, 150L, "u", 5e6), ("t3", 100017L, 170L, "u", 1e6))
      .toDF("hash", "height", "slot", "unit", "value_adj")
      .write.mode("overwrite").parquet(s"$out/vol")
    RollupJob.run(spark, out, sinceHeight = Some(100010L))
    assert(files(0) == b0, "untouched bucket was rewritten")
    assert(files(1) != b1, "touched bucket was not rewritten")
    val got = spark.read.parquet(s"$out/vol_by_block")
      .select("unit", "height", "value_adj").as[(String, Long, Double)]
      .collect().toSet
    assert(got == Set(("u", 5L, 3.0), ("u", 100015L, 5.0),
      ("u", 100017L, 1.0)))
    // all-time, recomputed from the by-block rows, follows the
    // revision: 3 + 5 + 1
    val at = spark.read.parquet(s"$out/vol_all_time")
      .select("unit", "value_adj").as[(String, Double)].collect()
    assert(at.length == 1 && math.abs(at.head._2 - 9.0) < 1e-9, at.toSeq)
  }

  /** A store whose rollups took their first (full) tick: heights 5 and
    * 100_015 of two units (height buckets 0 and 1), and a 3-address
    * edge set; returns the store and the windowed tick that revises
    * height 100_015 and adds 100_017 (height bucket 1 only, plus the
    * all-time and PageRank legs). */
  private def rolledStore(): (String, () => Unit) = {
    val out = Files.createTempDirectory("graft_tick").toString
    Seq(("t1", 5L, 50L, "u", 3e6), ("t2", 100015L, 150L, "u", 4e6),
      ("t3", 100015L, 150L, "w", 2e6))
      .toDF("hash", "height", "slot", "unit", "value_adj")
      .write.parquet(s"$out/vol")
    Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"))
      .toDF("send_addr", "rx_addr").write.parquet(s"$out/edges")
    RollupJob.run(spark, out)
    Seq(("t2", 100015L, 150L, "u", 5e6), ("t4", 100017L, 170L, "w", 1e6))
      .toDF("hash", "height", "slot", "unit", "value_adj")
      .write.mode("overwrite").parquet(s"$out/vol")
    (out, () => RollupJob.run(spark, out, sinceHeight = Some(100010L)))
  }

  /** Runs `body` with table `name` of `out` moved aside and a regular
    * file at its path, so any write to it fails, then moves it back. */
  private def withTableBlocked[T](out: String, name: String)(body: => T): T = {
    val table = java.nio.file.Path.of(out, name)
    val aside = java.nio.file.Path.of(out, s"$name.aside")
    Files.move(table, aside)
    Files.writeString(table, "not a table")
    try body finally { Files.delete(table); Files.move(aside, table) }
  }

  test("windowed rollup tick: Spark job count pin") {
    val (out, tick) = rolledStore()
    // 68 jobs when each touched set was a distinct + collect, each
    // stored read inferred its schema and each write was preceded by a
    // persist + count; 45 with the touched sets observed on cuts; 42
    // with the all-time partitions read once (merged by a full outer
    // join instead of read for the delta and again for the upsert); 40
    // with the vol and edges inputs read with their declared schemas;
    // 38 with vol_all_time recomputed from vol_by_block (no delta cut);
    // 33 with both recomputes written straight over their key buckets
    // (no read-back, anti-join or merged cut)
    val jobs = sparkJobs(tick())
    assert(jobs == 33, s"windowed tick ran $jobs Spark jobs")
    val at = spark.read.parquet(s"$out/vol_all_time")
      .select("unit", "value_adj").as[(String, Double)].collect().toMap
    assert(at.keySet == Set("u", "w"))
    assert(math.abs(at("u") - 8.0) < 1e-9 && math.abs(at("w") - 3.0) < 1e-9,
      at)
  }

  test("windowed rollup ticks leave no persistent RDD behind") {
    val (out, tick) = rolledStore()
    val leaked = newPersistentRDDs {
      withTableBlocked(out, "vol_all_time")(intercept[Exception](tick()))
      tick(); tick()
    }
    assert(leaked.isEmpty,
      s"${leaked.size} RDDs left after a failed tick and 2 ticks")
  }

  private def allTime(out: String): Map[String, Double] =
    spark.read.parquet(s"$out/vol_all_time")
      .select("unit", "value_adj").as[(String, Double)].collect().toMap

  private def byBlock(out: String): Set[(String, Long, Double)] =
    spark.read.parquet(s"$out/vol_by_block")
      .select("unit", "height", "value_adj")
      .as[(String, Long, Double)].collect().toSet

  // the vol_all_time case is the lost-volume window: the by-block upsert
  // commits, then the all-time one fails
  Seq("vol_all_time", "vol_by_block").foreach { table =>
    test(s"a failed $table upsert is repaired by the rerun") {
      val (ref, refTick) = rolledStore()
      refTick()
      val (out, tick) = rolledStore()
      withTableBlocked(out, table)(intercept[Exception](tick()))
      tick()
      assert(byBlock(out) == byBlock(ref))
      assert(allTime(out) == Map("u" -> 8.0, "w" -> 3.0), allTime(out))
    }
  }

  test("every job of a windowed tick carries the caller's local properties") {
    val (_, tick) = rolledStore()
    // the legs run on their own threads: a job that lost the caller's
    // properties would drop out of a traced tick span or a batch
    val seen = jobLocalProperty("graft.spec.tag", "tick")(tick())
    assert(seen.nonEmpty && seen.forall(_ == "tick"), seen)
  }

  test("a failed PageRank leg fails the tick after the vol leg committed") {
    val (ref, refTick) = rolledStore()
    refTick()
    val (out, tick) = rolledStore()
    // a regular file where the address_pagerank table should be
    val pagerank = java.nio.file.Path.of(out, "address_pagerank")
    graft.io.Fs.deletePath(spark, pagerank.toString)
    Files.writeString(pagerank, "not a table")
    intercept[Exception](tick())
    val legs = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-") && t.isAlive)
    assert(legs.isEmpty, legs.map(_.getName))
    assert(byBlock(out) == byBlock(ref))
    assert(allTime(out) == allTime(ref))
    // the rerun rewrites both vol tables unchanged: vol_all_time is
    // recomputed from the committed by-block rows
    Files.delete(pagerank)
    tick()
    assert(allTime(out) == allTime(ref))
    val scores = spark.read.parquet(s"$out/address_pagerank")
      .select("address", "score").as[(String, Double)].collect()
    assert(scores.map(_._1).sorted.toSeq == Seq("A", "B", "C"))
    assert(scores.forall(s => java.lang.Double.isFinite(s._2)), scores.toSeq)
  }

  test("upsertPartitioned over a touched superset rewrites the extra " +
    "buckets unchanged") {
    val path = Files.createTempDirectory("graft_upsert").toString + "/t"
    def rows = spark.read.parquet(path)
      .select("k", "v", "pbucket").as[(String, Double, Long)]
      .collect().toSet
    Volume.upsertPartitioned(spark, path,
      Seq(("a", 1.0, 0L), ("b", 2.0, 1L), ("c", 3.0, 2L))
        .toDF("k", "v", "pbucket"), Seq("k"), Seq(0L, 1L, 2L))
    val b2 = new java.io.File(s"$path/pbucket=2").listFiles().toSet
    // the updates hit bucket 0 only; buckets 1 and 5 are touched too
    Volume.upsertPartitioned(spark, path,
      Seq(("a", 10.0, 0L), ("d", 4.0, 0L)).toDF("k", "v", "pbucket"),
      Seq("k"), Seq(0L, 1L, 5L))
    assert(rows == Set(("a", 10.0, 0L), ("b", 2.0, 1L), ("c", 3.0, 2L),
      ("d", 4.0, 0L)))
    assert(new java.io.File(s"$path/pbucket=2").listFiles().toSet == b2,
      "a bucket outside the touched set was rewritten")
  }

  test("a failed overwritePartitions leaves the table readable and " +
    "unchanged") {
    val dir = Files.createTempDirectory("graft_overwrite").toString
    val path = s"$dir/t"
    def rows = spark.read.parquet(path)
      .select("k", "v", "pbucket").as[(String, Double, Long)]
      .collect().toSet
    val before = Set(("a", 1.0, 0L), ("b", 2.0, 1L))
    Volume.overwritePartitions(before.toSeq.toDF("k", "v", "pbucket"), path)
    // read from parquet, so the failure is raised by a task of the
    // write's job (a local frame would fail while planning, before any
    // write starts)
    Seq(("a", 10.0, 0L), ("b", 20.0, 1L)).toDF("k", "v", "pbucket")
      .write.parquet(s"$dir/src")
    val failing = spark.read.parquet(s"$dir/src").select(col("k"),
      when(col("k") === "b", raise_error(lit("injected write failure")))
        .otherwise(col("v")).as("v"), col("pbucket"))
    val e = intercept[Exception](Volume.overwritePartitions(failing, path))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected")), e)
    assert(rows == before)
  }

  test("socket source: replay server → streaming raw persist") {
    val out = Files.createTempDirectory("graft_sock").toString
    val server = new ReplayServer(Seq(line1, line2)).start()
    val q = RawPersistJob.run(spark, "localhost", server.port, out)
    // socket source has no processAllAvailable guarantee on data arrival;
    // poll for the expected rows
    val deadline = System.currentTimeMillis() + 30000
    var n = 0L
    while (n < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      n = try spark.read.parquet(s"$out/block").count()
      catch { case _: Throwable => 0L }
    }
    q.stop(); server.stop()
    assert(n == 2)
  }

  test("socket source: streaming vol/transfer flagship end-to-end") {
    val out = Files.createTempDirectory("graft_volsock").toString
    val server = new ReplayServer(Seq(line1, line2)).start()
    val q = graft.jobs.VolTransferJob.run(spark, "localhost", server.port,
      dim, out)
    val deadline = System.currentTimeMillis() + 30000
    var vol = Set.empty[(String, String, Double)]
    while (vol.size < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      vol = try spark.read.parquet(s"$out/vol")
        .select("hash", "unit", "value_adj")
        .as[(String, String, Double)].collect().toSet
      catch { case _: Throwable => Set.empty }
    }
    q.stop(); server.stop()
    // both lines may land in one micro-batch or two — either way the
    // UTXO store must resolve t2's spend of t1
    assert(vol == Set(("t1", "lovelace", 1.0), ("t2", "lovelace", 0.4)))
  }

  test("streaming tx dedup within watermark: replayed block's txs emitted " +
    "once") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val deduped = graft.streaming.EventTimeRollup.dedupTxs(
      graft.ops.Flatten.transactions(
        BlockParser.parse(mem.toDF())))
    val q = deduped.select("hash").writeStream
      .format("memory").queryName("dedup_txs").outputMode("append").start()
    try {
      mem.addData(line1)
      q.processAllAvailable()
      mem.addData(line1, line2) // replay of block 1 plus the next block
      q.processAllAvailable()
      val rows = spark.table("dedup_txs").as[String].collect().toSeq
      assert(rows.sorted == Seq("t1", "t2"))
    } finally q.stop()
  }

  test("file-source job: AvailableNow drain + checkpointed exactly-once " +
    "across restarts") {
    val in = Files.createTempDirectory("graft_filein").toString
    val out = Files.createTempDirectory("graft_fileout").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    Files.writeString(java.nio.file.Path.of(in, "b1.jsonl"), line1 + "\n")
    val q1 = graft.jobs.RawPersistJob.runFiles(spark, in, out, ckpt)
    q1.awaitTermination(30000)
    assert(spark.read.parquet(s"$out/block").count() == 1)
    // restart with one new file: the checkpoint must skip b1
    Files.writeString(java.nio.file.Path.of(in, "b2.jsonl"), line2 + "\n")
    val q2 = graft.jobs.RawPersistJob.runFiles(spark, in, out, ckpt)
    q2.awaitTermination(30000)
    val hashes = spark.read.parquet(s"$out/block")
      .select("hash").as[String].collect().sorted.toSeq
    assert(hashes == Seq("b1", "b2")) // b1 exactly once despite restart
  }

  test("vol/transfer flagship: checkpointed exactly-once across a " +
    "mid-stream kill — uncommitted batch replays without duplicating " +
    "vol rows") {
    // the replayed batch holds an intra-batch spend: t1b spends t1's
    // output (and one from before the stream, which drops out) and
    // pays A more than t1 did, so A nets +0.5; a replay that resolved
    // against its own earlier batch=<id> files would count t1's output
    // twice and turn A into a sender. The next batch spends across
    // batches (t2b spends t1b).
    val drop1 = Seq(line1,
      ChainLines.block(101, "t1b", Seq("t1", "t0"), "A", 1500000L))
    val drop2 = Seq(ChainLines.block(102, "t2b", Seq("t1b"), "C", 400000L))
    def dir(name: String) = Files.createTempDirectory(name).toString
    def put(in: String, file: String, lines: Seq[String]): Unit =
      Files.writeString(java.nio.file.Path.of(in, file),
        lines.mkString("", "\n", "\n"))
    def drain(in: String, out: String, ckpt: String): Unit = {
      val q = VolTransferJob.runFiles(spark, in, dim, out, ckpt)
      q.awaitTermination(60000); q.stop()
    }
    def volRows(out: String) = spark.read.parquet(s"$out/vol")
      .select("hash", "unit", "value_adj")
      .as[(String, String, Double)].collect().toSeq.sorted
    def sink(out: String) = Seq("vol", "edges", "utxo").map(t =>
      spark.read.parquet(s"$out/$t").drop("batch").collect()
        .map(_.toString).toSeq.sorted)

    // the same two drops, uninterrupted
    val (refIn, ref) = (dir("graft_volrefin"), dir("graft_volref"))
    val refCkpt = dir("graft_volrefckpt")
    put(refIn, "b1.jsonl", drop1); drain(refIn, ref, refCkpt)
    put(refIn, "b2.jsonl", drop2); drain(refIn, ref, refCkpt)

    val in = dir("graft_volin")
    val out = dir("graft_volout")
    val ckpt = dir("graft_volckpt")
    // a first attempt at batch 0 killed before its utxo write committed:
    // the store directory exists but no batch=<id> holds a data file
    Files.createDirectories(java.nio.file.Path.of(out, "utxo", "batch=0",
      "_temporary", "0"))
    put(in, "b1.jsonl", drop1); drain(in, out, ckpt)
    assert(volRows(out) == Seq(("t1", "lovelace", 1.0),
      ("t1b", "lovelace", 0.5)))
    // simulate a kill in the vulnerable window: batch data written,
    // checkpoint commit NOT — drop the latest commit marker; Spark
    // must re-run that batch with the SAME id on restart
    val commitDir = new java.io.File(s"$ckpt/commits")
    val latest = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(latest.delete())
    // the local checksum FS keeps a .N.crc sidecar; a real crash loses
    // both, so drop it too or the replayed commit's rename trips on it
    val crc = new java.io.File(commitDir, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    // and the world moves on before the restart: a new block arrives
    put(in, "b2.jsonl", drop2); drain(in, out, ckpt)
    // nothing lost (t2b arrived), nothing duplicated (t1's batch was
    // replayed onto its own batch directory, not appended twice), and
    // the replay resolved t1b's spend of t1 exactly once
    assert(volRows(out) == Seq(("t1", "lovelace", 1.0),
      ("t1b", "lovelace", 0.5), ("t2b", "lovelace", 0.4)))
    assert(sink(out) == sink(ref))
    // the utxo store also stayed replay-clean
    val utxo = spark.read.parquet(s"$out/utxo")
    assert(utxo.count() ==
      utxo.dropDuplicates("hash", "output_index", "unit").count())
  }

  test("incremental streaming rollup: update-mode window agg upserts the " +
    "serving table, late rows revise their window") {
    implicit val sq = spark.sqlContext
    val out = Files.createTempDirectory("graft_increm").toString + "/serve"
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val vol = mem.toDF().toDF("block_time", "unit", "value_adj")
    val q = graft.streaming.EventTimeRollup.incrementalRollup(
      vol, out, "5 minutes", "60 minutes")
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      mem.addData((ts(1), "u", 1.0), (ts(2), "u", 2.0))
      q.processAllAvailable()
      val first = spark.read.parquet(out)
        .select("unit", "value_adj").as[(String, Double)].collect().toSeq
      assert(first == Seq(("u", 3.0)))
      // late row into the same window (within watermark) revises it
      mem.addData((ts(3), "u", 4.0), (ts(7), "u", 9.0))
      q.processAllAvailable()
      val revised = spark.read.parquet(out)
        .select("unit", "value_adj").as[(String, Double)]
        .collect().sorted.toSeq
      assert(revised == Seq(("u", 7.0), ("u", 9.0)))
    } finally q.stop()
  }

  test("event-time windowed rollup (extension): slot-derived tumbling window") {
    val vol = BlockParser.parse(Seq(line1, line2).toDF("value"))
      .selectExpr("block_time", "'lovelace' as unit",
        "cast(1.5 as double) as value_adj")
    val got = EventTimeRollup.windowedVolume(vol, "5 minutes")
      .select("unit", "value_adj").as[(String, Double)].collect().toSet
    assert(got == Set(("lovelace", 3.0))) // slots 1000,1010 share one window
  }
}
