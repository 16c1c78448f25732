package perfbench

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.graph.PageRank
import graft.ingest.{BlockParser, Dimensions}
import graft.jobs.{RollupJob, VolTransferJob}
import graft.ops._

/** The reference's chain flow on one store: an open-loop stream through
  * the socket job, a closed-loop backfill of a backlog through the batch
  * core, then a windowed rollup tick that merges into the rollups of the
  * store's prefix. */
object ChainWorkloads {
  /** Offered rate of the stream, blocks/s: about a tenth of what the
    * backfill drains per second on a 4-core host, so the backlog stays flat
    * and micro-batches stay small. */
  val StreamRate = 40.0
  /** The stream runs this long before its timed window opens, so the
    * window sees steady state, not the query's first batches. */
  val StreamWarmSeconds = 4
  /** The chain's first blocks, written to the store and rolled up once
    * in set-up: the batch and rollup code is compiled before the timed
    * region, and the timed tick finds rollup tables to merge into. */
  val PrefixBlocks = 100
  /** The timed tick re-rolls this many already rolled-up heights (the
    * scheduler's reorg margin), so its upserts replace existing rows. */
  val ReorgMargin = 20
  /** The backlog, drained after the stream in large batches. */
  val BacklogBatches = 2
  val BacklogBatchBlocks = 1500

  private def write(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(UTF_8))
  }

  /** The price dimension, loaded through the program's own readers from
    * files in the reference's shapes, then held as a local relation (the
    * reference broadcasts it once per run). */
  def priceDim(ctx: Ctx, gen: ChainGen, dir: String): DataFrame = {
    write(s"$dir/prices.json", gen.pricesJson)
    write(s"$dir/decimals.json", gen.decimalsJson)
    val spark = ctx.spark
    val dim = Pricing.dimension(Dimensions.loadPrices(spark, s"$dir/prices.json"),
      Dimensions.loadDecimals(spark, s"$dir/decimals.json"))
    spark.createDataFrame(dim.collect().toSeq.asJava, dim.schema)
  }

  // ------------------------------------------------------------ stream

  final case class Progress(batch: Long, rows: Long, startMs: Double,
                            durMs: Double, durations: Map[String, Double]) {
    def commitMs: Double = startMs + durMs
    def d(k: String): Double = durations.getOrElse(k, 0.0)
  }

  final case class StreamRun(progress: Seq[Progress], t0: Double, lateMaxMs: Double,
                             queryId: String, error: Option[String])

  /** Send `lines` at `rate` per second over one socket into
    * VolTransferJob.run, from a generator thread on a fixed schedule that
    * does not wait for the job (an open loop), then wait until every sent
    * block is committed. */
  def pacedStream(ctx: Ctx, lines: IndexedSeq[String], rate: Double,
                  dim: DataFrame, outDir: String): StreamRun = {
    val spark = ctx.spark
    val server = new ServerSocket(0, 1, InetAddress.getByName("localhost"))
    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          progress.add(Progress(p.batchId, p.numInputRows,
            Instant.parse(p.timestamp).toEpochMilli.toDouble, p.batchDuration.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
      }
    }
    spark.streams.addListener(listener)
    @volatile var t0 = Double.NaN
    @volatile var lateMax = 0.0
    @volatile var sent = 0
    val done = new CountDownLatch(1)
    val sender = new Thread(() => {
      var sock: Socket = null
      try {
        sock = server.accept()
        val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), 1 << 16)
        t0 = Trace.nowMs()
        var i = 0
        while (i < lines.length) {
          val due = t0 + i * 1000.0 / rate
          var now = Trace.nowMs()
          if (now < due) {
            out.flush()
            LockSupport.parkNanos(((due - now) * 1e6).toLong)
            now = Trace.nowMs()
          }
          lateMax = math.max(lateMax, now - due)
          out.write(lines(i)); out.write('\n')
          i += 1
          sent = i
        }
        out.flush()
        done.await()
      } catch { case _: java.io.IOException => () }
      finally if (sock != null) sock.close()
    }, "perfbench-generator")
    sender.setDaemon(true)
    sender.start()
    val q = VolTransferJob.run(spark, "localhost", server.getLocalPort, dim, outDir,
      Some(s"$outDir/_checkpoint"))
    def committed = progress.asScala.map(_.rows).sum
    val deadline = System.nanoTime() + (lines.length / rate + 60).toLong * 1000000000L
    while ((sent < lines.length || committed < lines.length) && q.isActive &&
           System.nanoTime() < deadline)
      Thread.sleep(20)
    val error = q.exception.map(_.toString)
      .orElse(if (committed < lines.length) Some(s"committed $committed of ${lines.length} blocks") else None)
    q.stop()
    done.countDown()
    sender.join(10000)
    server.close()
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    StreamRun(progress.asScala.toSeq.sortBy(_.batch), t0, lateMax, q.id.toString, error)
  }

  /** Traced form of VolTransferJob.writeBatch: the same chain of public
    * calls, each output materialized once inside its own span. */
  private def tracedWriteBatch(tr: Trace, spark: SparkSession, lines: DataFrame,
                               dim: DataFrame, out: String): Unit = {
    def mat(name: String)(df: => DataFrame): DataFrame = tr.spanWith(name)({
      val d = df.persist(); (d, d.count())
    }, (r: (DataFrame, Long)) => Map("rows_out" -> r._2.toDouble))._1
    tr.span("jobs.write_batch") {
      val blocks = mat("ingest.parse")(BlockParser.parse(lines))
      val txs = mat("ops.flatten")(Flatten.transactions(blocks))
      val outFlows = mat("ops.output_flows")(TokenValues.outputFlows(txs))
      tr.span("io.append_utxo")(outFlows.write.mode("append").parquet(s"$out/utxo"))
      val utxo = spark.read.parquet(s"$out/utxo")
      val inFlows = mat("ops.resolve")(Resolver.resolve(Resolver.outpoints(txs), utxo))
      val net = mat("ops.netflow")(NetFlow.compute(outFlows, inFlows))
      val vol = mat("ops.vol")(Volume.vol(net, txs.select("hash", "height", "slot"), dim))
      tr.span("io.append_vol")(vol.write.mode("append").parquet(s"$out/vol"))
      val edges = mat("ops.transfers")(Transfers.edges(net, dim))
      tr.span("io.append_edges")(edges.write.mode("append").parquet(s"$out/edges"))
      Seq(edges, vol, net, inFlows, outFlows, txs, blocks).foreach(_.unpersist(true))
    }
  }

  def chainFlow(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val dataStart = Trace.nowMs()
    val gen = new ChainGen(ctx.seed)
    val prefix = gen.blocks(PrefixBlocks)
    val warmN = (StreamWarmSeconds * StreamRate).toInt
    val n = (ctx.seconds * StreamRate).toInt
    val streamed = gen.blocks(warmN + n)
    val lines = streamed.map(ChainGen.line)
    val backlog = gen.blocks(BacklogBatches * BacklogBatchBlocks)
    def batchFile(name: String, bs: Seq[Block]): String = {
      val p = s"${ctx.work}/input/$name.txt"
      write(p, bs.map(ChainGen.line).mkString("", "\n", "\n"))
      p
    }
    val batchFiles = backlog.grouped(BacklogBatchBlocks).zipWithIndex
      .map { case (bs, k) => batchFile(s"backlog-$k", bs) }.toVector
    val dim = priceDim(ctx, gen, s"${ctx.work}/dims")
    val out = s"${ctx.work}/store"
    val warmStart = Trace.nowMs()
    o.info("setup_data_s") = (warmStart - dataStart) / 1000.0
    // the prefix, and the first rollup tick: every rollup table's first write
    VolTransferJob.writeBatch(spark, spark.read.text(batchFile("prefix", prefix)), dim, out)
    RollupJob.run(spark, out, None)
    o.info("setup_warmup_s") = (Trace.nowMs() - warmStart) / 1000.0

    // 1. open loop: the socket stream; its timed window opens after
    // StreamWarmSeconds of blocks
    val run = pacedStream(ctx, lines, StreamRate, dim, out)
    val dueMs = (i: Int) => run.t0 + i * 1000.0 / StreamRate
    o.timedStart = dueMs(warmN)
    val batches = run.progress
    o.attempted += batches.count(_.commitMs > o.timedStart) + run.error.size
    o.failed += run.error.size
    o.errors ++= run.error
    val committed = batches.map(_.rows).sum.toInt
    // 2. closed loop: the backlog through the batch core, into the store
    // the stream grew
    val drainMs = mutable.ArrayBuffer.empty[Double]
    batchFiles.zipWithIndex.foreach { case (f, k) =>
      val lines = spark.read.text(f)
      val t = Trace.nowMs()
      o.attempt(s"backlog batch $k")(ctx.trace match {
        case Some(tr) => tracedWriteBatch(tr, spark, lines, dim, out)
        case None => VolTransferJob.writeBatch(spark, lines, dim, out)
      }).foreach(_ => drainMs += Trace.nowMs() - t)
    }
    // 3. a windowed rollup tick over the heights since the prefix's tick:
    // read-modify-write upserts into its rollup tables
    val since = Some(prefix.last.height + 1 - ReorgMargin)
    val tickStart = Trace.nowMs()
    val ticked = o.attempt("rollup tick")(ctx.trace match {
      case Some(tr) => tr.span("jobs.rollup_tick")(RollupJob.run(spark, out, since))
      case None => RollupJob.run(spark, out, since)
    })
    val tickMs = Trace.nowMs() - tickStart
    o.endTimed()

    // per-block latency over the timed window: commit of the batch that
    // carried the block minus the time it was due to be sent; one socket
    // keeps order, so cumulative input rows give each batch's block range.
    // Only whole batches count: a batch that carried blocks of the warm-up
    // too would add just its latest, least-delayed blocks, by an amount
    // that depends on where the window opened in its cycle.
    val lat = mutable.ArrayBuffer.empty[Double]
    var cum = 0
    batches.foreach { p =>
      if (cum >= warmN)
        (cum until math.min(warmN + n, cum + p.rows.toInt))
          .foreach(i => lat += p.commitMs - dueMs(i))
      cum += p.rows.toInt
    }
    o.e2e("latency_p50_ms") = Trace.median(lat.toSeq)
    o.e2e("latency_p90_ms") = Trace.quantile(lat.toSeq, 0.9)
    if (drainMs.size == BacklogBatches)
      o.e2e("throughput_per_s") = backlog.size / (drainMs.sum / 1000.0)
    if (ticked.isDefined) o.e2e("batch_s") = tickMs / 1000.0
    val windowEnd = o.timedStart + ctx.seconds * 1000.0
    val backlogEnd = warmN + n - batches.filter(_.commitMs <= windowEnd).map(_.rows).sum
    o.info ++= Seq(
      "offered_rate_blocks_per_s" -> StreamRate,
      "blocks_offered" -> n,
      "warm_blocks" -> warmN,
      "stream_batches" -> batches.count(_.commitMs > o.timedStart),
      "latency_samples" -> lat.size,
      "generator_late_ms_max" -> run.lateMaxMs,
      "backlog_end_blocks" -> backlogEnd,
      "backfill_blocks" -> backlog.size,
      "backfill_batch_ms" -> drainMs.toSeq,
      "rollup_since_height" -> since.get,
      "rollup_tick_ms" -> tickMs)

    ctx.trace.foreach { tr =>
      streamLayers(tr, o, run.copy(progress = batches.filter(_.commitMs > o.timedStart)), backlogEnd)
      backfillLayers(ctx, tr, o, out)
    }
    // output checks, outside the timed region
    val exp = checkChain(ctx, o, gen, prefix ++ streamed.take(committed) ++ backlog, out)
    if (ticked.isDefined) checkRollup(ctx, o, out, exp)
    o
  }

  /** streaming, and jobs and io per micro-batch, keyed by batch id. */
  private def streamLayers(tr: Trace, o: Outcome, run: StreamRun, backlogEnd: Long): Unit = {
    val batches = run.progress
    val L = o.layers
    def p50(f: Progress => Double) = Trace.median(batches.map(f))
    L("streaming.trigger_ms_p50") = p50(_.d("triggerExecution"))
    L("streaming.add_batch_ms_p50") = p50(_.d("addBatch"))
    L("streaming.planning_ms_p50") = p50(_.d("queryPlanning"))
    L("streaming.offsets_ms_p50") = p50(p => p.d("latestOffset") + p.d("getBatch"))
    L("streaming.commit_ms_p50") = p50(p => p.d("walCommit") + p.d("commitOffsets"))
    L("streaming.batches") = batches.size
    L("streaming.blocks_per_batch_p50") = p50(_.rows.toDouble)
    L("streaming.backlog_end_blocks") = backlogEnd.toDouble
    L("streaming.generator_late_ms_max") = run.lateMaxMs
    tr.drain()
    val per = batches.map(p => (p, tr.batchJobs(run.queryId, p.batch)))
    def mean(f: ((Progress, Seq[JobRec])) => Double) =
      if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    // the micro-batch is one writeBatch call
    L("jobs.write_batch_ms_p50") = p50(_.d("addBatch"))
    L("jobs.spark_jobs_per_batch") = mean(_._2.size.toDouble)
    L("jobs.tasks_per_batch") = mean(x => JobStats.of(x._2).tasks.toDouble)
    L("jobs.task_ms_per_batch") = mean(x => JobStats.of(x._2).taskMs)
    L("jobs.idle_ms_per_batch") = mean { case (p, js) => JobStats.of(js).idleMs(p.startMs, p.commitMs) }
    L("io.utxo_files_read_per_batch") = mean(x => tr.scannedFiles(x._2, "/utxo"))
    L("io.files_written_per_batch") = mean(x => tr.writes(x._2).files)
    L("io.mb_written_per_batch") = mean(x => tr.writes(x._2).mb)
  }

  /** ingest and ops from the traced backlog batches, the rollup tick's
    * jobs and upserts, and one PageRank call on its own. */
  private def backfillLayers(ctx: Ctx, tr: Trace, o: Outcome, out: String): Unit = {
    val spark = ctx.spark
    // graph leg on its own: one PageRank call over the final edge set
    val edges = spark.read.parquet(s"$out/edges")
      .select(col("send_addr").as("src"), col("rx_addr").as("dst"))
    val nodes = tr.spanWith("graph.pagerank")(
      PageRank.run(edges).queryExecution.toRdd.count(),
      (n: Long) => Map("rows_out" -> n.toDouble))
    tr.drain()
    val spans = tr.allSpans
    val L = o.layers
    val batches = spans.filter(_.name == "jobs.write_batch").take(BacklogBatches)
    def kids(b: Span, name: String) = spans.filter(s => s.parent == b.id && s.name == name)
    def meanOver(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perCall(name: String) = batches.flatMap(kids(_, name))
    L("ingest.parse_ms") = meanOver(perCall("ingest.parse").map(_.ms))
    L("ingest.parse_rows_in") = (BacklogBatches * BacklogBatchBlocks).toDouble
    L("ingest.parse_rows_out") = perCall("ingest.parse").map(_.counts("rows_out")).sum
    val opsNames = Seq("flatten", "output_flows", "resolve", "netflow", "vol", "transfers")
    opsNames.foreach { op =>
      L(s"ops.${op}_ms") = meanOver(perCall(s"ops.$op").map(_.ms))
      L(s"ops.${op}_rows_out") = perCall(s"ops.$op").map(_.counts("rows_out")).sum
    }
    L("ops.shuffle_mb") = opsNames.flatMap(op => perCall(s"ops.$op"))
      .map(s => JobStats.of(tr.spanJobs(s.id)).shuffleMb).sum
    // resolve hit ratio over every tx drained: outpoints found in the store
    val txs = Flatten.transactions(BlockParser.parse(spark.read.text(s"${ctx.work}/input/backlog-*.txt")))
    val ops = Resolver.outpoints(txs)
    val store = spark.read.parquet(s"$out/utxo")
      .select(col("hash").as("src_tx_hash"), col("output_index")).distinct()
    val nOps = ops.count()
    L("ops.resolve_hit_ratio") =
      ops.join(store, Seq("src_tx_hash", "output_index"), "left_semi").count().toDouble / nOps
    L("ops.transfers_pairs_max") = spark.read.parquet(s"$out/edges")
      .groupBy("hash", "unit").count().agg(max("count")).head().getLong(0).toDouble

    val ticks = spans.filter(_.name == "jobs.rollup_tick")
    L("jobs.rollup_tick_ms_p50") = Trace.median(ticks.map(_.ms))
    L("jobs.rollup_spark_jobs_per_tick") = meanOver(ticks.map(t => tr.spanJobs(t.id).size.toDouble))
    // the tick's upserts run inside RollupJob.run: attribute by call site
    val upserts = ticks.map(t => tr.calledFrom(tr.spanJobs(t.id), "Volume$.upsertPartitioned"))
    L("io.upsert_ms_per_tick") = meanOver(upserts.map(js => JobStats.of(js).jobMs))
    L("io.partitions_rewritten_per_tick") = meanOver(upserts.map(js => tr.writes(js).parts))
    spans.find(_.name == "graph.pagerank").foreach { s =>
      val st = JobStats.of(tr.spanJobs(s.id))
      L("graph.pagerank_ms") = s.ms
      L("graph.pagerank_spark_jobs") = st.jobs
      L("graph.pagerank_task_ms") = st.taskMs
      L("graph.pagerank_idle_ms") = st.idleMs(s.start, s.end)
      L("graph.nodes") = nodes.toDouble
      L("graph.edges") = edges.distinct().count().toDouble
    }
  }

  // ------------------------------------------------------------ checks

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) + 1e-12

  /** Committed blocks and txs, vol rows, per-unit Σ value_adj and edge
    * count, read from the store, against the generator's own plain-Scala
    * expectation. */
  def checkChain(ctx: Ctx, o: Outcome, gen: ChainGen, blocks: Seq[Block],
                 out: String): Expect = {
    val spark = ctx.spark
    val exp = ChainGen.expect(gen, blocks)
    val vol = spark.read.parquet(s"$out/vol")
    val Array(volRows, heights) = vol.agg(count(lit(1)), countDistinct("height")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // the store keeps no block table: a committed block shows as its
    // height in vol (every block with an inflow has one)
    o.check("blocks", heights == exp.volHeights,
      s"$heights heights in vol vs ${exp.volHeights} of ${exp.blocks} blocks")
    val txs = spark.read.parquet(s"$out/utxo").select("hash").distinct().count()
    o.check("txs", txs == exp.txs, s"$txs vs ${exp.txs}")
    o.check("vol_rows", volRows == exp.volRows, s"$volRows vs ${exp.volRows}")
    val byUnit = vol.groupBy("unit").agg(sum("value_adj")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bad = (byUnit.keySet ++ exp.volByUnit.keySet).filterNot(u =>
      byUnit.contains(u) && exp.volByUnit.contains(u) && close(byUnit(u), exp.volByUnit(u)))
    o.check("vol_value_adj_by_unit", bad.isEmpty,
      s"${byUnit.size} units, ${bad.size} differ${bad.take(3).mkString(": ", ", ", "")}")
    val edges = spark.read.parquet(s"$out/edges").count()
    o.check("edges", edges == exp.edges, s"$edges vs ${exp.edges}")
    o.info("expected") = Map("blocks" -> exp.blocks, "vol_heights" -> exp.volHeights,
      "txs" -> exp.txs, "vol_rows" -> exp.volRows,
      "vol_rows_per_block" -> exp.volRows.toDouble / exp.blocks, "edges" -> exp.edges,
      "outpoints" -> exp.outpoints, "resolved" -> exp.resolved, "max_pairs" -> exp.maxPairs)
    exp
  }

  /** vol_all_time against a full recompute (1e-9 relative, the streaming
    * spec's bound); PageRank gives one finite score per address. */
  def checkRollup(ctx: Ctx, o: Outcome, out: String, exp: Expect): Unit = {
    val spark = ctx.spark
    val recompute = Volume.allTime(Volume.byBlock(spark.read.parquet(s"$out/vol")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val stored = spark.read.parquet(s"$out/vol_all_time").select("unit", "value_adj")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bad = (recompute.keySet ++ stored.keySet).filterNot(u =>
      recompute.contains(u) && stored.contains(u) && close(recompute(u), stored(u)))
    o.check("vol_all_time", bad.isEmpty, s"${stored.size} units, ${bad.size} differ")
    val score = col("score")
    val Array(rows, distinct, finite) = spark.read.parquet(s"$out/address_pagerank")
      .agg(count(lit(1)), countDistinct("address"), count(when(score.isNotNull && !isnan(score) &&
        score =!= Double.PositiveInfinity && score =!= Double.NegativeInfinity, 1)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    o.check("pagerank", rows == exp.edgeAddresses && distinct == rows && finite == rows,
      s"$rows rows, $distinct addresses, $finite finite, ${exp.edgeAddresses} expected")
  }
}
