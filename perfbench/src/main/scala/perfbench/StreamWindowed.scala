package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.WindowedWordCount

/** `WindowedWordCount.transform` in update mode into a foreachBatch sink.
  *
  * One query, fed by one in-memory source of chunk descriptors (first row
  * index, row count), split over a fixed number of input partitions; the
  * plan expands each chunk into its events, so the driver never holds the
  * rows.
  *
  * Phase A (saturated, closed loop) adds the next chunk of `rowsPerBatch`
  * rows as each batch completes, and measures capacity over many equal
  * batches. Phase B (open loop) then offers a fixed rate from one generator
  * thread, one chunk per tick; each batch's latency runs from the due time
  * of its last chunk to the end of its sink call. The counts the sink
  * received are checked against the batch projection of the same plan over
  * the same events.
  */
object StreamWindowed {

  val Vocab: Seq[String] = Seq(
    "hadoop", "spark", "kafka", "stream", "janela", "evento", "latencia", "dado",
    "falha", "tolerancia", "particao", "offset", "topico", "broker", "estado",
    "checkpoint", "marca", "atraso", "contagem", "palavra", "texto", "fluxo",
    "lote", "tarefa", "cluster", "no", "rede", "disco", "memoria", "vazao")
  val WordsPerRow = 10
  /** Event time advances this much per event. */
  val StepMs = 1L
  val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z
  /** Share of events (percent) that arrive out of order, and their largest
    * lag; the lag stays inside the 2-minute watermark, so no row is late.
    */
  val OutOfOrderPct = 10
  val MaxLagMs = 60000L

  /** The event for row index `idx`: a line of 10 words from the vocabulary
    * and its event time, both a pure function of (idx, seed).
    */
  def events(idx: Column, seed: Long): Seq[Column] = {
    val vocab = array(Vocab.map(lit): _*)
    def h(salt: Int) = xxhash64(idx, lit(seed), lit(salt))
    val words = (0 until WordsPerRow).map(k =>
      element_at(vocab, (pmod(h(k), lit(Vocab.size.toLong)) + 1).cast("int")))
    val lag = when(pmod(h(-1), lit(100L)) < OutOfOrderPct, pmod(h(-2), lit(MaxLagMs))).otherwise(lit(0L))
    Seq(concat_ws(" ", words: _*).as("value"),
      timestamp_millis(lit(BaseMs) + idx * StepMs - lag).as("timestamp"))
  }

  /** Collects the sink's emitted counts and when each batch finished. */
  final class Sink(t: Trace, key: String, onBatch: () => Unit = () => ()) {
    val last = TrieMap.empty[(String, String), Long]
    val endMs = TrieMap.empty[Long, Double]
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      t.span(s"batch $id", "streaming", key) {
        val rows = df.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"),
          col("word"), col("count")).collect()
        rows.foreach(r => last((r.getString(0), r.getString(1))) = r.getLong(2))
        endMs(id) = t.now
      }
      onBatch()
    }
  }

  /** The in-memory source and the offsets it has handed out. */
  final class Feed(spark: SparkSession, parts: Int) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // A fixed partition count: without `numPartitions` the source makes
    // one partition (one task) per chunk, so a batch's fixed cost would
    // grow with the number of chunks it happens to take.
    val input = MemoryStream[(Long, Long)](parts)
    @volatile var rows = 0L
    @volatile var offsets = 0L
    /** Append one chunk of `n` rows as one offset, split across the partitions. */
    def add(n: Long): Long = synchronized {
      val chunk = (0 until parts).map(i => (rows + n * i / parts, n * (i + 1) / parts - n * i / parts))
      input.addData(chunk.filter(_._2 > 0))
      rows += n
      offsets += 1
      offsets - 1
    }
    def events(seed: Long): DataFrame = input.toDF()
      .select(explode(sequence(col("_1"), col("_1") + col("_2") - 1)).as("idx"))
      .select(StreamWindowed.events(col("idx"), seed): _*)
  }

  private def start(ev: DataFrame, ckpt: String, sink: Sink): StreamingQuery =
    WindowedWordCount.transform(ev).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink.fn)
      .start()

  def run(ctx: Ctx): Unit = {
    val (spark, t, r) = (ctx.spark, ctx.trace, ctx.report)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // A batch here is a few thousand rows, too few to gain from a task per
    // core. Half the cores (source and shuffle partitions) leaves room for
    // the micro-batch thread, the generator and the JIT, so a stage does
    // not wait on a task thread that lost its core.
    val parts = math.max(1, ctx.cores / 2)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val rowsPerBatch = if (ctx.tiny) 2000L else 25000L
    val offeredRps = if (ctx.tiny) 1000L else 10000L
    val tickMs = 20L
    val setups = if (ctx.tiny) 1 else 3
    // Each phase measures for the run length: one batch costs about half a
    // second here, so a shorter phase leaves too few batches for a median.
    // Batches keep getting faster for the first tens of seconds of a query
    // (code generation, JIT), so phase A first runs `warmMs` unmeasured, and
    // phase B `settleMs` to let the open loop settle.
    val phaseMs = ctx.seconds * 1000
    val warmMs = if (ctx.tiny) 0.0 else 7500.0
    val settleMs = if (ctx.tiny) 0.0 else 1500.0

    // Set-up: start a query and run its first batch, several times.
    val setupMs = (0 until setups).map { i =>
      val feed = new Feed(spark, parts)
      val sink = new Sink(t, "setup/streaming")
      feed.add(rowsPerBatch)
      val (q, ms) = Util.timed(t.span("streaming.start", "streaming", "setup/streaming") {
        val q = start(feed.events(ctx.seed), s"${ctx.out}/checkpoints/setup-$i", sink)
        while (!sink.endMs.contains(0L)) { checkAlive(q); Thread.sleep(2) }
        q
      })
      q.stop()
      ms
    }
    r.e2e("setup_s") = (Util.median(setupMs) / 1000, "s")
    ctx.log(s"set-up done: ${setupMs.map(_.round).mkString(" ")} ms")

    // Phase A: saturated; the sink adds the next chunk as a batch ends.
    val feed = new Feed(spark, parts)
    @volatile var feeding = true
    val sink = new Sink(t, "op/stream", () => if (feeding) feed.add(rowsPerBatch))
    feed.add(rowsPerBatch)
    val q = start(feed.events(ctx.seed), s"${ctx.out}/checkpoints/main", sink)
    val startA = t.now
    while (!sink.endMs.values.exists(_ - startA >= warmMs)) { checkAlive(q); Thread.sleep(5) }
    val warmA = sink.endMs.size.toLong
    val t0 = sink.endMs(warmA - 1)
    while (t.now - t0 < phaseMs || sink.endMs.size < warmA + 3) { checkAlive(q); Thread.sleep(5) }
    feeding = false
    q.processAllAvailable()
    val doneA = sink.endMs.size.toLong
    // Capacity from the median batch cycle (end to end of consecutive
    // batches), so one slow batch does not move it.
    val cycleMs = (warmA until doneA).map(i => sink.endMs(i) - sink.endMs(i - 1))
    val capacity = rowsPerBatch / (Util.median(cycleMs) / 1000)
    r.e2e("items_per_s") = (capacity, "1/s")
    r.named("stream_rows_per_s") = (capacity, "1/s")
    r.named("stream_phase_a_batches") = ((doneA - warmA).toDouble, "count")
    ctx.log(s"phase A done: $doneA batches; measured cycles ${cycleMs.map(_.round).mkString(" ")} ms")

    // Phase B: open loop at a fixed offered rate, one generator thread.
    val perTick = offeredRps * tickMs / 1000
    val due = TrieMap.empty[Long, Double]
    val lagMs = mutable.ArrayBuffer.empty[Double]
    val beginB = t.now
    val gen = new Thread(() => {
      var k = 0
      while (t.now - beginB < settleMs + phaseMs) {
        val dueAt = beginB + (k + 1) * tickMs
        val wait = dueAt - t.now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        due(feed.add(perTick)) = dueAt
        lagMs += t.now - dueAt
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    ctx.log(s"phase B done: ${sink.endMs.size} batches")
    checkCounts(ctx, sink, feed.rows)
    ctx.log("counts checked")

    val progress = q.recentProgress.toSeq.filter(p => sink.endMs.contains(p.batchId) && p.numInputRows > 0)
    val lastOffset = progress.map(p => p.batchId -> p.sources.head.endOffset.trim.toLong).toMap
    val measuredB = progress.filter(p => p.batchId >= doneA &&
      sink.endMs(p.batchId) - beginB >= settleMs && due.contains(lastOffset(p.batchId)))
    val lat = measuredB.map(p => sink.endMs(p.batchId) - due(lastOffset(p.batchId)))
    require(lat.nonEmpty, "phase B produced no measured batch")
    ctx.log(s"phase B latencies: ${lat.map(_.round).mkString(" ")} ms")
    r.e2e("op_latency_ms") = (Util.median(lat), "ms")
    r.named("stream_latency_p50_ms") = (Util.median(lat), "ms")
    r.named("stream_latency_p50_samples_beyond") = (Util.beyond(lat, 0.5).toDouble, "count")
    r.named("stream_latency_p90_ms") = (Util.quantile(lat, 0.9), "ms")
    r.named("stream_latency_p90_samples_beyond") = (Util.beyond(lat, 0.9).toDouble, "count")
    r.named("stream_latency_samples") = (lat.size.toDouble, "count")
    r.named("stream_offered_rows_per_s") = (offeredRps.toDouble, "1/s")
    r.named("stream_generator_lag_p50_ms") = (Util.median(lagMs.toSeq), "ms")
    r.named("stream_generator_lag_max_ms") = (lagMs.max, "ms")

    val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    r.check("rows_dropped_by_watermark = 0", dropped == 0, s"$dropped rows dropped")

    r.ops = progress.size
    r.opKeys = _ == "op/stream"
    if (t.enabled) {
      // The engine's own part of each micro-batch (offsets, planning, WAL
      // and state commits) runs outside the sink call.
      q.recentProgress.foreach { p =>
        val begin = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        t.record(s"microbatch ${p.batchId}", "streaming", begin,
          begin + Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
      }
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def med(f: StreamingQueryProgress => Double) = Util.median(progress.map(f))
      r.layers("spark.plan_ms") = (med(dur(_, "queryPlanning")), "ms")
      t.span("functions.WhitespaceTokens", "functions", "tok") {
        spark.range(feed.rows).select(events(col("id"), ctx.seed): _*)
          .select(explode(graft.core.WordCount.tokens(col("value"))))
          .write.format("noop").mode("overwrite").save()
      }
      t.drain()
      r.layers("functions.tokenize_busy_ms") = (t.countersFor(_ == "tok").taskBusyMs.toDouble, "ms")
      // Rows offered but not yet in a batch when that batch's sink ended.
      val backlog = measuredB.map { p =>
        val end = sink.endMs(p.batchId)
        due.count { case (o, d) => o > lastOffset(p.batchId) && d <= end }.toDouble * perTick
      }
      val state = progress.flatMap(_.stateOperators)
      r.detail("functions.tokenize_busy_ms") = r.layers("functions.tokenize_busy_ms")
      r.detail("streaming.add_batch_ms") = (med(dur(_, "addBatch")), "ms")
      r.detail("streaming.query_planning_ms") = (med(dur(_, "queryPlanning")), "ms")
      r.detail("streaming.latest_offset_ms") = (med(dur(_, "latestOffset")), "ms")
      r.detail("streaming.wal_commit_ms") = (med(dur(_, "walCommit")), "ms")
      r.detail("streaming.state_rows") = (state.map(_.numRowsTotal.toDouble).max, "count")
      r.detail("streaming.state_bytes") = (state.map(_.memoryUsedBytes.toDouble).max, "B")
      r.detail("streaming.state_commit_ms") = (Util.median(state.map(_.commitTimeMs.toDouble)), "ms")
      r.detail("streaming.rows_dropped_by_watermark") = (dropped.toDouble, "count")
      r.detail("streaming.backlog_rows") = (if (backlog.isEmpty) 0.0 else Util.median(backlog), "count")
      r.detail("streaming.batches") = (progress.size.toDouble, "count")
    }
  }

  private def checkAlive(q: StreamingQuery): Unit =
    q.exception.foreach(e => throw e)

  /** The last emitted count of every (window, word) must equal the batch
    * projection of the same plan over the same `rows` events.
    */
  private def checkCounts(ctx: Ctx, sink: Sink, rows: Long): Unit = {
    val expected = WindowedWordCount.windowedCounts(
      ctx.spark.range(rows).select(events(col("id"), ctx.seed): _*))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = if (ctx.corrupt) expected.updated(expected.keys.min, expected(expected.keys.min) + 1) else expected
    val got = sink.last.toMap
    val bad = exp.keySet.union(got.keySet).filter(k => exp.get(k) != got.get(k))
    ctx.report.check("stream windowed counts", bad.isEmpty,
      if (bad.isEmpty) "" else s"${bad.size} (window, word) counts differ, e.g. ${bad.head}: " +
        s"got ${got.get(bad.head)} expected ${exp.get(bad.head)}")
  }
}
