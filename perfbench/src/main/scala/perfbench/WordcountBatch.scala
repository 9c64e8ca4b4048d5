package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.WordCount
import graft.sources.CorpusGenerator

/** The reference's batch job: readTextDir → wordCount → writeTsv over a
  * staged corpus in the reference line format. Data-bound: scan, tokenizer,
  * a high-cardinality shuffle and sort, and a real file write.
  */
object WordcountBatch {

  def run(ctx: Ctx): Unit = {
    val (spark, t, r) = (ctx.spark, ctx.trace, ctx.report)
    val (files, lines) = if (ctx.tiny) (2, 2000) else (4, 125000)
    val setups = if (ctx.tiny) 1 else 3

    // Set-up: stage the corpus several times, keep the last copy.
    var corpus = ""
    val setupMs = (0 until setups).map { i =>
      if (corpus.nonEmpty) Util.deleteTree(new java.io.File(corpus))
      corpus = s"${ctx.out}/corpus-$i"
      Util.timed(t.span("sources.referenceCorpus", "sources", "setup/sources") {
        stage(spark, corpus, files, lines, ctx.seed)
      })._2
    }
    r.e2e("setup_s") = (Util.median(setupMs) / 1000, "s")
    ctx.log(s"set-up done: ${setupMs.map(_.round).mkString(" ")} ms")
    r.detail("sources.stage_s") = (Util.median(setupMs) / 1000, "s")
    val inputBytes = textBytes(new java.io.File(corpus))

    val expected = {
      val e = CorpusGenerator.expectedCounts(files, lines)
      if (ctx.corrupt) e.updated("hadoop", e("hadoop") + 1) else e
    }
    val output = s"${ctx.out}/counts"
    def verify(tag: String): Unit = {
      val (ok, why) = check(spark, output, expected)
      r.check(s"wordcount $tag", ok, why)
    }

    // One untimed warm-up repetition, then timed repetitions while the next
    // one is expected to end within the run length; every output is checked
    // outside the timed part.
    t.span("warm-up", "bench")(rep(ctx, corpus, output, "warm/core"))
    verify("warm-up")
    ctx.log("warm-up done")
    val repMs = collection.mutable.ArrayBuffer.empty[Double]
    val minReps = if (ctx.tiny) 1 else 3
    val start = Util.nowMs
    while (repMs.size < minReps || Util.nowMs - start + repMs.last < ctx.seconds * 1000) {
      repMs += Util.timed(t.span(s"rep ${repMs.size}", "bench")(rep(ctx, corpus, output, "op/core")))._2
      verify(s"rep ${repMs.size}")
    }
    r.ops = repMs.size
    ctx.log(s"timed repetitions done: ${repMs.map(_.round).mkString(" ")} ms")
    val p50 = Util.median(repMs.toSeq)
    val mb = inputBytes / 1e6
    r.e2e("op_latency_ms") = (p50, "ms")
    r.e2e("items_per_s") = (files.toLong * lines / (p50 / 1000), "1/s")
    r.named("wordcount_mb_per_s") = (mb / (p50 / 1000), "MB/s")
    r.named("wordcount_input_mb") = (mb, "MB")
    r.named("wordcount_reps") = (repMs.size.toDouble, "count")

    if (t.enabled) {
      // Tokenizer alone: scan + WhitespaceTokens into the noop sink.
      t.span("functions.WhitespaceTokens", "functions", "tok") {
        WordCount.readTextDir(spark, corpus)
          .select(explode(WordCount.tokens(col("value"))))
          .write.format("noop").mode("overwrite").save()
      }
      t.drain()
      r.layers("functions.tokenize_busy_ms") = (t.countersFor(_ == "tok").taskBusyMs.toDouble, "ms")
      val c = t.countersFor(r.opKeys)
      val n = r.ops.toDouble
      val tokens = 13.0 * files * lines
      r.detail("functions.tokenize_busy_ms") = r.layers("functions.tokenize_busy_ms")
      r.detail("core.map_busy_ms") = (c.mapBusyMs / n, "ms")
      r.detail("core.reduce_busy_ms") = ((c.taskBusyMs - c.mapBusyMs) / n, "ms")
      r.detail("core.sample_job_ms") = (c.sampleJobMs / n, "ms")
      r.detail("core.shuffle_write_bytes") = (c.shuffleWriteBytes / n, "B")
      r.detail("core.shuffle_records") = (c.shuffleRecords / n, "count")
      r.detail("core.combine_ratio") = (c.shuffleRecords / n / tokens, "ratio")
      r.detail("core.spill_bytes") = (c.spillBytes / n, "B")
      r.detail("core.output_bytes") = (c.outputBytes / n, "B")
      r.detail("core.jobs") = (c.jobs / n, "count")
      r.detail("core.tasks") = (c.tasks / n, "count")
    }
  }

  /** One repetition of the reference job; the three public calls are spans. */
  private def rep(ctx: Ctx, corpus: String, output: String, key: String): Unit = {
    val t = ctx.trace
    val lines = t.span("core.readTextDir", "core", key)(WordCount.readTextDir(ctx.spark, corpus))
    val counts = t.span("core.wordCount", "core", key)(WordCount.wordCount(lines.toDF(), "value"))
    t.span("core.writeTsv", "core", key)(WordCount.writeTsv(counts, output, overwrite = true))
  }

  /** Write the reference corpus as `files` text files, line order permuted
    * by the seed; the permutation leaves every count in closed form.
    */
  private def stage(spark: SparkSession, dir: String, files: Int, lines: Int, seed: Long): Unit = {
    val h = xxhash64(col("value"), lit(seed))
    CorpusGenerator.referenceCorpus(spark, files, lines)
      .withColumn("h", h)
      .repartitionByRange(files, col("h"))
      .sortWithinPartitions("h")
      .drop("h")
      .write.text(dir)
  }

  /** Bytes of the data files (not checksums or markers) under `dir`. */
  private def textBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length).sum

  /** Compare a `word\tcount` output with the closed-form counts: distinct
    * words, token total, per-class counts and every single count.
    */
  private def check(spark: SparkSession, output: String,
      expected: Map[String, Long]): (Boolean, String) = {
    import spark.implicits._
    val got = spark.read.text(output).as[String].collect().map { l =>
      val Array(w, c) = l.split('\t'); w -> c.toLong
    }.toMap
    def cls(w: String) = if (w.startsWith("idx")) "idx" else if (w.startsWith("linha")) "linha" else "fixed"
    def summary(m: Map[String, Long]) = m.groupBy(kv => cls(kv._1)).map { case (k, g) => k -> (g.size, g.values.sum) }
    if (got.size != expected.size) (false, s"distinct ${got.size} != ${expected.size}")
    else if (got.values.sum != expected.values.sum) (false, s"tokens ${got.values.sum} != ${expected.values.sum}")
    else if (summary(got) != summary(expected)) (false, s"classes ${summary(got)} != ${summary(expected)}")
    else expected.find { case (w, c) => !got.get(w).contains(c) } match {
      case Some((w, c)) => (false, s"count($w) = ${got.get(w)} != $c")
      case None => (true, "")
    }
  }
}
