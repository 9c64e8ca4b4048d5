package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry

/** A closed loop with one client over the registry: each pass runs every
  * query of the mix once, in a seeded order, into the `noop` sink. The cost
  * is fixed per query: planning, driver-side fits and collects, jobs and
  * broadcasts.
  */
object QueryMix {

  /** One query per family, each family named by the module that
    * implements it; every query here has a static oracle. The cheaper
    * member of a family is chosen where the run budget needs it.
    */
  val Mix: Seq[(String, String)] = Seq(
    "wordcount" -> "core.wordcount",
    "q3_shipping_priority" -> "queries.relational",
    "q_events_sessions" -> "queries.events",
    "dedup_minhash_pairs" -> "operators.dedup",
    "ann_topk" -> "operators.similarity",
    "text_tfidf" -> "operators.text",
    "pipeline_curation" -> "operators.curation",
    "mm_features" -> "operators.multimodal")

  def run(ctx: Ctx): Unit = {
    val (spark, t, r) = (ctx.spark, ctx.trace, ctx.report)
    val family = Mix.toMap
    val queries = Mix.map(_._1)
    // Two set-ups: the first also pays the JVM's own warm-up, which a run
    // cannot avoid; more would not fit the run budget.
    val setups = if (ctx.tiny) 1 else 2

    val analysisMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    /** Build the query, then drain it into the noop sink, or into parquet at `path`. */
    def execute(q: String, dir: String, key: String, path: String = null): Unit = {
      val df = t.span(s"SparkEntry.queries/$q", "SparkEntry", s"$key/build")(SparkEntry.queries(q)(spark, dir))
      if (t.enabled && key.startsWith("op/")) analysisMs(family(q)) += df.queryExecution.tracker.phases.get("analysis")
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      if (path == null) t.span("noop.write", "spark.exec", s"$key/exec")(df.write.format("noop").mode("overwrite").save())
      else t.span("parquet.write", "spark.exec", s"$key/exec")(df.coalesce(1).write.mode("overwrite").parquet(path))
    }

    // Set-up: stage a fresh copy of the tables and run one cold pass over
    // it, which pays every first-use cost of the mix for that copy (the
    // registry memoizes per table directory) and writes every result to
    // parquet for the output check. Repeated on separate copies, so each
    // repetition is cold.
    var dir = ""
    var verify = ""
    val coldMs = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val setupMs = (0 until setups).map { i =>
      if (verify.nonEmpty) Util.deleteTree(new java.io.File(verify))
      dir = s"${ctx.out}/data-$i"
      verify = ctx.dir(s"verify-$i")
      Util.timed(t.span(s"setup $i", "bench") {
        t.span("sources.Staging.stage", "sources", "setup/sources")(graft.sources.Staging.stage(spark, ctx.dataDir, dir))
        queries.foreach { q =>
          coldMs(q) += Util.timed {
            try execute(q, dir, s"setup/${family(q)}", s"$verify/$q")
            catch { case e: Exception => System.err.println(s"[query-mix] $q failed: ${e.getMessage}") }
          }._2
        }
      })._2
    }
    r.e2e("setup_s") = (Util.median(setupMs) / 1000, "s")
    ctx.log(s"set-up done: ${setupMs.map(_.round).mkString(" ")} ms")
    r.extra("query_cold_ms") = coldMs

    // Output check, once per run and outside the timed passes: the last
    // set-up's results sit beside the oracle SQL for the same tables; the
    // comparison with DuckDB runs after the JVM exits, and a query that
    // failed has no output, so it fails that comparison.
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => family.contains(k) }
    Files.writeString(Paths.get(verify, "oracle_sql.json"), Util.json(oracle))
    r.extra("verify_dir") = verify
    r.extra("data_dir") = dir
    r.extra("queries") = queries

    // Timed passes: a seeded order per pass, while the next pass is
    // expected to end within the run length.
    val samples = mutable.ArrayBuffer.empty[Double]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap(queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val minPasses = if (ctx.tiny) 1 else 2
    val start = Util.nowMs
    while (passMs.size < minPasses || Util.nowMs - start + passMs.last < ctx.seconds * 1000) {
      val order = new scala.util.Random(ctx.seed * 1000003L + passMs.size).shuffle(queries)
      passMs += Util.timed(t.span(s"pass ${passMs.size}", "bench") {
        order.foreach { q =>
          r.attempted += 1
          try {
            val ms = Util.timed(execute(q, dir, s"op/${family(q)}"))._2
            samples += ms
            perQuery(q) += ms
          }
          catch { case e: Exception =>
            r.failed += 1
            System.err.println(s"[query-mix] $q failed: ${e.getMessage}")
          }
        }
      })._2
    }
    // End every run with the same query, so what the last execution leaves
    // on the driver heap does not depend on the seeded order.
    t.span("epilogue", "bench")(execute(queries.head, dir, "epilogue"))
    r.ops = samples.size
    ctx.log(s"timed passes done: ${passMs.map(_.round).mkString(" ")} ms")
    r.extra("query_median_ms") = perQuery.collect { case (q, xs) if xs.nonEmpty => q -> Util.median(xs.toSeq) }
    val mix = Util.median(passMs.toSeq)
    // Eight distinct queries leave gaps in the sorted times, so their median
    // jumps between neighbours; the geometric mean weighs every query.
    r.e2e("op_latency_ms") = (math.exp(samples.map(math.log).sum / samples.size), "ms")
    r.e2e("items_per_s") = (samples.size / (passMs.sum / 1000), "1/s")
    r.named("query_p50_s") = (Util.median(samples.toSeq) / 1000, "s")
    r.named("query_p50_samples_beyond") = (Util.beyond(samples.toSeq, 0.5).toDouble, "count")
    r.named("query_p90_s") = (Util.quantile(samples.toSeq, 0.9) / 1000, "s")
    r.named("query_p90_samples_beyond") = (Util.beyond(samples.toSeq, 0.9).toDouble, "count")
    r.named("query_samples") = (samples.size.toDouble, "count")
    r.named("mix_s") = (mix / 1000, "s")
    r.named("mix_passes") = (passMs.size.toDouble, "count")

    if (t.enabled) {
      t.span("functions.WhitespaceTokens", "functions", "tok") {
        import org.apache.spark.sql.functions.{col, explode}
        graft.Tables.load(spark, dir, "documents")
          .select(explode(graft.core.WordCount.tokens(col("text"))))
          .write.format("noop").mode("overwrite").save()
      }
      t.drain()
      r.layers("functions.tokenize_busy_ms") = (t.countersFor(_ == "tok").taskBusyMs.toDouble, "ms")
      r.detail("artifacts.warm_pass_s") = ((Util.median(setupMs) - mix) / 1000, "s")
      Mix.foreach { case (_, f) =>
        val n = (samples.size.toDouble / queries.size).max(1.0)
        val build = s"op/$f/build"
        val exec = s"op/$f/exec"
        val c = t.countersFor(k => k == build || k == exec)
        val ce = t.countersFor(_ == exec)
        val plans = t.plansFor(_ == exec)
        val execSpans = t.intervals(_ == exec)
        val execMs = execSpans.map(x => x._2 - x._1).sum
        val optMs = plans.map(_.ms("optimization")).sum
        val planMs = plans.map(_.ms("planning")).sum
        val jobMs = execSpans.map { case (a, b) => Trace.covered(ce.jobIntervals.toSeq, a, b) }.sum
        r.detail(s"$f.build_ms") = (t.intervals(_ == build).map(x => x._2 - x._1).sum / n, "ms")
        r.detail(s"$f.plan_ms") = ((analysisMs(f) + optMs + planMs) / n, "ms")
        r.detail(s"$f.plan_analysis_ms") = (analysisMs(f) / n, "ms")
        r.detail(s"$f.plan_optimizer_ms") = (optMs / n, "ms")
        r.detail(s"$f.plan_planning_ms") = (planMs / n, "ms")
        r.detail(s"$f.exec_ms") = ((execMs - optMs - planMs) / n, "ms")
        r.detail(s"$f.driver_ms") = ((execMs - jobMs) / n, "ms")
        r.detail(s"$f.jobs") = (c.jobs / n, "count")
        r.detail(s"$f.tasks") = (c.tasks / n, "count")
        r.detail(s"$f.task_busy_ms") = (c.taskBusyMs / n, "ms")
        r.detail(s"$f.broadcasts") = (plans.map(_.broadcasts).sum / n, "count")
        r.detail(s"$f.input_bytes") = (c.inputBytes / n, "B")
        r.detail(s"$f.shuffle_bytes") = (c.shuffleWriteBytes / n, "B")
        r.detail(s"$f.spill_bytes") = (c.spillBytes / n, "B")
      }
    }
  }
}
