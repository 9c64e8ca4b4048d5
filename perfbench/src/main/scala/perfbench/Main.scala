package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its settings and
  * the report it fills.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val out: String,
    val seed: Long, val seconds: Double, val tiny: Boolean, val corrupt: Boolean,
    val dataDir: String, val cores: Int) {
  val report = new Report
  def log(msg: String): Unit = Main.log(msg)
  def dir(name: String): String = {
    val f = new java.io.File(out, name)
    f.mkdirs()
    f.getPath
  }
}

/** What one run measured. `e2e` holds the gated end-to-end metrics, `named`
  * the workload's own headline figures (printed, not gated), `layers` the
  * per-layer metrics every workload reports, and `detail` the workload's
  * own per-layer figures, printed and kept in the trace file.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Keys of the measured operations' Spark work, and how many there were. */
  var opKeys: String => Boolean = _.startsWith("op/")
  var ops = 1L

  def check(name: String, ok: Boolean, why: String = ""): Unit = {
    checks += ((name, ok, why))
    attempted += 1
    if (!ok) failed += 1
  }
}

object Main {
  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2fs $msg")

  val Workloads = Seq("wordcount-batch", "query-mix", "stream-windowed")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val out = new java.io.File(opts("out")).getAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    val (spark, sessionMs) = Util.timed {
      graft.Tables.configure(SparkSession.builder())
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"$out/checkpoints")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    log(f"session ready in ${sessionMs / 1e3}%.2fs")
    val trace = new Trace(opts.getOrElse("trace", "0") == "1", spark)
    val ctx = new Ctx(spark, trace, out, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toDouble, opts.get("size").contains("tiny"),
      opts.get("corrupt").contains("1"), opts.getOrElse("data", ""), cores)
    val r = ctx.report

    Util.resetHeapPeak()
    val gc0 = Util.gcMs
    workload match {
      case "wordcount-batch" => WordcountBatch.run(ctx)
      case "query-mix" => QueryMix.run(ctx)
      case "stream-windowed" => StreamWindowed.run(ctx)
    }
    ctx.log("workload done")
    val gc = Util.gcMs - gc0
    val heapPeak = Util.heapPeakMb
    r.e2e("retained_heap_mb") = (Util.retainedHeapMb, "MB")
    // Single-thread host probe, recorded on every run and never used to
    // drop, repeat or select a run.
    val cpuSt = graft.tools.HostCalib.cpuSt()

    r.layers("tables.session_ms") = (sessionMs, "ms")
    if (trace.enabled) {
      trace.drain()
      val c = trace.countersFor(r.opKeys)
      val plans = trace.plansFor(r.opKeys)
      val opSpans = trace.intervals(r.opKeys)
      val busyMs = opSpans.map(x => x._2 - x._1).sum
      val jobMs = opSpans.map { case (a, b) => Trace.covered(c.jobIntervals.toSeq, a, b) }.sum
      val n = r.ops.toDouble.max(1.0)
      def put(k: String, v: Double, u: String): Unit =
        if (!r.layers.contains(k)) r.layers(k) = (v, u)
      put("spark.plan_ms", plans.map(p => p.ms("optimization") + p.ms("planning")).sum / n, "ms")
      put("spark.driver_ms", (busyMs - jobMs) / n, "ms")
      put("spark.task_busy_ms", c.taskBusyMs / n, "ms")
      put("spark.jobs", c.jobs / n, "count")
      put("spark.tasks", c.tasks / n, "count")
      put("spark.input_bytes", c.inputBytes / n, "B")
      put("spark.shuffle_write_bytes", c.shuffleWriteBytes / n, "B")
      put("spark.shuffle_records", c.shuffleRecords / n, "count")
      put("spark.spill_bytes", c.spillBytes / n, "B")
      put("spark.output_bytes", c.outputBytes / n, "B")
      put("spark.broadcasts", plans.map(_.broadcasts).sum / n, "count")
    }
    r.layers("jvm.gc_ms") = (gc, "ms")
    r.layers("jvm.heap_peak_mb") = (heapPeak, "MB")
    r.layers("host.cpu_st_s") = (cpuSt, "s")

    if (trace.enabled) writeTrace(ctx, workload)
    val result = Map(
      "workload" -> workload,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "e2e" -> metrics(r.e2e),
      "named" -> metrics(r.named),
      "layers" -> metrics(r.layers),
      "detail" -> metrics(r.detail),
      "checks" -> r.checks.map { case (n, ok, why) => Map("name" -> n, "ok" -> ok, "why" -> why) },
      "extra" -> r.extra)
    Files.writeString(Paths.get(out, "result.json"), Util.json(result))
    ctx.log("result written")
    spark.stop()
    log("session stopped")
  }

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  /** The traced run's spans and the per-layer self times they imply. */
  private def writeTrace(ctx: Ctx, workload: String): Unit = {
    val spans = ctx.trace.allSpans(workload)
    val self = Trace.selfTimes(spans)
    val root = spans.head
    val explained = self.filter(_._1 != "bench").values.sum
    val doc = Map(
      "workload" -> workload,
      "wall_ms" -> (root.end - root.start),
      "self_ms" -> self,
      "unexplained_ms" -> self.getOrElse("bench", 0.0),
      "explained_plus_unexplained_ms" -> (explained + self.getOrElse("bench", 0.0)),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> (s.start - root.start), "dur_ms" -> (s.end - s.start))))
    Files.writeString(Paths.get(ctx.out, "trace.json"), Util.json(doc))
  }
}
