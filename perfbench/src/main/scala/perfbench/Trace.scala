package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional), so the
  * harness's own spans and Spark's listener timestamps share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double)

/** Spark work attributed to one accounting key. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  /** Busy time of tasks that wrote shuffle output (the map side). */
  var mapBusyMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var sampleJobMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskBusyMs += o.taskBusyMs; mapBusyMs += o.mapBusyMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; sampleJobMs += o.sampleJobMs
    jobIntervals ++= o.jobIntervals
  }
}

/** Planning phases and broadcast count of one executed query. */
final case class PlanEvent(phases: Map[String, (Double, Double)], broadcasts: Int) {
  def start: Double = phases.values.map(_._1).min
  def ms(phase: String): Double = phases.get(phase).map(p => p._2 - p._1).getOrElse(0.0)
}

/** Span recorder plus Spark listeners, all in memory until the run ends.
  *
  * Off (`enabled = false`) it adds nothing: `span` just runs its body and no
  * listener is registered, which is how the timed runs execute. On, the
  * nesting is workload → repetition/pass → public call → Spark job → stage:
  * a call span publishes its id and accounting key as SparkContext local
  * properties, and every job submitted from that thread carries them.
  */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now: Double = epochOffsetMs + System.nanoTime() / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  private val keySpans = new ConcurrentLinkedQueue[(String, Double, Double)]()

  val rootId = 0
  private val rootStart = now

  /** Run `f` as a span; `key` names the bucket its Spark work is counted in. */
  def span[T](name: String, layer: String, key: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      val parent = outer.headOption.map(_._1).getOrElse(rootId)
      val k = Option(key).orElse(outer.headOption.map(_._2)).orNull
      stack.set((id, k) :: outer)
      sc.setLocalProperty("perfbench.span", id.toString)
      sc.setLocalProperty("perfbench.key", k)
      val t0 = now
      try f
      finally {
        val t1 = now
        spans.add(Span(id, parent, name, layer, t0, t1))
        if (key != null) keySpans.add((key, t0, t1))
        stack.set(outer)
        sc.setLocalProperty("perfbench.span", outer.headOption.map(_._1.toString).orNull)
        sc.setLocalProperty("perfbench.key", outer.headOption.map(_._2).orNull)
      }
    }

  /** Add an already-measured interval as a span under the current one. */
  def record(name: String, layer: String, start: Double, end: Double): Unit =
    if (enabled) {
      val parent = stack.get.headOption.map(_._1).getOrElse(rootId)
      spans.add(Span(nextId.getAndIncrement(), parent, name, layer, start, end))
    }

  // --- Spark job, stage and task accounting -------------------------------

  private val counters = mutable.Map.empty[String, Counters]
  private val jobKey = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageShuffleOrOutput = mutable.Map.empty[Int, Boolean]
  @volatile private var jobsOpen = 0
  @volatile private var lastEvent = now
  private val planEvents = new ConcurrentLinkedQueue[PlanEvent]()

  private def bucket(stageId: Int): Option[Counters] =
    stageJob.get(stageId).flatMap(jobKey.get).map(k => counters.getOrElseUpdate(k, new Counters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      lastEvent = now; jobsOpen += 1
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty("perfbench.key"))).getOrElse("other")
      val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toInt)
      jobKey(e.jobId) = key
      jobSpan(e.jobId) = span.getOrElse(rootId)
      jobStart(e.jobId) = e.time.toDouble
      jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      counters.getOrElseUpdate(key, new Counters).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      lastEvent = now; jobsOpen -= 1
      val (t0, t1) = (jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble)
      val key = jobKey.getOrElse(e.jobId, "other")
      val c = counters.getOrElseUpdate(key, new Counters)
      c.jobIntervals += ((t0, t1))
      // The range-partition sampling job behind orderBy neither writes
      // shuffle output nor files: it only reads the upstream shuffle.
      // Skipped parent stages never complete, so only completed ones count.
      val ran = jobStages.getOrElse(e.jobId, Nil).flatMap(stageShuffleOrOutput.get)
      if (ran.nonEmpty && !ran.exists(identity)) c.sampleJobMs += t1 - t0
      spans.add(Span(nextId.getAndIncrement(), jobSpan.getOrElse(e.jobId, rootId),
        s"job ${e.jobId}", "spark.job", t0, t1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      lastEvent = now
      val info = e.stageInfo
      val tm = info.taskMetrics
      if (tm != null)
        stageShuffleOrOutput(info.stageId) =
          tm.shuffleWriteMetrics.bytesWritten > 0 || tm.outputMetrics.bytesWritten > 0
      // Stages finish before their job ends, so the job span id is not
      // known yet; link by job id and resolve when the trace is written.
      for (t0 <- info.submissionTime; t1 <- info.completionTime; job <- stageJob.get(info.stageId))
        stageSpans += ((job, Span(nextId.getAndIncrement(), -1,
          s"stage ${info.stageId}", "spark.stage", t0.toDouble, t1.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      lastEvent = now
      val m = e.taskMetrics
      if (m != null) bucket(e.stageId).foreach { c =>
        c.tasks += 1
        c.taskBusyMs += m.executorRunTime
        if (m.shuffleWriteMetrics.bytesWritten > 0) c.mapBusyMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Span)]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEvent = now
      val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs.toDouble, p.endTimeMs.toDouble)) }
      if (phases.nonEmpty) planEvents.add(PlanEvent(phases, broadcasts(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Broadcast exchanges in a physical plan, through adaptive stages and
    * subqueries; a reused exchange is not a new broadcast.
    */
  private def broadcasts(root: SparkPlan): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case _ =>
      }
      p.children.foreach(go)
      p.subqueries.foreach(go)
    }
    go(root)
    seen.asScala.count(_.isInstanceOf[BroadcastExchangeExec])
  }

  /** Wait until the listener bus has delivered every event of the run. */
  def drain(): Unit = if (enabled) {
    val deadline = now + 20000
    while (now < deadline && (jobsOpen > 0 || now - lastEvent < 500)) Thread.sleep(50)
  }

  def countersFor(keys: String => Boolean): Counters = synchronized {
    val c = new Counters
    counters.filter { case (k, _) => keys(k) }.values.foreach(c += _)
    c
  }

  /** Planning events whose first phase began inside a span of a matching key. */
  def plansFor(keys: String => Boolean): Seq[PlanEvent] = {
    val ivs = keySpans.asScala.filter(x => keys(x._1)).toSeq
    planEvents.asScala.toSeq.filter(e => ivs.exists { case (_, a, b) => e.start >= a && e.start <= b })
  }

  def intervals(keys: String => Boolean): Seq[(Double, Double)] =
    keySpans.asScala.filter(x => keys(x._1)).map(x => (x._2, x._3)).toSeq

  /** Every span of the run, with stage spans linked to their job spans and
    * the workload root spanning the whole run.
    */
  def allSpans(rootName: String): Seq[Span] = synchronized {
    val own = spans.asScala.toSeq
    val jobIds = own.filter(_.layer == "spark.job").map(s => s.name.stripPrefix("job ").toInt -> s.id).toMap
    val stages = stageSpans.toSeq.map { case (job, s) => s.copy(parent = jobIds.getOrElse(job, rootId)) }
    val all = own ++ stages
    val end = (all.map(_.end) :+ now).max
    Span(rootId, -1, rootName, "bench", rootStart, end) +: all
  }
}

object Trace {

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, cb.max(b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total
  }

  /** Exclusive attribution of the root's wall time to layers: each instant
    * goes to the deepest span open at that instant (the latest-started one
    * on a tie), so the layer totals add up to the root's duration exactly.
    * Time only the root covers is the unexplained remainder.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val depth = mutable.Map.empty[Int, Int]
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else byId.get(s.parent).map(d(_) + 1).getOrElse(1))
    val root = spans.find(_.parent < 0).get
    val clipped = spans.map(s => s.copy(start = s.start.max(root.start), end = s.end.min(root.end)))
      .filter(s => s.end > s.start)
    val cuts = clipped.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sortedByStart = clipped.sortBy(_.start)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val open = sortedByStart.takeWhile(_.start <= mid).filter(_.end > mid)
        if (open.nonEmpty) {
          val top = open.maxBy(s => (d(s), s.start))
          out(top.layer) += b - a
        }
      case _ =>
    }
    out.toMap
  }
}
