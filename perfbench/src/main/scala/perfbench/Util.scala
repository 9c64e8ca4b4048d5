package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Order statistics, JVM probes and a minimal JSON writer. */
object Util {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile over the sorted sample (the `inclusive`
    * method of Python's `statistics.quantiles`), so the harness and the
    * Python side agree on what a percentile is.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly above the q-quantile: a percentile is reported only
    * together with this count.
    */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  def nowMs: Double = System.nanoTime() / 1e6

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private val mb = 1024.0 * 1024.0

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / mb

  /** Driver heap in use after a full collection. Spark's context cleaner
    * drops unreferenced broadcasts only after a collection has found them,
    * so collect until the figure stops falling.
    */
  def retainedHeapMb: Double = {
    def used = { System.gc(); Thread.sleep(300); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb }
    var last = used
    var next = used
    var rounds = 2
    while (next < last * 0.99 && rounds < 8) { last = next; next = used; rounds += 1 }
    next
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** JSON text of nested Maps, Seqs, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
