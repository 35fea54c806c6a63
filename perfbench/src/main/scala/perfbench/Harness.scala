package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Measurements of one pass: op latencies by kind, layer-call latencies by
  * span name, and per-pass gauges. Ops are always timed (two clock reads);
  * spans and Spark counters are only recorded in the traced run.
  */
final class Recorder {
  val ops = mutable.ArrayBuffer[(String, Double)]()
  val calls = mutable.ArrayBuffer[(String, Double)]()
  val gauges = mutable.LinkedHashMap[String, Double]()

  /** Time `body` as one op of `kind` (the unit behind `op_iqm_ms`) and as
    * one call into a layer, named `span`.
    */
  def op[T](kind: String, span: String)(body: => T): T = {
    val (t0, u0) = (System.nanoTime(), untimedNs)
    try call(span)(body)
    finally ops += ((kind, timedMs(t0, u0)))
  }

  /** Time `body` as one call into a layer, without counting it as an op. */
  def call[T](span: String)(body: => T): T = {
    val (t0, u0) = (System.nanoTime(), untimedNs)
    try Trace.span(span)(body)
    finally calls += ((span, timedMs(t0, u0)))
  }

  private def timedMs(t0: Long, u0: Long): Double =
    (System.nanoTime() - t0 - (untimedNs - u0)) / 1e6

  /** Benchmark-side work inside a pass (output checks, bookkeeping):
    * excluded from op and pass times, and from the pass's Spark counters.
    */
  var untimedNs = 0L
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span("check")(body)
    finally untimedNs += System.nanoTime() - t0
  }

  def gauge(name: String, v: Double): Unit = gauges(name) = v
  def add(name: String, v: Double): Unit =
    gauges(name) = gauges.getOrElse(name, 0.0) + v

  def callMs(name: String): Seq[Double] =
    calls.iterator.filter(_._1 == name).map(_._2).toSeq
}

/** Outcome of the output checks: `attempted` ops checked, `failed` wrong
  * or failed, `notes` naming each failure.
  */
final case class Checked(attempted: Long, failed: Long, notes: Seq[String])

/** One workload: set-up, one timed pass, output checks, layer metrics. */
trait Workload {
  /** Op kinds whose latencies make up `op_iqm_ms`. */
  def opKinds: Set[String]

  /** The first use of the session: every op on the small input set, so
    * JIT and codegen are warm before the first timed op. Part of set-up.
    */
  def warmUp(spark: SparkSession, dir: String): Unit

  /** One timed pass writing only under `dir`. */
  def pass(spark: SparkSession, dir: String, rec: Recorder): Unit

  /** Outcome of the checks made inside the JVM, over every pass (run.py
    * adds the checks that need the generator's ground truth or DuckDB).
    */
  def checked(recs: Seq[Recorder]): Checked

  /** This workload's per-layer values from traced passes (names without
    * a value here are reported as 0: the layer is not used).
    */
  def layerMetrics(recs: Seq[Recorder]): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Interquartile mean: the mean of what is left after dropping the
    * floor(n/4) smallest and the floor(n/4) largest values; NaN for an
    * empty sample. Unlike the median, it moves smoothly when an op's
    * latency crosses its neighbours' in a mix of unlike ops.
    */
  def iqm(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val k = xs.size / 4
    val mid = xs.sorted.slice(k, xs.size - k)
    mid.sum / mid.size
  }

  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x
}
