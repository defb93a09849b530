package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile of `xs`, `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The geometric mean of per-class medians. Over a fixed mix of
   * request classes with different costs, a pooled median sits on the
   * edge between two classes and jumps with a few samples; this figure
   * moves smoothly with every class. One class: its median. */
  def classMedian(classes: Seq[Seq[Double]]): Double = {
    val ms = classes.filter(_.nonEmpty).map(median)
    require(ms.nonEmpty, "no samples")
    math.exp(ms.map(math.log).sum / ms.size)
  }
}

/** One reported metric with the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** Attempted/failed operation counts. Every operation is counted once;
 * a failed one is also kept in its latency set, so failures can only
 * raise a percentile. */
final class Ops {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def record(ok: Boolean, what: => String): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      if (problems.size < 20) problems.add(what)
    }
  }

  /** A correctness check: a failed check is a failed operation. */
  def check(result: Option[String], what: => String): Unit =
    record(result.isEmpty, s"$what: ${result.getOrElse("")}")

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
}

/** Latency samples by operation kind, in ms. A kind may be split into
 * classes, named `kind/class` (as `query/2`, one dashboard panel). */
final class Latencies {
  private val byClass = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, ns: Long): Unit = synchronized {
    byClass.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ns / 1e6
  }
  /** The classes of `kind`, or the kind itself when it is not split. */
  def classes(kind: String): Seq[Seq[Double]] = synchronized {
    byClass.collect { case (k, xs) if k == kind || k.startsWith(kind + "/") => xs.toSeq }.toSeq
  }
  /** Every sample of `kind`, all classes pooled. */
  def apply(kind: String): Seq[Double] = classes(kind).flatten
  def classNames: Seq[String] = synchronized(byClass.keys.toSeq.sorted)
}

object Result {
  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  /** Prints the human-readable lines, then the one-line JSON result the
   * benchmark's caller parses (always the last stdout line). */
  def print(workload: String, ops: Ops, metrics: Seq[Metric], notes: Seq[String]): Unit = {
    val correct = ops.failed == 0
    val rate = if (ops.attempted == 0) 0.0 else ops.failed.toDouble / ops.attempted
    println(s"# workload $workload: ${ops.attempted} ops attempted, ${ops.failed} failed, error_rate $rate")
    ops.problems.forEach(p => println(s"# FAILED $p"))
    notes.foreach(n => println(s"# $n"))
    metrics.foreach(m => println(f"# ${m.name}%-28s ${m.value}%14.4f ${m.unit}%-8s n=${m.samples}"))
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": $correct, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }
}
