package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: `prepare` is set-up (untimed), `run` is the timed
  * region, `check` verifies the outputs afterwards (untimed). */
trait Workload {
  def name: String
  def prepare(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def check(ctx: Ctx): Unit
  /** Per-layer metrics only this workload can compute (traced runs). */
  def layerMetrics(ctx: Ctx, a: Trace.Analysis, root: Trace.Span): Map[String, Double] = Map.empty
  /** Names and units of per-layer metrics only this workload emits. */
  def extraLayer: Seq[(String, String)] = Nil
}

final case class Step(kind: String, name: String, ms: Double, ok: Boolean)

final class Ctx(
    val spark: SparkSession,
    val lake: String,
    val seed: Long,
    val seconds: Int,
    val work: String,
    val trace: Trace,
    val inject: Option[String]) {

  val rng = new scala.util.Random(seed)
  /** Build-phase steps, then the main loop's steps, in run order. */
  val builds = mutable.ArrayBuffer[Step]()
  val steps = mutable.ArrayBuffer[Step]()
  /** Outputs checked after the timed region. */
  var checked = 0
  /** Operations that threw or whose output check failed. */
  var failedOps = 0
  val failures = mutable.ArrayBuffer[String]()
  /** Workload-specific end-to-end figures for the detail record. */
  val detail = mutable.LinkedHashMap[String, Any]()
  private var heapPeakMb = 0.0
  private var pausedMs = 0.0

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  private def timedStep(into: mutable.ArrayBuffer[Step], kind: String, name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$kind $name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
          failedOps += 1
          false
      }
    into += Step(kind, name, (System.nanoTime() - t0) / 1e6, ok)
  }

  def build(kind: String, name: String)(body: => Unit): Unit = timedStep(builds, kind, name)(body)
  def step(kind: String, name: String)(body: => Unit): Unit = timedStep(steps, kind, name)(body)

  /** Output check outside the timed region; a mismatch or an error is
    * one failed operation. */
  def expect(what: String)(ok: => Boolean): Unit = {
    checked += 1
    val good =
      try ok
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"check $what threw: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
          false
      }
    if (!good) {
      failures += s"check $what failed"
      failedOps += 1
    }
  }

  /** Driver heap retained after a full GC; the run keeps the peak.
    * The collection is excluded from the timed region's wall time. The
    * second collection follows Spark's context cleaner, which frees the
    * blocks of RDDs the first one found unreachable. */
  def probeHeap(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1e6
    heapPeakMb = math.max(heapPeakMb, used)
    pausedMs += (System.nanoTime() - t0) / 1e6
  }
  def peakHeapMb: Double = heapPeakMb
  def paused: Double = pausedMs
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, and
    * that percentile. Under 21 samples no such percentile lies above
    * the median, so the maximum is reported as the 100th. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.size < 21) (s.lastOption.getOrElse(Double.NaN), 100)
    else (s(s.size - 11), math.floor(100.0 * (s.size - 10) / s.size).toInt)
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
