package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Counts every call into the program as attempted, or failed when it
  * throws, and keeps a latency sample per kind for successful calls
  * only. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val latencyMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def apply[T](kind: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      latencyMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      out
    } catch { case NonFatal(e) => failed += 1; throw e }
  }
}

/** Wall time of a pass with its output checks left out. */
final class Stopwatch {
  private val t0 = System.nanoTime()
  private var pausedNs = 0L
  def pause[T](body: => T): T = {
    val a = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - a
  }
  def seconds: Double = (System.nanoTime() - t0 - pausedNs) / 1e9
}

/** What one pass produced. */
final case class PassOut(
    seconds: Double,
    digest: Long,
    checks: Seq[(String, Boolean)],
    /** true positives, predicted positives, truth positives */
    quality: (Long, Long, Long),
    /** per-layer metrics the workload measures itself (traced run) */
    layer: Map[String, Double] = Map.empty,
    /** ran the smaller warm-up input, so its digest is its own */
    warmup: Boolean = false)

/** One workload: set up from the seed, then run closed-loop passes. */
trait Workload {
  /** Input records one pass processes. */
  def records: Long
  /** Generate inputs (and any initial state) under `dir`; the last call
    * wins. */
  def setup(dir: Path): Unit
  /** One pass over the inputs, or over the smaller warm-up input when
    * `warmup`; `tr` is [[NoTrace]] in the untraced run. */
  def pass(tr: Tracing, ops: Ops, n: Int, warmup: Boolean): PassOut
  /** Report-only lines: the workload's own names for its metrics. */
  def report(passes: Seq[PassOut], ops: Ops): Seq[(String, Double, String)]
}

object Workload {

  /** Order-independent digest: the sum of per-row hashes. */
  def digest(rows: Iterable[String]): Long =
    rows.foldLeft(0L)((acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(r).toLong * 0x9E3779B97F4A7C15L)

  def rowString(r: Row): String = r.toSeq.map(String.valueOf).mkString("\u0001")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The highest of p50/p75/p90/p99 with at least ten samples above it. */
  def supportedPercentiles(n: Int): Seq[Int] =
    Seq(50, 75, 90, 99).filter(p => n - math.ceil(p / 100.0 * n) >= 10)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeFiles(p: Path): Seq[(String, Long)] =
    if (!Files.exists(p)) Nil else {
      val s = Files.walk(p)
      try {
        val out = mutable.ArrayBuffer.empty[(String, Long)]
        s.filter(f => Files.isRegularFile(f)).forEach(f => out += (f.toString -> Files.size(f)))
        out.toSeq
      } finally s.close()
    }

  def make(name: String, seed: Long, spark: SparkSession): Workload =
    name match {
      case "etl_pipeline" => new EtlWorkload(spark, seed)
      case "corpus_curation" => new CurationWorkload(spark, seed)
      case "index_churn" => new IndexWorkload(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val Names = Seq("etl_pipeline", "corpus_curation", "index_churn")
}
