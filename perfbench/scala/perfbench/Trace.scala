package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Where a workload's calls into the program are wrapped. The untraced
  * run uses [[NoTrace]]: calls run as they are, no listener is attached
  * and nothing is materialized early. */
trait Tracing {
  def span[T](name: String)(body: => T): T
  /** Materialize a layer's output inside the current span (traced run
    * only), so its cost lands in that span rather than in a later one. */
  def materialize(df: DataFrame): DataFrame
}

object NoTrace extends Tracing {
  def span[T](name: String)(body: => T): T = body
  def materialize(df: DataFrame): DataFrame = df
}

/** A span: one call into a layer, on the client thread. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = 0L)

/** Listener counters attributed to one span. */
final class SpanCounters {
  var jobs = 0
  var tasks = 0
  var runTimeMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Attributes jobs and task metrics to the span that submitted them. A
  * job carries the submitting thread's local properties, so the span id
  * rides along even though listener events arrive on another thread. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Int, SpanCounters]

  def of(span: Int): Option[SpanCounters] = synchronized(counters.get(span))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { s =>
        val id = s.toInt
        counters.getOrElseUpdate(id, new SpanCounters).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters.getOrElseUpdate(id, new SpanCounters)
      c.tasks += 1
      c.runTimeMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }
}

/** Per-layer totals of one traced pass, keyed by span name. */
final case class LayerStats(selfS: Double, jobs: Int, shuffleWriteMb: Double,
    busyShare: Double, taskSkew: Double, bytesWritten: Double,
    durationsMs: Seq[Double])

/** Spans kept in memory, one listener, written out when the run ends. */
final class Tracer(spark: SparkSession, cores: Int) extends Tracing {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var passStart = 0
  private val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    held += p
    p
  }

  /** Span duration minus the union of its children's intervals. */
  private def selfNs(s: Span): Long = {
    val kids = spans.iterator.drop(s.id + 1).filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).toSeq.sortBy(_._1)
    var covered = 0L
    var hi = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, hi)
      if (b > lo) { covered += b - lo; hi = b }
    }
    (s.endNs - s.startNs) - covered
  }

  def beginPass(): Unit = passStart = spans.size

  /** Totals per span name over the spans of the current pass. */
  def endPass(): Map[String, LayerStats] = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
    org.apache.spark.perfbench.Bus.drain(sc)
    spans.drop(passStart).groupBy(_.name).map { case (name, ss) =>
      val self = ss.map(selfNs).sum / 1e9
      val cs = ss.flatMap(s => listener.of(s.id))
      val runMs = cs.map(_.runTimeMs).sum
      // slowest task over the median task, in the span's heaviest stage
      val stages = cs.flatMap(_.stageTaskMs.values)
      val skew = if (stages.isEmpty) 1.0 else {
        val t = stages.maxBy(_.sum).sorted
        val med = t(t.size / 2).toDouble
        if (med > 0) t.last / med else 1.0
      }
      name -> LayerStats(
        selfS = self,
        jobs = cs.map(_.jobs).sum,
        shuffleWriteMb = cs.map(_.shuffleWriteBytes).sum / 1e6,
        busyShare = if (self > 0) runMs / 1e3 / (self * cores) else 0.0,
        taskSkew = skew,
        bytesWritten = cs.map(_.outputBytes).sum.toDouble,
        durationsMs = ss.map(s => (s.endNs - s.startNs) / 1e6).toSeq)
    }
  }

  /** All spans as JSON lines: name, parent, start and end (ns from the
    * first span), self time and the listener counters. */
  def write(path: Path): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val lines = spans.map { s =>
      val c = listener.of(s.id).getOrElse(new SpanCounters)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},""" +
        s""""self_s":${selfNs(s) / 1e9},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""executor_run_ms":${c.runTimeMs},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""output_bytes":${c.outputBytes}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val Key = "perfbench.span"
}
