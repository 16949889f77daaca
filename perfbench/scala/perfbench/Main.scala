package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.util.control.NonFatal

/**
 * Benchmark entry point. One run: start a local Spark session, set the
 * workload up three times (the median counts), run one warm-up pass
 * (and a traced one with `--trace 1`), then closed-loop passes until
 * `--seconds` have gone by, check every pass's outputs, and print one
 * JSON line last.
 *
 *   --workload etl_pipeline|corpus_curation|index_churn
 *   --seed N --seconds S --trace 0|1
 *   --work DIR   scratch space, emptied first
 *   --state DIR  digests of earlier runs and trace files
 *   --build ID   identifies the program build the digests belong to
 *
 * With `--trace 0` the JSON carries the end-to-end metrics; with
 * `--trace 1` it alternates traced and untraced passes and carries the
 * per-layer metrics.
 */
object Main {

  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) - 1)
  val SetupReps = 3

  /** Per-layer metrics: span name → metric → unit. */
  val Layers: Seq[(String, Seq[(String, String)])] = {
    val self = "self_s" -> "s"
    val jobs = "jobs" -> "count"
    val shuffle = "shuffle_write_mb" -> "MB"
    val busy = "busy_share" -> "share"
    Seq(
      "io.abr_parse" -> Seq(self, "records" -> "count", jobs),
      "io.wet_parse" -> Seq(self, "records" -> "count", jobs),
      "etl.clean_web" -> Seq(self, jobs, shuffle),
      "etl.clean_abr" -> Seq(self, jobs, shuffle),
      "etl.match" -> Seq(self, jobs, shuffle, "candidate_pairs" -> "count",
        "matches_per_candidate" -> "ratio", "task_skew" -> "ratio"),
      "etl.golden" -> Seq(self, jobs, shuffle),
      "etl.stats" -> Seq(self, jobs, shuffle),
      "functions.token_sort_ratio" -> Seq("pairs_per_s" -> "1/s"),
      "io.jdbc_upsert" -> Seq(self, "rows_per_s" -> "1/s"),
      "io.parquet_write" -> Seq(self, "rows_per_s" -> "1/s"),
      "text.lr_train" -> Seq(self, jobs, busy),
      "text.lr_predict" -> Seq(self, jobs, busy),
      "dedup.lsh_pairs" -> Seq(self, jobs, shuffle, "pairs" -> "count"),
      "dedup.cc_label" -> Seq(self, jobs, busy, shuffle),
      "operators.pagerank" -> Seq(self, jobs, busy, shuffle),
      "streaming.bm25_commit" -> Seq(self, jobs, "files_written" -> "count",
        "p50_ms" -> "ms"),
      "streaming.bm25_search" -> Seq(self, jobs, "index_files" -> "count",
        "p50_ms" -> "ms"),
      "streaming.bm25_delete" -> Seq(self, "bytes_rewritten" -> "bytes"),
      "streaming.bm25_compact" -> Seq(self, "bytes_rewritten" -> "bytes"),
      "streaming.index" -> Seq("bytes_per_input_byte" -> "ratio"))
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = Path.of(arg(args, "work")).toAbsolutePath
    val state = Path.of(arg(args, "state")).toAbsolutePath
    val build = arg(args, "build")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    Workload.deleteTree(work)
    Files.createDirectories(work)
    Files.createDirectories(state)

    val t0 = System.nanoTime()
    val spark = GraftSession.configure(SparkSession.builder()
        .master(s"local[$Cores]").appName("perfbench"), Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl = Workload.make(workload, seed, spark)
    val setupS = (0 until SetupReps).map { i =>
      val a = System.nanoTime()
      wl.setup(work.resolve(s"setup_$i"))
      (System.nanoTime() - a) / 1e9
    }
    (0 until SetupReps - 1).foreach(i => Workload.deleteTree(work.resolve(s"setup_$i")))

    val warmOps = new Ops
    val ops = new Ops
    val tracer = if (traced) Some(new Tracer(spark, Cores)) else None
    var passNo = 0
    def runPass(tr: Tracing, o: Ops, warmup: Boolean = false): Option[PassOut] = {
      passNo += 1
      val failedBefore = o.failed
      try Some(wl.pass(tr, o, passNo, warmup))
      catch {
        case NonFatal(e) =>
          if (o.failed == failedBefore) { o.attempted += 1; o.failed += 1 }
          System.err.println(s"perfbench: pass $passNo failed: $e")
          e.printStackTrace()
          None
      }
    }

    // warm-ups count as attempted operations but add no sample; a traced
    // run warms the traced pass's own plans too
    val warm = runPass(NoTrace, warmOps, warmup = true).toSeq ++ tracer.toSeq.flatMap { t =>
      t.beginPass()
      val out = runPass(t, warmOps, warmup = true)
      t.endPass()
      out
    }
    val plain = mutable.ArrayBuffer.empty[PassOut]
    val withTrace = mutable.ArrayBuffer.empty[(PassOut, Map[String, LayerStats])]
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < tEnd || plain.isEmpty && ops.attempted == 0) {
      tracer match {
        case Some(t) =>
          t.beginPass()
          val out = runPass(t, ops)
          val stats = t.endPass()
          out.foreach(o => withTrace += o -> stats)
          runPass(NoTrace, ops).foreach(plain += _)
        case None => runPass(NoTrace, ops).foreach(plain += _)
      }
    }

    // output checks over every pass, warm-up included, plus the digest:
    // equal across passes over one input and across runs of this seed and
    // build
    val all = warm ++ plain ++ withTrace.map(_._1)
    val digestsOk = all.groupBy(_.warmup).values.forall(_.map(_.digest).distinct.size == 1)
    val digests = all.filterNot(_.warmup).map(_.digest).distinct
    val digestFile = state.resolve(s"digest-$workload-$seed-$build.txt")
    val earlier = if (Files.exists(digestFile))
      Some(new String(Files.readAllBytes(digestFile), UTF_8).trim) else None
    val digest = digests.headOption.map(d => f"$d%016x").getOrElse("none")
    if (earlier.isEmpty && digests.size == 1 && digestsOk) {
      val tmp = state.resolve(s".digest-$workload-$seed-${ProcessHandle.current().pid()}")
      Files.write(tmp, digest.getBytes(UTF_8))
      Files.move(tmp, digestFile, StandardCopyOption.ATOMIC_MOVE)
    }
    val checks = all.flatMap(_.checks) ++ Seq(
      "digest_equal_across_passes" -> (digests.size == 1 && digestsOk),
      "digest_equal_across_runs" -> earlier.forall(_ == digest))
    checks.filterNot(_._2).map(_._1).distinct.foreach(c =>
      System.err.println(s"perfbench: output check failed: $c"))
    val outputOk = if (checks.isEmpty) 0.0 else checks.count(_._2).toDouble / checks.size
    val attempted = warmOps.attempted + ops.attempted
    val failed = warmOps.failed + ops.failed
    val correct = failed == 0 && outputOk == 1.0 && all.nonEmpty

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        val secs = plain.map(_.seconds).toSeq
        val (tp, pred, tot) = plain.lastOption.map(_.quality).getOrElse((0L, 0L, 0L))
        Seq(
          ("setup_s", sessionS + Workload.median(setupS), "s"),
          ("run_s", Workload.median(secs), "s"),
          ("records_per_s", if (secs.isEmpty) 0.0 else wl.records * secs.size / secs.sum, "1/s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("output_ok", outputOk, "share"),
          ("precision", if (pred > 0) tp.toDouble / pred else 0.0, "share"),
          ("recall", if (tot > 0) tp.toDouble / tot else 0.0, "share"))
      case Some(t) =>
        t.write(state.resolve(s"trace-$workload-$seed.jsonl"))
        t.close()
        layerMetrics(withTrace.toSeq) :+ (("trace_overhead_s",
          Workload.median(withTrace.map(_._1.seconds).toSeq) -
            Workload.median(plain.map(_.seconds).toSeq), "s"))
    }

    val reported = all.lastOption.map(_ => wl.report(all, ops)).getOrElse(Nil)
    println(s"perfbench workload=$workload seed=$seed cores=$Cores trace=${if (traced) 1 else 0} " +
      s"passes=${plain.size + withTrace.size} attempted=$attempted failed=$failed " +
      s"error_rate=${fmt(if (attempted > 0) failed.toDouble / attempted else 0.0)} " +
      s"digest=$digest session_s=${fmt(sessionS)} setup_median_s=${fmt(Workload.median(setupS))} " +
      s"warmup_s=${warm.map(w => fmt(w.seconds)).mkString(",")}")
    (metrics ++ reported).foreach { case (n, v, u) => println(s"  $n = ${fmt(v)} $u") }
    println("{\"correct\": " + correct + ", \"attempted\": " + attempted +
      ", \"failed\": " + failed + ", \"metrics\": {" + metrics.map { case (n, v, u) =>
        "\"" + n + "\": {\"value\": " + fmt(v) + ", \"unit\": \"" + u + "\"}"
      }.mkString(", ") + "}}")
    System.out.flush()
    spark.stop()
    Workload.deleteTree(work)
  }

  /** Every per-layer metric, the median over traced passes; 0 for spans
    * the workload does not exercise. */
  private def layerMetrics(passes: Seq[(PassOut, Map[String, LayerStats])])
      : Seq[(String, Double, String)] = {
    def med(f: ((PassOut, Map[String, LayerStats])) => Option[Double]): Double =
      Workload.median(passes.flatMap(f))
    Layers.flatMap { case (span, ms) =>
      ms.map { case (m, unit) =>
        def st(g: LayerStats => Double) = med(p => p._2.get(span).map(g))
        def own(k: String) = med(p => p._1.layer.get(s"$span.$k"))
        val v = m match {
          case "self_s" => st(_.selfS)
          case "jobs" => st(_.jobs.toDouble)
          case "shuffle_write_mb" => st(_.shuffleWriteMb)
          case "busy_share" => st(_.busyShare)
          case "task_skew" => st(_.taskSkew)
          case "bytes_rewritten" => st(_.bytesWritten)
          case "p50_ms" => Workload.median(passes.flatMap(_._2.get(span).toSeq.flatMap(_.durationsMs)))
          case "rows_per_s" => med { case (o, s) =>
            for (rows <- o.layer.get(s"$span.rows"); l <- s.get(span) if l.selfS > 0)
              yield rows / l.selfS
          }
          case other => own(other)
        }
        (s"$span.$m", v, unit)
      }
    }
  }
}
