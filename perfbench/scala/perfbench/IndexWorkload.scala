package perfbench

import graft.streaming.StreamingBm25Index
import graft.text.Relevance
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{asc, desc}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Writes beside reads on the growing BM25 index: a seeded cycle of
  * inserts, deletes and a compaction, each followed by top-10 searches.
  * Every pass starts from the same committed index, restored from the
  * snapshot set-up wrote, and replays the same cycle; the warm-up pass
  * keeps only the cycle's first search. */
final class IndexWorkload(spark: SparkSession, seed: Long) extends Workload {
  private val Buckets = 8
  private val CompactFiles = 4
  private var snapshot: Path = _
  private var work: Path = _
  private var initial: Seq[(Long, String)] = Nil
  private var cycle: IndexedSeq[Gen.IndexOp] = IndexedSeq.empty

  def records: Long = cycle.collect { case Gen.Insert(d) => d.size.toLong }.sum

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def frame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      docs.map { case (i, t) => Row(i, t) }: _*), Schema)

  private final case class Dirs(root: Path) {
    val index: String = root.resolve("index").toString
    val corpus: String = root.resolve("corpus").toString
    val stats: String = root.resolve("stats").toString
  }

  def setup(dir: Path): Unit = {
    val churn = new Gen.Churn(seed)
    val d = Dirs(dir.resolve("snapshot"))
    StreamingBm25Index.processBatch(frame(churn.initial), 0L, "text", "doc_id",
      Buckets, d.index, d.corpus, d.stats)
    initial = churn.initial
    cycle = churn.cycle()
    snapshot = d.root
    work = dir.resolve("work")
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  private def top10(df: DataFrame): Seq[(Long, Double)] =
    df.orderBy(desc("score"), asc("doc_id")).limit(10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq

  /** The first search after each step: compared with a fresh BM25. */
  private def firstSearches(ops: Seq[Gen.IndexOp]): Seq[Boolean] =
    ops.indices.map(i => i > 0 && ops(i).isInstanceOf[Gen.Search] &&
      !ops(i - 1).isInstanceOf[Gen.Search])

  def pass(tr: Tracing, ops: Ops, n: Int, warmup: Boolean): PassOut = {
    val steps = if (!warmup) cycle else {
      val first = cycle.indexWhere(_.isInstanceOf[Gen.Search])
      cycle.indices.collect { case i if i == first || !cycle(i).isInstanceOf[Gen.Search] => cycle(i) }
    }
    val checked = firstSearches(steps)
    val root = work.resolve(s"pass_$n")
    Workload.deleteTree(root)
    copyTree(snapshot, root)
    val d = Dirs(root)
    val traced = !(tr eq NoTrace)
    val alive = mutable.LinkedHashMap.from(initial)
    val deleted = mutable.HashSet.empty[Long]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val results = mutable.ArrayBuffer.empty[String]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var batchId = 1L
    var searches = 0
    var (tp, predicted, truthTotal) = (0L, 0L, 0L)
    def files(): Seq[(String, Long)] =
      Seq(d.index, d.corpus, d.stats).flatMap(p => Workload.treeFiles(Path.of(p)))
    val sw = new Stopwatch
    steps.zip(checked).foreach { case (op, check) => op match {
      case Gen.Insert(docs) =>
        val before = if (traced) sw.pause(files().map(_._1).toSet) else Set.empty[String]
        ops("commit")(tr.span("streaming.bm25_commit")(
          StreamingBm25Index.processBatch(frame(docs), batchId, "text", "doc_id",
            Buckets, d.index, d.corpus, d.stats)))
        batchId += 1
        alive ++= docs
        if (traced) sw.pause {
          layer("streaming.bm25_commit.files_written") +=
            files().count(f => !before.contains(f._1))
        }
      case Gen.Delete(ids) =>
        val (nCorpus, _) = ops("delete")(tr.span("streaming.bm25_delete")(
          StreamingBm25Index.deleteDocs(spark, d.corpus, d.index, d.stats, "text",
            spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
              StructType(Seq(StructField("doc_id", LongType, nullable = false)))))))
        alive --= ids
        deleted ++= ids
        checks += "delete_survivors" -> (nCorpus == alive.size)
      case Gen.Compact =>
        val (nCorpus, _) = ops("compact")(tr.span("streaming.bm25_compact")(
          StreamingBm25Index.compact(spark, d.corpus, d.index, CompactFiles)))
        checks += "compact_survivors" -> (nCorpus == alive.size)
      case Gen.Search(q) =>
        if (traced) sw.pause {
          layer("streaming.bm25_search.index_files") +=
            files().count(f => f._1.endsWith(".parquet") && !f._1.startsWith(d.corpus))
        }
        val got = ops("search")(tr.span("streaming.bm25_search")(
          top10(StreamingBm25Index.searchFromIndex(spark, d.index, d.stats, q))))
        results += s"$q\u0001" + got.mkString("\u0001")
        checks += "no_deleted_doc_returned" -> got.forall(g => !deleted.contains(g._1))
        if (check) sw.pause {
          val fresh = top10(Relevance.bm25(frame(alive.toSeq), "text", "doc_id", q))
          checks += "search_equals_fresh_bm25" -> (got == fresh)
          tp += got.count(fresh.contains)
          predicted += got.size
          truthTotal += fresh.size
        }
        searches += 1
    }}
    val seconds = sw.seconds
    val onDisk = files().map(_._2).sum.toDouble
    val inputBytes = alive.values.map(_.getBytes(UTF_8).length.toLong).sum
    layer("streaming.bm25_search.index_files") /= math.max(1, searches)
    layer("streaming.index.bytes_per_input_byte") = onDisk / inputBytes
    Workload.deleteTree(root)
    PassOut(seconds, Workload.digest(results), checks.toSeq,
      (tp, predicted, truthTotal), layer.toMap, warmup)
  }

  def report(passes: Seq[PassOut], ops: Ops): Seq[(String, Double, String)] = {
    def pcts(name: String, xs: Seq[Double]) =
      Workload.supportedPercentiles(xs.size).map(p =>
        (s"${name}_p${p}_ms", Workload.percentile(xs, p), "ms")) :+
        ((s"${name}_median_ms_of_${xs.size}", Workload.median(xs.toSeq), "ms"))
    def lat(kind: String) = ops.latencyMs.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
    pcts("search", lat("search")) ++ pcts("commit", lat("commit")) :+
      (("index_bytes_per_input_byte", Workload.median(passes.filterNot(_.warmup)
        .flatMap(_.layer.get("streaming.index.bytes_per_input_byte"))), "ratio"))
  }
}
