package perfbench

import graft.dedup.{ConnectedComponents, TextDedup}
import graft.operators.PageRank
import graft.text.LogisticRegression
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.Path
import scala.collection.mutable

/** The iterative curation operators: a quality classifier trained and
  * applied, near-duplicate pairs by MinHash-LSH, their connected
  * components, and PageRank over the duplicate edges plus a link graph.
  * Small data, many jobs. */
final class CurationWorkload(spark: SparkSession, seed: Long) extends Workload {
  private val size = Gen.CorpusSize
  private val LrIters = 4
  private val PageRankIters = 3
  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var nodes: DataFrame = _
  private var links: DataFrame = _
  private var lastAccuracy = 0.0

  def records: Long = size.docs

  def setup(dir: Path): Unit = {
    corpus = Gen.corpus(seed)
    val rows = corpus.texts.indices.map(i =>
      Row(i.toLong, corpus.texts(i), corpus.quality(i)))
    docs = spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("quality", BooleanType, nullable = false))))
    nodes = docs.select(col("doc_id").as("node"))
    links = spark.createDataFrame(java.util.Arrays.asList(
      corpus.links.map { case (s, d) => Row(s, d) }: _*), StructType(Seq(
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false))))
  }

  /** The warm-up is a full pass: the corpus is small already. */
  def pass(tr: Tracing, ops: Ops, n: Int, warmup: Boolean): PassOut = {
    val sw = new Stopwatch
    val weights = ops("lr_train")(tr.span("text.lr_train")(tr.materialize(
      LogisticRegression.trainWeights(docs, "text", "doc_id", col("quality"),
        iters = LrIters))))
    val preds = ops("lr_predict")(tr.span("text.lr_predict")(
      LogisticRegression.predictWithWeights(docs, "text", "doc_id",
        col("quality"), weights).collect()))
    val (pairs, pairRows) = ops("lsh_pairs")(tr.span("dedup.lsh_pairs") {
      val p = tr.materialize(TextDedup.minhashLshPairs(docs, "text", "doc_id"))
      (p, p.collect())
    })
    val labels = ops("cc_label")(tr.span("dedup.cc_label")(
      ConnectedComponents.label(nodes, pairs, "doc_a", "doc_b").collect()))
    val dupEdges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val ranks = ops("pagerank")(tr.span("operators.pagerank")(
      PageRank.ranksMicro(nodes, links.unionByName(dupEdges), PageRankIters).collect()))
    val weightRows = weights.collect()
    val seconds = sw.seconds
    check(seconds, weightRows, preds, pairRows, labels, ranks)
  }

  private def check(seconds: Double, weights: Array[Row], preds: Array[Row],
      pairs: Array[Row], labels: Array[Row], ranks: Array[Row]): PassOut = {
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected labels: union-find over the found pairs, root = minimum id
    val parent = Array.range(0, size.docs)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    found.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = labels.map(r => r.getLong(0) -> r.getLong(1))
    val labMap = lab.toMap
    val checks = Seq(
      "labels_partition_docs" -> (lab.length == size.docs && labMap.size == size.docs &&
        labMap.keys.forall(k => k >= 0 && k < size.docs)),
      "labels_are_components" -> labMap.forall { case (k, v) => find(k.toInt) == v },
      "ranks_cover_docs" -> (ranks.length == size.docs &&
        ranks.forall(r => !r.isNullAt(1) && r.getLong(1) >= 0)),
      "pairs_verified" -> pairs.forall(r => r.getLong(0) < r.getLong(1) &&
        r.getDouble(2) >= Gen.DupThreshold),
      "predictions_distinct" -> (preds.map(_.getLong(0)).toSet.size == preds.length &&
        preds.nonEmpty),
      "weights_bounded" -> (weights.length > 1))
    val digest = Workload.digest(
      weights.map("w" + Workload.rowString(_)) ++ preds.map("p" + Workload.rowString(_)) ++
        pairs.map("e" + Workload.rowString(_)) ++ labels.map("l" + Workload.rowString(_)) ++
        ranks.map("r" + Workload.rowString(_)))
    val tp = found.count(corpus.dupPairs.contains)
    val acc = preds.count(r => r.getLong(1) == r.getLong(3)).toDouble / math.max(1, preds.length)
    lastAccuracy = acc
    PassOut(seconds, digest, checks,
      (tp.toLong, found.size.toLong, corpus.dupPairs.size.toLong),
      Map("dedup.lsh_pairs.pairs" -> found.size.toDouble))
  }

  def report(passes: Seq[PassOut], ops: Ops): Seq[(String, Double, String)] = {
    val (tp, pred, tot) = passes.last.quality
    Seq(
      ("dedup_pair_precision", if (pred > 0) tp.toDouble / pred else 0.0, "share"),
      ("dedup_pair_recall", if (tot > 0) tp.toDouble / tot else 0.0, "share"),
      ("lr_accuracy", lastAccuracy, "share"),
      ("max_chain_depth", corpus.chainDepths.max.toDouble, "docs"))
  }
}
