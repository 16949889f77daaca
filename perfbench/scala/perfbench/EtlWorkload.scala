package perfbench

import graft.etl.{Clean, Golden, Match, Pipeline, Stats}
import graft.functions.GraftFunctions
import graft.io.{JdbcSink, ParquetSink, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import java.nio.file.Path
import java.sql.{DriverManager, SQLException}
import scala.collection.mutable

/** The paper's pipeline from files to loaded tables: ABR XML and WET
  * files are parsed, cleaned, block-matched and unified, then the
  * matches and golden records are MERGE-loaded into a fresh embedded
  * Derby database and the cleaned ABR is written as partitioned
  * parquet. The warm-up pass runs the same stages over a smaller input
  * generated from the same seed. */
final class EtlWorkload(spark: SparkSession, seed: Long) extends Workload {
  private var dir: Path = _
  private var truth: Gen.EtlTruth = _
  private var warmTruth: Gen.EtlTruth = _

  def records: Long = Gen.EtlMeasured.abr + Gen.EtlMeasured.web

  def setup(d: Path): Unit = {
    dir = d
    truth = Gen.etl(seed, d.resolve("in"), Gen.EtlMeasured)
    warmTruth = Gen.etl(seed, d.resolve("warm"), Gen.EtlWarmup)
  }

  private val MatchCols = Seq("crawl_url", "crawl_name", "abn", "abr_name",
    "fuzzy_score", "llm_score", "final_score", "match_method")
  private val DimCols = Seq("abn", "company_name", "trading_name",
    "entity_type_desc", "entity_status", "state", "postcode", "industry",
    "domain", "website_url", "match_confidence_score", "data_source")
  private val Doubles = Set("fuzzy_score", "llm_score", "final_score",
    "match_confidence_score")

  private def ddl(table: String, cols: Seq[String], key: String): String =
    s"CREATE TABLE $table (" + cols.map { c =>
      val t = if (Doubles(c)) "DOUBLE" else if (c == key) "VARCHAR(400) NOT NULL" else "VARCHAR(400)"
      s"$c $t"
    }.mkString(", ") + s", PRIMARY KEY ($key))"

  private def freshDb(n: Int): String = {
    val url = s"jdbc:derby:memory:perfbench_etl_$n;create=true"
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().execute(ddl("matches", MatchCols, "crawl_url"))
      c.createStatement().execute(ddl("dim_companies", DimCols, "abn"))
    } finally c.close()
    url
  }

  private def dropDb(n: Int): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:perfbench_etl_$n;drop=true").close()
    catch { case _: SQLException => () } // a successful drop reports as an exception

  private def query(url: String, sql: String): Seq[Seq[AnyRef]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val k = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[Seq[AnyRef]]
      while (rs.next()) out += (1 to k).map(rs.getObject)
      out.toSeq
    } finally c.close()
  }

  private def load(url: String, matches: DataFrame, dim: DataFrame,
      abrClean: DataFrame, out: Path, ops: Ops, tr: Tracing): Unit = {
    val (mSql, mOrder) = JdbcSink.mergeTemplate("matches", "crawl_url", MatchCols)
    val (dSql, dOrder) = JdbcSink.mergeTemplate("dim_companies", "abn", DimCols)
    tr.span("io.jdbc_upsert") {
      ops("jdbc_upsert")(JdbcSink.writeBatched(matches.select(MatchCols.map(col): _*), url, mSql, mOrder))
      ops("jdbc_upsert")(JdbcSink.writeBatched(dim.select(DimCols.map(col): _*), url, dSql, dOrder))
    }
    tr.span("io.parquet_write") {
      ops("parquet_write")(ParquetSink.writePartitioned(abrClean, out.toString, Seq("state_std")))
    }
  }

  /** RunStats-shaped counts of one pass. */
  private case class Counts(ccExtracted: Long, abrExtracted: Long,
      ccCleaned: Long, abrCleaned: Long, matches: Long, unified: Long)

  def pass(tr: Tracing, ops: Ops, n: Int, warmup: Boolean): PassOut = {
    val in = dir.resolve(if (warmup) "warm" else "in")
    val abrGlob = in.resolve("abr").toString + "/*.xml"
    val wetGlob = in.resolve("wet").toString + "/*.wet.gz"
    val pq = dir.resolve(s"out/abr_clean_$n")
    val sw = new Stopwatch
    val url = freshDb(n)
    try {
      val layer = mutable.Map.empty[String, Double]
      val counts = tr match {
        case NoTrace =>
          val abrRaw = ops("abr_entities")(Sources.abrEntities(spark, abrGlob))
          val webRaw = ops("web_companies")(Sources.webCompanies(spark, wetGlob))
            .withColumnRenamed("url", "crawl_url")
          val res = ops("pipeline_run")(Pipeline.run(webRaw, abrRaw, runId = s"pass$n"))
          load(url, res.matches, res.dim, res.abrCleaned, pq, ops, tr)
          val s = res.stats
          Counts(s.ccExtracted, s.abrExtracted, s.ccCleaned, s.abrCleaned,
            s.matchesFound, s.unifiedCount)
        case _ =>
          // the same stages, each output materialized inside its span
          val abrRaw = tr.span("io.abr_parse")(
            tr.materialize(ops("abr_entities")(Sources.abrEntities(spark, abrGlob))))
          val webRaw = tr.span("io.wet_parse")(tr.materialize(
            ops("web_companies")(Sources.webCompanies(spark, wetGlob))
              .withColumnRenamed("url", "crawl_url")))
          val web = tr.span("etl.clean_web")(tr.materialize(ops("clean_web")(Clean.web(webRaw))))
          val abr = tr.span("etl.clean_abr")(tr.materialize(
            ops("clean_abr")(Clean.abr(abrRaw)).filter(col("is_valid_abn"))))
          val cands = tr.span("etl.candidates")(tr.materialize(
            ops("candidates")(Match.candidates(web, abr)).select("crawl_norm", "abr_norm")))
          val scoreT0 = System.nanoTime()
          tr.span("functions.token_sort_ratio")(ops("token_sort_ratio")(cands.agg(
            sum(GraftFunctions.token_sort_ratio(col("crawl_norm"), col("abr_norm")))).collect()))
          val scoreS = (System.nanoTime() - scoreT0) / 1e9
          val matches = tr.span("etl.match")(tr.materialize(ops("match")(Match.run(web, abr))))
          val dim = tr.span("etl.golden")(tr.materialize(ops("golden")(
            Golden.dimCompanies(Golden.matchedCompanies(matches, web, abr), abr))))
          tr.span("etl.stats")(ops("stats")(Stats.matchStatistics(web, abr, matches).collect()))
          load(url, matches, dim, abr, pq, ops, tr)
          val c = Counts(webRaw.count(), abrRaw.count(), web.count(), abr.count(),
            matches.count(), dim.count())
          val nc = cands.count().toDouble
          layer ++= Map(
            "io.abr_parse.records" -> c.abrExtracted.toDouble,
            "io.wet_parse.records" -> c.ccExtracted.toDouble,
            "etl.match.candidate_pairs" -> nc,
            "etl.match.matches_per_candidate" -> (if (nc > 0) c.matches / nc else 0.0),
            "functions.token_sort_ratio.pairs_per_s" -> nc / scoreS,
            "io.jdbc_upsert.rows" -> (c.matches + c.unified).toDouble,
            "io.parquet_write.rows" -> c.abrCleaned.toDouble)
          c
      }
      val seconds = sw.seconds
      check(url, pq, if (warmup) warmTruth else truth, counts, layer.toMap, seconds)
        .copy(warmup = warmup)
    } finally {
      dropDb(n)
      Workload.deleteTree(pq)
    }
  }

  private def check(url: String, pq: Path, truth: Gen.EtlTruth, c: Counts,
      layer: Map[String, Double], seconds: Double): PassOut = {
    val m = query(url, "SELECT crawl_url, abn, final_score, match_method FROM matches")
    val d = query(url, "SELECT abn, company_name, trading_name, state, " +
      "match_confidence_score, data_source FROM dim_companies")
    val pqRows = spark.read.parquet(pq.toString).count()
    val tp = m.count(r => truth.planted.get(r(0).toString).contains(r(1).toString))
    val checks = Seq(
      "cc_extracted" -> (c.ccExtracted == truth.webAu),
      "abr_extracted" -> (c.abrExtracted == truth.abrParsed),
      "cc_cleaned" -> (c.ccCleaned == truth.webAu),
      "abr_cleaned" -> (c.abrCleaned == truth.abrCleanExpected),
      "derby_matches_rows" -> (m.size == c.matches),
      "derby_dim_rows" -> (d.size == c.unified),
      "parquet_rows" -> (pqRows == c.abrCleaned),
      "matched_abns_valid" -> m.forall(r => Gen.abnValid(r(1).toString)),
      "matches_found" -> (c.matches > 0))
    val digest = Workload.digest(m.map(r => ("m" +: r).mkString("\u0001")) ++
      d.map(r => ("d" +: r).mkString("\u0001")) :+ c.toString)
    PassOut(seconds, digest, checks, (tp.toLong, m.size.toLong, truth.planted.size.toLong), layer)
  }

  def report(passes: Seq[PassOut], ops: Ops): Seq[(String, Double, String)] = {
    val (tp, pred, tot) = passes.last.quality
    Seq(
      ("match_precision", if (pred > 0) tp.toDouble / pred else 0.0, "share"),
      ("match_recall", if (tot > 0) tp.toDouble / tot else 0.0, "share"),
      ("input_mb", truth.inputBytes / 1e6, "MB"))
  }
}
