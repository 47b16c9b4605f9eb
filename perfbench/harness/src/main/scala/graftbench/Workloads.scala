package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum}

import graft.SparkEntry
import graft.api.{ChartRender, Procurement, SqlTools}
import graft.operators.ann.BruteForceKNN
import graft.operators.dedup.{ExactDedup, MinHashDedup}
import graft.operators.sample.Packing
import graft.operators.text.TextStats
import graft.sources.Snapshot

/** A workload runs one pass at a time; `pass` is called with the pass index. */
trait Workload {
  def pass(r: Runner, p: Int): Unit
}

/** The procurement agent's tool calls, one closed-loop client. Each pass
  * runs one block of calls from the seed-drawn plan (`agent_plan` in perfbench/oracle.py).
  */
final class AgentSession(spark: SparkSession, snap: Snapshot, planFile: String) extends Workload {
  private val blocks: IndexedSeq[IndexedSeq[JsonNode]] =
    new ObjectMapper().readTree(new File(planFile)).path("blocks").elements().asScala
      .map(_.elements().asScala.toIndexedSeq).toIndexedSeq

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def filtered(c: JsonNode): DataFrame =
    Procurement.filterRange(snap.orders, "o_orderdate", c.path("from").asText, c.path("until").asText,
      Map("o_orderstatus" -> strs(c.path("statuses"))))

  /** Decodes a rendered chart (driver-side post-processing): its size, and
    * the bytes' digest so repeated calls must render identically.
    */
  private def png(x: Runner#Ctx, bytes: Array[Byte]): Result = x.post {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    Result(Seq("width", "height", "sha1"),
      Seq(Seq(Canon.cell(img.getWidth.toLong), Canon.cell(img.getHeight.toLong), Canon.cell(Canon.sha1(bytes)))))
  }

  def pass(r: Runner, p: Int): Unit = blocks(p % blocks.size).foreach { c =>
    val kind = c.path("kind").asText
    r.op(kind, c.path("key").asText) { x =>
      kind match {
        case "search" => x.rows(Procurement.insights(
          Procurement.keywordSearch(snap.part, "p_name",
            c.path("concepts").elements().asScala.map(strs).toSeq), "p_retailprice"))
        case "bar" => x.rows(Procurement.barAgg(filtered(c), "o_orderpriority", "o_totalprice"))
        case "pie" => x.rows(Procurement.pieAgg(filtered(c), "o_orderstatus"))
        case "trend" => x.rows(Procurement.monthlyTrend(filtered(c), "o_orderdate", "o_totalprice"))
        case "hist" => x.rows(Procurement.histogramMonth(filtered(c), "o_orderdate"))
        case "insights" => x.rows(Procurement.insights(filtered(c), "o_totalprice"))
        case "sql" => x.rows {
          Procurement.registerIntermediary(filtered(c), Some("agent_view"))
          SqlTools.run(snap, c.path("sql").asText)
        }
        case "validate" =>
          val v = x.act(SqlTools.validate(spark, c.path("sql").asText))
          Result(Seq("valid"), Seq(Seq(Canon.cell(v.valid))))
        case "schema" => x.rows(snap.schemaReport)
        case "knn" => x.rows {
          val e = snap.embeddings
          val ids = c.path("ids").elements().asScala.map(_.asLong: Any).toSeq
          BruteForceKNN.topK(e.where(col("vec_id").isin(ids: _*)), e,
            "vec_id", "embedding", "vec_id", "embedding", c.path("k").asInt)
        }
        case "chart_bar" =>
          val df = x.build(Procurement.barAgg(filtered(c), "o_orderpriority", "o_totalprice"))
          png(x, x.act(ChartRender.barChartPng(df, "o_orderpriority", "total_budget")))
        case "chart_pie" =>
          val df = x.build(Procurement.pieAgg(filtered(c), "o_orderstatus"))
          png(x, x.act(ChartRender.pieChartPng(df, "o_orderstatus", "n_packages")))
        case "chart_line" =>
          val df = x.build(Procurement.monthlyTrend(filtered(c), "o_orderdate", "o_totalprice"))
          png(x, x.act(ChartRender.lineChartPng(df, "month", Seq("total_budget", "n_packages"))))
        case "chart_hist" =>
          val df = x.build(Procurement.histogramMonth(filtered(c), "o_orderdate"))
          png(x, x.act(ChartRender.histogramPng(df, "month_num", "n_packages")))
        case other => throw new IllegalArgumentException(s"unknown call kind $other")
      }
    }
  }
}

/** The training-data pipeline over a generated corpus: exact dedup →
  * MinHash dedup → quality filter → packed parquet shards. Each stage's
  * output is cached by the harness so the stage can be timed and checked.
  */
final class CorpusPipeline(spark: SparkSession, dataDir: String, outDir: String) extends Workload {
  private val corpus = spark.read.parquet(s"$dataDir/corpus.parquet")
  private def ids(df: DataFrame): Seq[String] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq.map(Canon.cell)

  def pass(r: Runner, p: Int): Unit = {
    var cached = List.empty[DataFrame]
    def keep(dn: (DataFrame, Long)): (DataFrame, Long) = { cached ::= dn._1; dn }
    var exact: DataFrame = null
    var near: DataFrame = null
    var good: DataFrame = null
    r.op("stage", "exact") { x =>
      val (e, n) = keep(x.materialize(x.build(ExactDedup.dedupe(corpus, "doc_id", "text"))))
      exact = e
      Result(Seq("n"), Seq(Seq(Canon.cell(n))))
    }
    r.op("stage", "minhash") { x =>
      val (m, n) = keep(x.materialize(x.build(MinHashDedup.dedupe(exact, "doc_id", "text"))))
      near = m
      val removed = x.check(ids(exact.join(m, Seq("doc_id"), "left_anti")))
      Result(Seq("n", "removed"), Seq(Seq(Canon.cell(n), removed.mkString("a:[", ",", "]"))))
    }
    r.op("stage", "quality") { x =>
      val (q, n) = keep(x.materialize(x.build(
        TextStats.qualityFilter(near, "doc_id", "text", CorpusPipeline.MinScore, CorpusPipeline.MinWords))))
      good = q
      val kept = x.check(ids(q))
      Result(Seq("n", "kept"), Seq(Seq(Canon.cell(n), kept.mkString("a:[", ",", "]"))))
    }
    r.op("stage", "write") { x =>
      val path = s"$outDir/shards"
      val rows = x.build(near.join(good.select("doc_id", "n_words"), "doc_id"))
      x.act(Packing.writeShards(rows, "doc_id", col("n_words"), CorpusPipeline.ShardTokens, path))
      x.rec.writeFiles = x.post(new File(path).listFiles().filter(_.isDirectory)
        .map(_.listFiles().count(_.getName.endsWith(".parquet")).toLong).sum)
      val back = x.check(spark.read.parquet(path)
        .agg(count(lit(1)), sum(col("doc_id")), countDistinct(col("shard_id"))).head())
      x.check(cached.foreach(_.unpersist(true)))
      Result(Seq("n", "id_sum", "shards"), Seq(back.toSeq.map(Canon.cell)))
    }
  }
}

object CorpusPipeline {
  val MinScore = 0.25
  val MinWords = 10L
  val ShardTokens = 250000L
}

/** A named set of catalog queries, seed-shuffled each pass, every result
  * collected and checked against its DuckDB oracle.
  */
final class StatsReport(spark: SparkSession, dataDir: String, seed: Long) extends Workload {
  def pass(r: Runner, p: Int): Unit =
    new scala.util.Random(seed * 1000003L + p).shuffle(StatsReport.Queries).foreach { q =>
      r.op("query", q)(_.rows(SparkEntry.queries(q)(spark, dataDir)))
    }
}

object StatsReport {
  val Queries: Seq[String] = Seq(
    "q_graph_bfs", "q_kruskal_wallis", "q_weighted_median", "q_outliers_mad",
    "q_percentiles", "q_deciles", "q1_pricing_summary", "q_part_revenue_by_brand")
}
