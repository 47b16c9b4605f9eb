package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.grafttest.Bus
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan-shape census: for every (or each named) catalog query, builds
  * and executes it once (so AQE finalizes) under `Bus.capture`, so the
  * executions that run while the DataFrame is built — eager pins, gate
  * probes, driver collects — are seen as well as the action:
  *  - `<name>.txt` holds the action's formatted plan;
  *  - `<name>.exec<k>.txt` holds the k-th build-time execution's plan, in
  *    the order the executions finished;
  *  - `<label>.logical.txt` holds each execution's optimized logical
  *    plan. Unlike the final physical plan, it does not depend on which
  *    adaptive query stage finished first; `scripts/compare_plans.py`
  *    diffs it, with the initial physical plan tree, across two dumps;
  *  - `_summary.txt` holds one census line per execution (`<name>.exec<k>`
  *    lines first, then `<name>` for the action): Exchange nodes, join
  *    strategies, windows, sorts and scans.
  *
  * Run: sbt 'Test/runMain graft.DumpPlans <sfDir> <outDir> [names...]'
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <sfDir> <outDir> [names...]")
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    Files.createDirectories(outDir)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // QueryStageExec wraps its subtree in `plan` (children is Nil), so a
    // children-only walk sees nothing below the first stage boundary
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: (kids ++ p.subqueries).flatMap(walk)
    }
    // writes the execution's plans to <label>.txt and <label>.logical.txt
    // and returns its census line
    def dump(label: String, qe: QueryExecution): String = {
      Files.writeString(outDir.resolve(s"$label.txt"), qe.explainString(FormattedMode))
      Files.writeString(outDir.resolve(s"$label.logical.txt"), qe.optimizedPlan.toString)
      val nodes = walk(finalPlan(qe.executedPlan)).map(_.nodeName)
      def c(sub: String) = nodes.count(_.contains(sub))
      f"$label%-40s exch=${c("Exchange")}%2d bcast=${c("BroadcastExchange")}%2d " +
        f"smj=${c("SortMergeJoin")}%2d bhj=${c("BroadcastHashJoin")}%2d shj=${c("ShuffledHashJoin")}%2d " +
        f"bnlj=${c("BroadcastNestedLoop")}%2d cart=${c("CartesianProduct")}%2d " +
        f"win=${c("Window")}%2d sort=${c("Sort")}%2d scan=${c("Scan")}%2d"
    }

    val summary = new StringBuilder
    names.foreach { n =>
      try {
        val (df, qes) = Bus.capture(spark) {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.collect()
          df
        }
        val builds = qes.filterNot(_ eq df.queryExecution)
        val lines = builds.zipWithIndex.map { case (qe, k) => dump(s"$n.exec$k", qe) } :+
          dump(n, df.queryExecution)
        lines.foreach { line =>
          summary.append(line).append('\n')
          println(s"[plans] $line")
        }
      } catch {
        case e: Throwable =>
          println(s"[plans] $n FAILED: ${e.getMessage}")
          summary.append(s"$n FAILED\n")
      }
    }
    Files.writeString(outDir.resolve("_summary.txt"), summary.toString)
    spark.stop()
  }
}
